package graft.ops

import graft.Memo.TruncateOps
import graft.etl.Feeds
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float], 64-dim):
  * brute-force cosine top-k as the exact baseline, IVF (nearest-centroid
  * cells) as the scale path, and embedding near-dup detection.
  *
  * Determinism across engines: embeddings are quantized to integer
  * micro-units (round(x·10⁶)), so dot products and norms are EXACT int64
  * arithmetic; the only floating-point step is the final
  * double(dot)/sqrt(double(na²)·double(nb²)) — a fixed operation sequence on
  * identical inputs, hence bit-identical in Spark and DuckDB.
  *
  * Scale design: queries and centroids are broadcast; candidate generation
  * for IVF is an equi-join on centroid_id (hash join, no cross product).
  * Brute force is O(|Q|·N) with broadcast Q — the right baseline; IVF cuts
  * the candidate set per query to one cell. At 100 TB the same plan holds
  * with bucketed cells.
  */
object Vectors {

  // -------------------------------------------------------------------
  // The scoring core. Every ANN, IVF, PQ, near-dup and monitor path
  // composes these helpers, so each rule the oracle pins — the cosine
  // score, the rank rule, what reaches a rank window — is written once.
  // They are plain DataFrame functions, so Catalyst optimizes the same
  // composed plan the inline copies built.
  // -------------------------------------------------------------------

  /** A scorer's query side: (query_id, extra…, q_qv, qa2). */
  private def querySide(emb: DataFrame, extra: Column*): DataFrame =
    side(emb, "query_id", "q_qv", "qa2", extra)

  /** A scorer's candidate side: (cand_id, extra…, c_qv, ca2). */
  private def candSide(emb: DataFrame, extra: Column*): DataFrame =
    side(emb, "cand_id", "c_qv", "ca2", extra)

  private def side(emb: DataFrame, id: String, qv: String, n2: String,
                   extra: Seq[Column]): DataFrame =
    emb.select((col("vec_id").as(id) +: extra) ++
               Seq(col("qv").as(qv), col("n2").as(n2)): _*)

  /** A cell list (vec_id, centroid_id) as a query side with vectors. */
  private def queryCells(cells: DataFrame, emb: DataFrame): DataFrame =
    cells.select(col("vec_id").as("query_id"), col("centroid_id"))
      .join(querySide(emb), Seq("query_id"))

  /** A cell list (vec_id, centroid_id) as a candidate side with vectors. */
  private def candCells(cells: DataFrame, emb: DataFrame): DataFrame =
    cells.select(col("vec_id").as("cand_id"), col("centroid_id"))
      .join(candSide(emb), Seq("cand_id"))

  /** The cosine score of (q_qv, qa2) × (c_qv, ca2) pairs: the codegen
    * int-dot ([[graft.expr.VecDotQ]] — exactly the HOF
    * aggregate(zip_with(...)) semantics, compiled, so the interpreted
    * higher-order evaluation stays off the hot path), then the one
    * floating-point step, which the oracle repeats bit for bit. */
  private def cosine(pairs: DataFrame): DataFrame =
    pairs.withColumn("dot", graft.expr.VecDotQ(col("q_qv"), col("c_qv")))
      .withColumn("score", expr(
        "CAST(dot AS DOUBLE) / sqrt(CAST(qa2 AS DOUBLE) * CAST(ca2 AS DOUBLE))"))

  /** Brute force: every `queries` vector (broadcast) scored against every
    * `cands` vector but itself. */
  private def exactScores(queries: DataFrame, cands: DataFrame): DataFrame =
    cosine(broadcast(querySide(queries))
      .join(candSide(cands), col("cand_id") =!= col("query_id")))

  /** Blocked search: query and candidate sides that share `key` (an IVF
    * cell, an LSH bucket, a label) scored pairwise, self excluded. */
  private def blockScores(q: DataFrame, c: DataFrame, key: String): DataFrame =
    cosine(q.join(c, Seq(key)).where(col("cand_id") =!= col("query_id")))

  /** The rank rule: per query, the best `by` first, ties to the smaller
    * `id` — the tiebreak the oracle's windows use. */
  private def rankOf(by: Column, id: String): Column =
    row_number().over(Window.partitionBy("query_id").orderBy(by, col(id)))

  /** What reaches a score window: the query id, the ranked `id`, the
    * `keep` columns and the score — never a vector. Scoring is map-side,
    * so the window's shuffle then moves ~24-byte rows instead of two
    * 64-long arrays (~1 KB); with the arrays carried through, the N·k
    * ranking shuffled ~40 GB at 8× and q_ivfpq_topk ran 28× instead of
    * ~2×. */
  private def shed(scored: DataFrame, id: String, keep: Seq[String]): DataFrame =
    scored.select(("query_id" +: id +: keep :+ "score").map(col): _*)

  /** Every scored `id` with its rank `rn` under its query. */
  private def ranked(scored: DataFrame, id: String, keep: String*): DataFrame =
    shed(scored, id, keep).withColumn("rn", rankOf(col("score").desc, id))

  /** Each query's best-scoring `id` (rn = 1). */
  private[graft] def nearest(scored: DataFrame, id: String,
                             keep: String*): DataFrame =
    ranked(scored, id, keep: _*).where(col("rn") === 1)

  /** Each query's `k` best-scoring candidates:
    * (query_id, cand_id, keep…, score, rnk). */
  private[graft] def topK(scored: DataFrame, k: Int, keep: String*): DataFrame =
    shed(scored, "cand_id", keep)
      .withColumn("rnk", rankOf(col("score").desc, "cand_id").cast("long"))
      .where(col("rnk") <= k)

  /** ADC ranking: per (query, candidate) the sum of its `d2` table
    * lookups, each query's `k` smallest: (query_id, cand_id, adc_d2, rnk).
    * Only codes and distances reach it, never a vector. */
  private def adcTopK(lookups: DataFrame, k: Int): DataFrame =
    lookups.groupBy("query_id", "cand_id")
      .agg(sum("d2").as("adc_d2"))
      .withColumn("rnk", rankOf(col("adc_d2"), "cand_id").cast("long"))
      .where(col("rnk") <= k)

  /** Near-dup flag over each vector's nearest candidate. */
  private def dupsOf(scored: DataFrame, threshold: Double,
                     keep: String*): DataFrame =
    nearest(scored, "cand_id", keep: _*)
      .select((col("query_id").as("vec_id") +: col("cand_id").as("nn_vec_id")
               +: keep.map(col)) :+ col("score"): _*)
      .withColumn("is_dup", col("score") >= threshold)

  /** The deterministic fixed-budget draw: the `n` vectors with the
    * smallest md5(vec_id). Order-free and cross-engine stable — both
    * engines render the bigint and hash it identically. */
  private def md5Sample(emb: DataFrame, n: Int): DataFrame =
    emb.select(col("vec_id"), col("qv"), col("n2"),
               md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(n)
      .select("vec_id", "qv", "n2")

  // -------------------------------------------------------------------
  // Hyperparameters PINNED IN LOCKSTEP with the DuckDB oracle. The oracle
  // (DocsOracleSql / Oracle) unrolls these as literals — `% 50` in
  // ann_scores/pq_dtab, `rn <= 2` in ivfpq_ranked, `rnk <= 10` in
  // ivfpq_rerank, `/ 3` in the recall queries, TWO unrolled Lloyd rounds
  // in pq_cb1/pq_cb — so changing a default here WITHOUT regenerating the
  // oracle text silently desynchronizes the correctness gate. One source
  // of truth per value on the Spark side; the oracle must follow.
  // -------------------------------------------------------------------
  /** Served-query subset modulus: vec_id % 50 == 0 is "a query". */
  private[graft] val QueryMod = 50
  /** The query-subset predicate, hoisted so the computed paths and the
    * persisted-index paths can never silently diverge. */
  private[graft] def isQuery(id: Column): Column = id % QueryMod === 0
  /** Default probe-list width of the multi-probe serving paths. */
  private[graft] val DefaultNProbe = 2
  /** Default top-k of the IVF/IVF-PQ serving paths. */
  private[graft] val DefaultK = 3
  /** Default ADC shortlist width of the two-stage rerank. */
  private[graft] val DefaultKCand = 10
  /** Lloyd training rounds (IVF k-means AND the PQ sub-codebooks). */
  private[graft] val LloydIters = 2

  /** Quantized embeddings with precomputed squared norm. Input needs
    * vec_id, label, embedding(Array[Float]). */
  def quantizedOf(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))")
          .as("qv"))
      .withColumn("n2", graft.expr.VecDotQ(col("qv"), col("qv")))

  def quantized(spark: SparkSession, dir: String): DataFrame =
    quantizedOf(Feeds.table(spark, dir, "embeddings"))

  /** Per-label squared-norm histogram in power-of-2 buckets (bucket =
    * [[ilog2]] of n2) — the embedding-space health check an
    * ANN serving stack watches for norm drift: a re-embedded batch whose
    * norms land in different buckets than the index means the quantizer
    * (and every cached dot-product threshold) is stale. Purely map-side
    * bucketing into one partial-agg groupBy on the tiny (label, bucket)
    * key; min/max only — no norm sums that could overflow at scale. */
  def normHistOf(quantized: DataFrame): DataFrame =
    quantized
      .select(col("label"),
        ilog2(col("n2")).as("bucket"),
        col("n2"))
      .groupBy("label", "bucket")
      .agg(count(lit(1)).as("n_vecs"),
           min("n2").as("min_n2"), max("n2").as("max_n2"))

  /** Metadata-FILTERED brute-force cosine top-k: candidates restricted to
    * the query's own label — the filtered-search contract every vector
    * store ships (search only `lang='en'`, only this tenant, …). The
    * filter lives in the JOIN CONDITION, not a post-filter, so the
    * blocked/IVF variants inherit it as a label-partitioned candidate
    * set; it ranks through [[topK]] like every other scorer here. */
  def annCosineTopKFiltered(spark: SparkSession, dir: String,
                            k: Int = 5): DataFrame = {
    val emb = quantizedCached(spark, dir)
    val q = broadcast(querySide(emb.where(isQuery(col("vec_id"))),
                                col("label").as("q_label")))
    val c = candSide(emb, col("label").as("c_label"))
    topK(cosine(q.join(c, col("cand_id") =!= col("query_id") &&
                          col("q_label") === col("c_label"))), k, "q_label")
      .select(col("query_id"), col("q_label").as("label"),
              col("cand_id"), col("score"), col("rnk"))
  }

  /** Label-agreement@k of the exact cosine top-k: per query label, the
    * ppm fraction of retrieved neighbors sharing the query's label — the
    * embedding-quality readout that catches a bad embedding version
    * BEFORE recall monitors do (recall compares an index to brute force;
    * agreement compares brute force to ground-truth labels). Composes
    * the memoized top-k with two label equi-joins and one partial-agg
    * rollup on the label key. The label frame is corpus-sized, so it is
    * NOT broadcast-hinted — the top-k side is the small one (queries×k
    * rows), and AQE picks the broadcast direction accordingly; hinting
    * the corpus side would collect every vector's label to the driver. */
  def annLabelAgreement(spark: SparkSession, dir: String): DataFrame = {
    val labels = quantizedCached(spark, dir).select("vec_id", "label")
    annCosineTopK(spark, dir)
      .join(labels.select(col("vec_id").as("query_id"),
                          col("label").as("q_label")),
            Seq("query_id"))
      .join(labels.select(col("vec_id").as("cand_id"),
                          col("label").as("c_label")),
            Seq("cand_id"))
      .groupBy(col("q_label").as("label"))
      .agg(countDistinct("query_id").as("n_queries"),
           count(lit(1)).as("n_hits"),
           count(when(col("c_label") === col("q_label"), lit(1)))
             .as("n_same"))
      .select(col("label"), col("n_queries"), col("n_hits"), col("n_same"),
        expr("CAST(n_same * 1000000 DIV n_hits AS BIGINT)")
          .as("agreement_ppm"))
  }

  /** IVF cell-balance report: per-cell vector counts with ppm share and a
    * balance factor (1e6 = perfectly even; a cell at 8e6 holds 8× its
    * fair share) — the serving-health readout that predicts probe-path
    * tail latency: lookups landing in a bloated cell pay its whole
    * candidate list. Partial-agg rollup of the memoized assignment plus a
    * 1-row broadcast total — constant output at any corpus size. */
  def ivfCellBalance(spark: SparkSession, dir: String): DataFrame = {
    val sizes = ivfAssign(spark, dir)
      .groupBy("centroid_id").agg(count(lit(1)).as("n_vecs"))
    val tot = sizes.agg(sum("n_vecs").as("n_total"),
                        count(lit(1)).as("n_cells"))
    sizes.crossJoin(broadcast(tot))
      .select(col("centroid_id"), col("n_vecs"),
        expr("CAST(n_vecs * 1000000 DIV n_total AS BIGINT)")
          .as("share_ppm"),
        expr("CAST(n_vecs * n_cells * 1000000 DIV n_total AS BIGINT)")
          .as("balance_ppm"))
  }

  // Memoized per (session, dir) in [[graft.Caches]], like Dedup's grains:
  // the quantized frame, the IVF cell ranking, the LSH-bucketed frame and
  // the trained PQ codebook are each built ONCE, persisted and owned by
  // their grain ([[graft.Memo.pin]]), and shared by every ANN consumer.
  // Same STALE-READ CONTRACT as every registry grain.
  //
  // Names are `vectors.<what>/<dial>` — the tag names WHAT the frame is
  // (exact top-k, trained centroids, ADC ranking, sampled grain) and the
  // dial its parameter (k / iters / sampleN), so two dials never alias.
  // r18 packed these into one hand-offset Int (9·2^20+iters, ...), where
  // an out-of-range caller value silently collided into a frame with a
  // different schema (r18 ADVICE).
  private[graft] def quantizedCached(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "vectors.quantized") {
      graft.Memo.pin(quantized(spark, dir))
    }

  private def ivfCellsCached(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "vectors.ivf-cells") {
      graft.Memo.pin(ivfCellsOf(quantizedCached(spark, dir)))
    }

  /** Brute-force cosine top-5 for the deterministic query subset
    * (vec_id % 50 == 0). */
  // r18: the exact brute-force top-k grain, keyed by k — the ground-truth
  // table EIGHT monitors consume (recall/MRR/rank-stability/label-
  // agreement/mutual-kNN/components/probe-cmp/ingest-recall), each of
  // which re-ran the eval×corpus scoring per call without the memo. In
  // production the exact-truth table is computed once per release and
  // read by every eval job; the memo plays that role in-session. Output
  // is |eval set|·k rows — tiny next to its build.
  def annCosineTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    graft.Caches.grain(spark, dir, s"vectors.exact-topk/$k") {
      annCosineTopKOf(quantizedCached(spark, dir), k).truncated
    }

  /** Frame-based core of [[annCosineTopK]] (fixture-testable). */
  def annCosineTopKOf(emb: DataFrame, k: Int = 5): DataFrame =
    topK(exactScores(emb.where(isQuery(col("vec_id"))), emb), k)

  /** The deterministic seed centroids (vec_id % 40 == 0) as an `id`-keyed
    * centroid set (id, c_qv, ca2). */
  private def seedCentroids(emb: DataFrame, id: String): DataFrame =
    side(emb.where(col("vec_id") % 40 === 0), id, "c_qv", "ca2", Nil)

  /** The deterministic coarse-quantizer set. */
  private def ivfCentroidsOf(emb: DataFrame): DataFrame =
    seedCentroids(emb, "centroid_id")

  /** Per-vector centroid ranking (broadcast centroids, ties broken by
    * centroid id). rn = 1 is the IVF cell assignment; rn ≤ nprobe is the
    * probe list. */
  private def ivfCellsOf(emb: DataFrame): DataFrame =
    ivfCellsOf(emb, ivfCentroidsOf(emb))

  /** Cell ranking against an EXPLICIT centroid set — the incremental
    * ingest path assigns new vectors against the persisted quantizer
    * rather than re-deriving centroids from the (unavailable) corpus. */
  private def ivfCellsOf(emb: DataFrame, cents: DataFrame): DataFrame =
    ranked(cosine(querySide(emb).join(broadcast(cents))), "centroid_id")

  /** IVF cell assignment: each vector's nearest centroid. */
  def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    ivfCellsCached(spark, dir)
      .where(col("rn") === 1)
      .select(col("query_id").as("vec_id"), col("centroid_id"), col("score"))

  /** IVF probe search: top-3 within the query's own cell. */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = DefaultK): DataFrame = {
    // both consumed twice (query side + candidate side) — memoized frames
    val assign = ivfAssign(spark, dir).select("vec_id", "centroid_id")
    val emb = quantizedCached(spark, dir)
    val q = queryCells(assign.where(isQuery(col("vec_id"))), emb)
    topK(blockScores(broadcast(q), candCells(assign, emb), "centroid_id"), k)
  }

  /** Nearest-centroid assignment for a (cell, c_qv, ca2) centroid set. */
  private def assignTo(emb: DataFrame, cents: DataFrame): DataFrame =
    nearest(cosine(querySide(emb).join(broadcast(cents))), "cell")
      .select(col("query_id").as("vec_id"), col("cell"), col("score"))

  /** IVF centroid TRAINING: `iters` Lloyd rounds from the deterministic
    * seed subset (vec_id % 40 == 0), then the final assignment.
    *
    * Determinism across engines: member vectors are int64-quantized, the
    * per-cell mean is computed as exact integer sums then RE-QUANTIZED
    * (round(sum/count) per dimension — one IEEE-exact double division +
    * round on identical operands), so every iteration's centroids are
    * identical integer vectors in Spark and DuckDB and cosine assignment
    * reuses the exact int-dot scoring. Scale shape: assignment is a
    * broadcast of k centroids (map-side, one pass); the update is one
    * (cell, dim) partial-agg shuffle — the standard distributed Lloyd
    * step. Empty cells drop out, like any k-means. */
  def kmeansAssign(spark: SparkSession, dir: String,
                   iters: Int = LloydIters): DataFrame = {
    val emb = quantizedCached(spark, dir)
    // r18: the TRAINED centroids are memoized + checkpointed (k rows) —
    // the lazily-composed Lloyd rounds otherwise re-execute on every
    // call/pass of each consumer (the assignment query AND the drift
    // monitor); production trains once and serves the centroid table.
    val cents = graft.Caches.grain(spark, dir, s"vectors.km-cents/$iters") {
      lloydTrain(emb, emb, iters).truncated
    }
    assignTo(emb, cents)
  }

  /** `iters` exact-integer Lloyd rounds: seed from `train`'s % 40 members,
    * assign `train` each round, update in integer fixed-point. Shared by
    * the full and sampled trainers (identical arithmetic, different
    * training sets). */
  private def lloydTrain(train: DataFrame, seedFrom: DataFrame,
                         iters: Int): DataFrame = {
    var cents = seedCentroids(seedFrom, "cell")
    for (_ <- 1 to iters) {
      val assign = assignTo(train, cents).select("vec_id", "cell")
      val sums = assign
        .join(train.select(col("vec_id"), col("qv")), "vec_id")
        .select(col("cell"), posexplode(col("qv")).as(Seq("dim", "v")))
        .groupBy("cell", "dim")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
      cents = sums
        .withColumn("c",
          expr("CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), x -> x.c)")
          .as("c_qv"))
        .withColumn("ca2", graft.expr.VecDotQ(col("c_qv"), col("c_qv")))
    }
    cents
  }

  /** SAMPLED-training k-means assignment — the production shape of
    * [[kmeansAssign]] (r14 verdict task 5). The full trainer's Lloyd
    * rounds assign the WHOLE corpus against a centroid set that itself
    * grows with the corpus (seed = vec_id % 40), so training cost is
    * quadratic in N (64× probe: 65.9) — it stays as the documented exact
    * baseline. Production trains on a FIXED budget: the `sampleN`
    * vectors with the smallest md5(vec_id) (the same deterministic draw
    * as the sampled kNN monitor), seeds from the sample's % 40 members
    * (bounded by the budget), runs the SAME exact-integer Lloyd rounds
    * on the sample, then assigns the full corpus ONCE against the
    * trained centroids. Per-round cost is |sample|·k (constant in N);
    * the only corpus-sized stage is the final broadcast-centroid
    * assignment — one linear map-side pass.
    *
    * Determinism: identical integer-centroid arithmetic as
    * [[kmeansAssign]] (exact int sums, one IEEE division + round per
    * dim), over a sample both engines select identically — oracle-green
    * by the same argument, no float drift surface. The sample frame is
    * memoized per (session, dir, sampleN) so the Lloyd rounds' repeated
    * consumption reads cached blocks. */
  def kmeansAssignSampled(spark: SparkSession, dir: String,
                          iters: Int = LloydIters,
                          sampleN: Int = 4096): DataFrame = {
    val emb = quantizedCached(spark, dir)
    val cents = graft.Caches.grain(spark, dir,
        s"vectors.km-cents-sampled/$sampleN/$iters") {
      // keyed by sampleN: the memoized frame IS the sample, so two
      // budgets must not alias to one entry
      val samp = graft.Caches.grain(spark, dir, s"vectors.km-sample/$sampleN") {
        graft.Memo.pin(md5Sample(emb, sampleN))
      }
      lloydTrain(samp, samp, iters).truncated
    }
    assignTo(emb, cents)
  }

  /** Sampled-vs-full TRAINER drift: the fraction of the corpus the
    * sampled-training assignment ([[kmeansAssignSampled]]) routes to the
    * same cell as the full trainer ([[kmeansAssign]]) — the monitor that
    * justifies shipping the sampled path: production swaps trainers only
    * while agreement stays high, and a drop below the house bar says the
    * sample stopped representing the corpus (distribution shift) before
    * any downstream recall metric moves. One vec_id equi-join over two
    * assignment frames + a 1-row integer fold; all the cost is in the
    * assignments themselves. ppm-exact integers, so bit-stable
    * cross-engine. */
  def kmeansSampleDrift(spark: SparkSession, dir: String): DataFrame = {
    val full = kmeansAssign(spark, dir)
      .select(col("vec_id"), col("cell").as("cell_full"))
    val samp = kmeansAssignSampled(spark, dir)
      .select(col("vec_id"), col("cell").as("cell_samp"))
    full.join(samp, "vec_id")
      .agg(count(lit(1)).as("n_vecs"),
           sum(when(col("cell_full") === col("cell_samp"), lit(1L))
             .otherwise(lit(0L))).as("n_same"))
      .select(col("n_vecs"), col("n_same"),
        expr("CAST(n_same * 1000000 DIV n_vecs AS BIGINT)").as("same_ppm"))
  }

  /** Multi-probe IVF: each query searches its `nprobe` nearest cells
    * instead of one — the standard recall/cost dial (recall lost to
    * boundary effects comes back at ~nprobe× candidate cost). Candidates
    * stay uniquely assigned (rn = 1), so no dedup is needed; the probe
    * list is still an equi-join on centroid_id — same 100 TB shape as
    * single-probe. */
  def ivfTopKProbed(spark: SparkSession, dir: String, k: Int = DefaultK,
                    nprobe: Int = DefaultNProbe): DataFrame = {
    val cells = ivfCellsCached(spark, dir)
      .select(col("query_id").as("vec_id"), col("centroid_id"), col("rn"))
    val emb = quantizedCached(spark, dir)
    val q = queryCells(cells.where(col("rn") <= nprobe)
      .where(isQuery(col("vec_id"))), emb)
    val c = candCells(cells.where(col("rn") === 1), emb)
    topK(blockScores(broadcast(q), c, "centroid_id"), k)
  }

  /** Brute-force cosine top-k on the RAW float vectors via the native
    * codegen expression [[graft.expr.VecDotF]] — the performance path.
    *
    * Oracle contract: float dot-product accumulation order is
    * engine-specific, so the raw score is NOT part of the output; the
    * checked result is the RANK SET (query_id, cand_id, rnk), which must
    * equal the int64-quantized exact top-k's ranks. That holds whenever
    * adjacent candidates' score gap exceeds the ~1e-6 relative quantization
    * error — by orders of magnitude true for real embedding distributions
    * (observed adjacent gaps ≳1e-3 on the test tables). */
  def annCosineTopKFast(spark: SparkSession, dir: String,
                        k: Int = 5): DataFrame = {
    import graft.expr.VecFunctions.vec_dot
    val emb = Feeds.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", vec_dot(col("embedding"), col("embedding")))
    val q = broadcast(emb.where(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
              col("n2").as("qa2")))
    val c = emb.select(col("vec_id").as("cand_id"),
                       col("embedding").as("c_emb"), col("n2").as("ca2"))
    val scored = q.join(c, col("cand_id") =!= col("query_id"))
      .withColumn("score",
        vec_dot(col("q_emb"), col("c_emb")) / sqrt(col("qa2") * col("ca2")))
    topK(scored, k).select("query_id", "cand_id", "rnk")
  }

  /** Persist the IVF index in the warehouse, bucketed on `centroid_id` —
    * the 100 TB ANN serving shape: the cell assignment joined back to the
    * quantized vectors is written once via
    * [[graft.catalog.Warehouse.bucketedOverwrite]], and the query probe
    * lists are bucketed the same way, so every subsequent probe join is
    * co-located by bucket — NO Exchange at query time (asserted in
    * VectorsMultimodalSpec). Two tables:
    *  - `<db>.ivf_index`:  (cand_id, centroid_id, c_qv, ca2)
    *  - `<db>.ivf_probes`: (query_id, centroid_id, q_qv, qa2)
    *    (the deterministic query subset, vec_id % 50 == 0) */
  def ivfIndexTo(wh: graft.catalog.Warehouse, spark: SparkSession,
                 dir: String, db: String = "ann", nBuckets: Int = 8): Unit =
    ivfIndexToOf(wh, quantizedCached(spark, dir), db, nBuckets)

  /** Frame-generic index build. Alongside the bucketed index and probe
    * tables it persists the centroid set as `<db>.ivf_centroids` (the
    * coarse quantizer — k rows, flat) so INCREMENTAL ingest
    * ([[ivfIndexAppend]]) can assign new vectors without the original
    * corpus, exactly like a FAISS index stores its quantizer. */
  def ivfIndexToOf(wh: graft.catalog.Warehouse, emb: DataFrame,
                   db: String = "ann", nBuckets: Int = 8): Unit = {
    val cents = ivfCentroidsOf(emb)
    wh.overwrite(db, "ivf_centroids", cents)
    for ((table, rows) <- ivfIndexRows(emb, cents))
      wh.bucketedOverwrite(db, table, rows, "centroid_id", nBuckets)
  }

  /** The two served IVF tables for `emb` assigned against `cents`, in
    * write order: every vector's `ivf_index` row (cand_id, centroid_id,
    * c_qv, ca2) and the query subset's `ivf_probes` row (query_id,
    * centroid_id, q_qv, qa2). */
  private def ivfIndexRows(emb: DataFrame,
                           cents: DataFrame): Seq[(String, DataFrame)] = {
    val assign = ivfCellsOf(emb, cents).where(col("rn") === 1)
      .select(col("query_id").as("vec_id"), col("centroid_id"))
    def withVectors(a: DataFrame): DataFrame =
      a.join(emb.select(col("vec_id"), col("qv"), col("n2")), "vec_id")
    Seq("ivf_index" -> candSide(withVectors(assign), col("centroid_id")),
        "ivf_probes" -> querySide(withVectors(assign.where(isQuery(col("vec_id")))),
                                  col("centroid_id")))
  }

  /** INCREMENTAL vector ingest — the ANN analog of the dedup band-index
    * increment check: today's embeddings are assigned against the
    * PERSISTED coarse quantizer (broadcast-sized; the original corpus is
    * never read) and appended to the bucketed index with the SAME bucket
    * spec ([[graft.catalog.Warehouse.bucketedAppend]]), so the serving
    * probe join stays co-located over original ∪ appended files
    * (plan-asserted). Centroids are FROZEN by design — the standard IVF
    * deployment contract; periodic re-training is a full
    * [[ivfIndexToOf]] rebuild. BOTH served tables get the increment: its
    * vectors append to `ivf_index` (candidate side) and its query-subset
    * rows ([[isQuery]]) to `ivf_probes` — appending only the candidates
    * would silently serve a stale query set that never includes ingested
    * vectors. Result ≡ a full build over base ∪ increment with the base
    * centroid set, for BOTH tables (spec-asserted). */
  def ivfIndexAppend(wh: graft.catalog.Warehouse, inc: DataFrame,
                     db: String = "ann", nBuckets: Int = 8): Unit = {
    for ((table, rows) <- ivfIndexRows(quantizedOf(inc), wh.read(db, "ivf_centroids")))
      wh.bucketedAppend(db, table, rows, "centroid_id", nBuckets)
  }

  /** The co-located probe join over the persisted bucketed index — both
    * sides pre-bucketed on centroid_id, so the planned join has no
    * Exchange. Exposed separately from [[ivfTopKIndexed]] for plan-shape
    * assertions (the top-k window after it legitimately repartitions by
    * query_id). */
  def ivfProbeJoin(wh: graft.catalog.Warehouse,
                   db: String = "ann"): DataFrame =
    blockScores(wh.readTable(db, "ivf_probes"), wh.readTable(db, "ivf_index"),
                "centroid_id")

  /** IVF top-k served from the bucketed warehouse index — same results as
    * [[ivfTopK]], but candidate generation reads pre-bucketed parquet with
    * zero shuffle before scoring. */
  def ivfTopKIndexed(wh: graft.catalog.Warehouse, db: String = "ann",
                     k: Int = DefaultK): DataFrame =
    topK(ivfProbeJoin(wh, db), k)

  /** Embedding near-dup blocked by IVF cell — the corpus-scale shape of
    * [[nearDup]]: every vector's candidates are the vectors sharing its
    * nearest-centroid cell (a plain hash equi-join on centroid_id, no
    * label oracle needed and no all-pairs), nearest neighbor within the
    * cell, threshold flag. Vectors alone in their cell emit no row (no
    * candidates — same semantics both engines). Boundary misses are the
    * standard IVF recall trade; the multi-probe dial ([[ivfTopKProbed]])
    * applies unchanged if higher recall is needed. */
  def nearDupIvf(spark: SparkSession, dir: String,
                 threshold: Double = 0.90): DataFrame = {
    val assign = ivfAssign(spark, dir).select("vec_id", "centroid_id")
    val emb = quantizedCached(spark, dir)
    dupsOf(blockScores(queryCells(assign, emb), candCells(assign, emb),
                       "centroid_id"), threshold)
  }

  /** Deterministic random-hyperplane coefficients for cosine LSH: 8
    * hyperplanes × 64 dims, each coefficient in [-8, 7] from the first
    * md5 nibble of "b_d" — the oracle derives the identical values with
    * SQL md5 (`rh_planes` CTE), so bucket assignment is engine-exact.
    * Embedded as a literal so the per-row expression does no hashing. */
  private lazy val planesLit: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def c(b: Int, d: Int): Int = {
      val hex = md.digest(s"${b}_$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      "0123456789abcdef".indexOf(hex.charAt(0)) - 8 // = strpos(...) - 9
    }
    (0 until 8).map(b => (0 until 64).map(d =>
      s"CAST(${c(b, d)} AS BIGINT)").mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
  }

  /** 8-bit random-hyperplane signature (classic cosine LSH / SimHash for
    * vectors): bit b = sign of the dot product with hyperplane b, folded
    * MSB-first into one integer bucket. Two vectors collide with
    * probability (1 - θ/π)^8 — near-identical embeddings almost surely
    * share the bucket. Map-side only. */
  private def rhBucketExpr: String =
    s"""aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, b) ->
          acc * 2 + CASE WHEN aggregate(
              zip_with(qv, element_at($planesLit, b + 1), (x, c) -> x * c),
              CAST(0 AS BIGINT), (s, v) -> s + v) > 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""

  /** Embedding near-dup blocked by random-hyperplane LSH bucket — needs
    * neither labels ([[nearDup]]) nor trained centroids ([[nearDupIvf]]):
    * the blocking key is a pure function of the vector itself, so it
    * composes with streaming ingestion (no model state). 8 bits = 256
    * buckets; at corpus scale widen the signature and band it exactly like
    * [[Dedup.simhash64PairsOf]] — the bucket join is the only shuffle. */
  def nearDupLsh(spark: SparkSession, dir: String,
                 threshold: Double = 0.90): DataFrame = {
    // the interpreted HOF bucket expression is the expensive part — built
    // once per (session, dir) and shared by both join sides
    val emb = graft.Caches.grain(spark, dir, "vectors.lsh") {
      graft.Memo.pin(quantizedCached(spark, dir)
        .withColumn("bucket", expr(rhBucketExpr)))
    }
    dupsOf(blockScores(querySide(emb, col("bucket")), candSide(emb, col("bucket")),
                       "bucket"), threshold)
  }

  /** Embedding near-dup: nearest same-label neighbor per vector with an
    * is_dup threshold flag (label join = blocking; [[nearDupIvf]] is the
    * at-scale variant using IVF cells as the blocking key, [[nearDupLsh]]
    * the model-free one using random-hyperplane buckets). */
  def nearDup(spark: SparkSession, dir: String,
              threshold: Double = 0.90): DataFrame = {
    val emb = quantizedCached(spark, dir)
    dupsOf(blockScores(querySide(emb, col("label")), candSide(emb, col("label")),
                       "label"), threshold, "label")
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ): 64-dim vectors → M=4 subspaces × 16 dims.
  // The memory-compression half of a production ANN index (IVF-PQ): each
  // vector is stored as M small codes instead of 64 floats, and queries
  // scan candidates with an asymmetric-distance (ADC) lookup table instead
  // of full dot products. Jégou et al., "Product Quantization for Nearest
  // Neighbor Search", TPAMI 2011 — public method, re-expressed Spark-first.
  // Determinism: all distances are EXACT int64 arithmetic on the quantized
  // vectors (d² = |s|² + |c|² − 2·s·c via the codegen VecDotQ kernel — the
  // oracle computes Σ(sᵢ−cᵢ)² directly; identical integers), ties break by
  // codebook id, so codes and ADC ranks are bit-stable cross-engine.
  // ---------------------------------------------------------------------
  private val pqM = 4
  private val pqSubDim = 16

  /** Per-subspace view: one row per (vec_id, m) with the m-th subvector and
    * its squared norm. Map-side only (array slice + codegen dot). */
  private def pqSubOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(expr(
        s"""transform(sequence(0, ${pqM - 1}),
              j -> slice(qv, j * $pqSubDim + 1, $pqSubDim))"""))
        .as(Seq("m", "sub")))
      .withColumn("m", col("m").cast("long"))
      .withColumn("sn2", graft.expr.VecDotQ(col("sub"), col("sub")))

  /** Codebook SEEDS: the subvectors of the deterministic sample
    * (vec_id % 32 == 0, capped at id < 512 ⇒ k' = 16 entries max) are the
    * initial per-subspace centroid set; codes are the sample's vec_id. k'
    * is a FIXED hyperparameter (real PQ uses 256): without the cap the
    * codebook would grow with the corpus and the O(N·k') encode would
    * silently turn O(N²/32) — the 8× probe caught exactly that. */
  private def pqSeedsOf(pqSub: DataFrame): DataFrame =
    pqSub.where(col("vec_id") % 32 === 0 && col("vec_id") < 512)
      .select(col("m"), col("vec_id").as("cb_id"),
              col("sub").as("csub"), col("sn2").as("cn2"))

  /** Lloyd-TRAINED sub-codebooks — [[kmeansAssign]]'s exact-arithmetic
    * scheme run per subspace: `iters` rounds of (a) argmin assignment of
    * every subvector to its nearest sub-centroid (squared L2, the same
    * partial-aggregable min(struct) as [[pqEncode]]) and (b) per-(m, code,
    * dim) integer-sum means RE-QUANTIZED (round(sum/count) — one
    * IEEE-exact double division + round on identical operands), so every
    * round's centroids are identical integer vectors in Spark and DuckDB
    * and codes stay bit-stable cross-engine. Seeds that lose all members
    * drop out, like any k-means. Scale shape: assignment broadcasts k'·M
    * centroids (map-side); the update is one (m, code, dim) partial-agg
    * shuffle over the TRAINING SAMPLE only at 100 TB (here the full frame
    * — at this SF the corpus IS sample-sized). */
  private def pqCodebookTrainedOf(pqSub: DataFrame,
                                  iters: Int = LloydIters): DataFrame = {
    var cb = pqSeedsOf(pqSub)
    for (_ <- 1 to iters) {
      val codes = pqEncode(pqSub, cb).select("vec_id", "m", "code")
      cb = codes
        .join(pqSub.select(col("vec_id"), col("m"), col("sub")),
              Seq("vec_id", "m"))
        .select(col("m"), col("code").as("cb_id"),
                posexplode(col("sub")).as(Seq("dim", "v")))
        .groupBy("m", "cb_id", "dim")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .withColumn("c",
          expr("CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)"))
        .groupBy("m", "cb_id")
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), x -> x.c)")
          .as("csub"))
        .withColumn("cn2", graft.expr.VecDotQ(col("csub"), col("csub")))
    }
    cb
  }

  private def pqD2(sn2: Column, cn2: Column, a: Column, b: Column): Column =
    sn2 + cn2 - lit(2L) * graft.expr.VecDotQ(a, b)

  /** PQ ENCODE: each (vector, subspace) maps to its nearest sub-centroid.
    * The codebook (k' entries per subspace) broadcasts; the argmin is a
    * partial-aggregable min(struct(d², cb_id)) — map-side combine, one
    * shuffle of (vec_id, m) groups, no window sort. At 100 TB this is the
    * one-pass encode that turns 256 B/vector into M bytes. */
  private def pqEncode(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("m"))
      .withColumn("d2", pqD2(col("sn2"), col("cn2"), col("sub"), col("csub")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("cb_id"))).as("best"))
      .select(col("vec_id"), col("m"),
              col("best.cb_id").as("code"), col("best.d2").as("d2"))

  def pqCodesOf(emb: DataFrame): DataFrame = {
    val sub = pqSubOf(emb)
    pqEncode(sub, pqCodebookTrainedOf(sub))
  }

  /** The trained codebook is tiny (M·k' rows) but its training lineage is
    * 2·iters joins/aggs over the full sub frame — memoized + persisted per
    * (session, dir) so encode, the ADC distance table and the IVF-PQ
    * composition all broadcast the SAME materialized codebook instead of
    * re-running the training chain per use. */
  private def pqCbCached(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "vectors.pq-codebook") {
      graft.Memo.pin(pqCodebookTrainedOf(pqSubOf(quantizedCached(spark, dir))))
    }

  // r18: the PQ code table and the per-query distance table are THE
  // serving-index artifacts (written once per build in production) and
  // feed five query families (codes, flat ADC, IVF-PQ, rerank, recall) —
  // memoized + checkpointed like the other grains.
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "vectors.pq-codes") {
      pqEncode(pqSubOf(quantizedCached(spark, dir)), pqCbCached(spark, dir))
        .truncated
    }

  private def pqDtabCached(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "vectors.pq-dtab") {
      pqDtabOf(pqSubOf(quantizedCached(spark, dir)), pqCbCached(spark, dir))
        .truncated
    }

  /** PQ ADC top-k: the query set (vec_id % 50 == 0) precomputes one
    * distance-table row per (query, subspace, codebook entry) — |Q|·M·k'
    * rows, broadcast — and every candidate's approximate distance is the
    * SUM OF M TABLE LOOKUPS on its codes (the equi-join on (m, code)),
    * never a vector op. That's the scan shape that makes PQ fast at scale:
    * the big side touches only its codes; partial aggregation sums the M
    * lookups map-side before the (query, cand) shuffle. */
  /** Query→codebook distance table for the deterministic query set
    * (vec_id % 50 == 0): |Q|·M·k' rows keyed (query_id, cm, code) —
    * broadcast-sized by construction. */
  private def pqDtabOf(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.where(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("m"),
              col("sub").as("qsub"), col("sn2").as("qn2"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("d2", pqD2(col("qn2"), col("cn2"), col("qsub"), col("csub")))
      .select(col("query_id"), col("m").as("cm"),
              col("cb_id").as("code"), col("d2"))

  private def adcRank(codes: DataFrame, dtab: DataFrame,
                      k: Int): DataFrame =
    adcTopK(codes.join(broadcast(dtab), Seq("cm", "code"))
      .where(col("cand_id") =!= col("query_id")), k)

  def pqAdcTopKOf(emb: DataFrame, k: Int = 5): DataFrame = {
    // one sub/codebook lineage shared by the encode and the distance table
    // (the embeddings scan + slice-explode + dot kernel plans once)
    val sub = pqSubOf(emb)
    val cb = pqCodebookTrainedOf(sub)
    val codes = pqEncode(sub, cb)
      .select(col("vec_id").as("cand_id"), col("m").as("cm"), col("code"))
    adcRank(codes, pqDtabOf(sub, cb), k)
  }

  def pqAdcTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    // r18: memoized like the exact grain — the ADC ranking feeds both its
    // own query and the rank-stability monitor, and |eval|·k rows are
    // tiny next to the encode+lookup scoring they pay per call otherwise.
    graft.Caches.grain(spark, dir, s"vectors.adc-topk/$k") {
      val codes = pqCodes(spark, dir)
        .select(col("vec_id").as("cand_id"), col("m").as("cm"), col("code"))
      adcRank(codes, pqDtabCached(spark, dir), k).truncated
    }

  /** IVF-PQ — the two halves composed, i.e. the production ANN serving
    * shape (FAISS's default index family): IVF cell blocking prunes the
    * CANDIDATE SET (equi-join on centroid_id, same as [[ivfTopK]]), PQ ADC
    * prunes the COST PER CANDIDATE (M table lookups on the codes, never a
    * vector op). MULTI-PROBE by default (nprobe = 2, the [[ivfTopKProbed]]
    * dial applied to the composition): each query's probe list is its
    * `nprobe` nearest cells, recovering the boundary recall a single-cell
    * probe loses at ~nprobe× candidate cost — candidates stay uniquely
    * assigned (rn = 1), so a (query, cand) pair matches at most one probed
    * cell and no dedup is needed. At 100 TB the probe touches nprobe
    * cells' codes — M bytes per candidate — and nothing else; the full
    * vectors exist only to rerank a final shortlist (not modeled here).
    * Oracle: identical to restricting the all-pairs ADC ranking to
    * candidates whose cell is in the query's probe list. */
  def ivfPqTopK(spark: SparkSession, dir: String, k: Int = DefaultK,
                nprobe: Int = DefaultNProbe): DataFrame = {
    val cells = ivfCellsCached(spark, dir)
    val codes = pqCodes(spark, dir)
      .select(col("vec_id").as("cand_id"), col("m").as("cm"), col("code"))
    val dtab = pqDtabCached(spark, dir)
    val qCell = cells.where(col("rn") <= nprobe)
      .where(isQuery(col("query_id")))
      .select(col("query_id"), col("centroid_id"))
    val cCell = cells.where(col("rn") === 1)
      .select(col("query_id").as("cand_id"), col("centroid_id"))
    adcTopK(broadcast(qCell).join(cCell, Seq("centroid_id"))
      .where(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id")
      .join(codes, Seq("cand_id"))
      .join(broadcast(dtab), Seq("query_id", "cm", "code")), k)
  }

  /** Two-stage serving: ADC SHORTLIST → EXACT RERANK — the production
    * composition every IVF-PQ deployment ends with (the PQ codes rank a
    * cheap shortlist of `kCand` candidates; only those `kCand` rows touch
    * the full vectors for exact scoring). At 100 TB the rerank join reads
    * |Q|·kCand full vectors — thousands of rows — while the scan stage
    * still never touches a vector; this is why the code table can be 64×
    * smaller than the vector table and recall still recovers: ADC only
    * has to get the true neighbors INTO the shortlist, not order them.
    * Exact int64 scoring (same kernel as [[annCosineTopK]]) keeps the
    * rerank bit-stable cross-engine. */
  def ivfPqRerank(spark: SparkSession, dir: String,
                  kCand: Int = DefaultKCand, k: Int = DefaultK): DataFrame = {
    val shortlist = ivfPqTopK(spark, dir, kCand, nprobe = DefaultNProbe)
      .select("query_id", "cand_id")
    val emb = quantizedCached(spark, dir)
    topK(cosine(shortlist.join(querySide(emb), Seq("query_id"))
                         .join(candSide(emb), Seq("cand_id"))), k)
  }

  /** Persist the IVF-PQ index in the warehouse: codes (one row per
    * candidate × subspace, carrying the candidate's IVF cell) and the
    * query probe list, BOTH bucketed on centroid_id via
    * [[graft.catalog.Warehouse.bucketedOverwrite]] — so the serving-time
    * probe⋈codes join is co-located with no Exchange (spec-asserted),
    * exactly like [[ivfIndexTo]] but storing M 1-byte-class codes per
    * vector instead of the 64-dim vectors. This is what an ANN index
    * LOOKS LIKE on disk at 100 TB: the code table is ~64× smaller than
    * the vector table, and a probe reads one bucket of it. */
  def pqIndexTo(wh: graft.catalog.Warehouse, spark: SparkSession,
                dir: String, db: String = "ann", nBuckets: Int = 8,
                nprobe: Int = DefaultNProbe): Unit = {
    val cells = ivfCellsCached(spark, dir)
    wh.bucketedOverwrite(db, "pq_codes",
      cells.where(col("rn") === 1).select(
          col("query_id").as("vec_id"), col("centroid_id"))
        .join(pqCodes(spark, dir), "vec_id")
        .select(col("vec_id").as("cand_id"), col("centroid_id"),
                col("m").as("cm"), col("code")),
      "centroid_id", nBuckets)
    // the probe LIST (rn ≤ nprobe), so the served join reproduces the
    // multi-probe ivfPqTopK exactly
    wh.bucketedOverwrite(db, "pq_probes",
      cells.where(col("rn") <= nprobe)
        .where(isQuery(col("query_id")))
        .select(col("query_id"), col("centroid_id")),
      "centroid_id", nBuckets)
  }

  /** The co-located probe⋈codes join over the persisted PQ index — exposed
    * separately for plan-shape assertions (no Exchange: both sides are
    * bucketed on centroid_id). */
  def pqProbeJoin(wh: graft.catalog.Warehouse,
                  db: String = "ann"): DataFrame =
    wh.readTable(db, "pq_probes")
      .join(wh.readTable(db, "pq_codes"), Seq("centroid_id"))
      .where(col("cand_id") =!= col("query_id"))

  /** IVF-PQ top-k served from the bucketed warehouse index — same results
    * as [[ivfPqTopK]], but candidate codes come pre-bucketed off disk (no
    * shuffle before scoring) and only the query-side distance table is
    * computed at query time (broadcast-sized). */
  def ivfPqTopKIndexed(wh: graft.catalog.Warehouse, spark: SparkSession,
                       dir: String, db: String = "ann",
                       k: Int = DefaultK): DataFrame = {
    val sub = pqSubOf(quantizedCached(spark, dir))
    val dtab = pqDtabOf(sub, pqCbCached(spark, dir))
    adcTopK(pqProbeJoin(wh, db)
      .join(broadcast(dtab), Seq("query_id", "cm", "code")), k)
  }

  /** Recall@k of the IVF index against exact brute force, per query — the
    * quality dial every ANN deployment monitors next to its latency.
    * Ground truth is the top-k prefix of the brute-force ranking
    * ([[annCosineTopK]], same deterministic tiebreak); hits = candidates
    * the IVF probe also returned. The left join keeps 0-recall queries
    * (probe landed in the wrong cell) visible instead of silently
    * dropping them. n_hits/k is one IEEE double division on identical
    * operands in both engines — bit-stable. */
  def annRecall(spark: SparkSession, dir: String, k: Int = DefaultK): DataFrame =
    recallOf(annCosineTopK(spark, dir, k), ivfTopK(spark, dir, k), k)

  /** Recall@k of the full IVF-PQ serving path ([[ivfPqTopK]]: multi-probe
    * cell blocking + ADC code ranking) against the same exact ground
    * truth — the composition loses recall BOTH to probe misses and to PQ
    * quantization error, so monitoring plain IVF alone ([[annRecall]])
    * overstates what the production index returns. */
  def ivfPqRecall(spark: SparkSession, dir: String, k: Int = DefaultK): DataFrame =
    recallOf(annCosineTopK(spark, dir, k), ivfPqTopK(spark, dir, k), k)

  private def recallOf(exactTopK: DataFrame, approxTopK: DataFrame,
                       k: Int): DataFrame = {
    val exact = exactTopK.select(col("query_id"), col("cand_id"))
    val approx = approxTopK.select(col("query_id"), col("cand_id"))
    val hits = exact.join(approx, Seq("query_id", "cand_id"))
    val queries = exact.select("query_id").distinct()
    queries.join(hits, Seq("query_id"), "left_outer")
      .groupBy("query_id")
      .agg(count(col("cand_id")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
              (col("n_hits").cast("double") / k).as("recall"))
  }

  /** The multi-probe PAYOFF, measured WITH ITS COST: aggregate recall@k of
    * the IVF probe at nprobe = 1 vs nprobe = 2 against the same exact
    * ground truth, beside the exact number of candidates each setting
    * scores — one row per setting, so the default multi-probe
    * ([[DefaultNProbe]]) reads "recall +X for Y× candidates" in one row
    * instead of an assumed ~2×. `n_candidates` counts the probe join's
    * (query, cand) pairs pre-top-k — assignment rows only (no vector
    * payload touches the count), so the costing join is a few-column
    * broadcast join even at index scale. Everything but `recall` is an
    * exact integer sum/count; recall is one IEEE double division on
    * identical operands — bit-stable cross-engine. */
  def ivfProbeRecallCmp(spark: SparkSession, dir: String,
                        k: Int = DefaultK): DataFrame = {
    val exact = annCosineTopK(spark, dir, k)
    val cells = ivfCellsCached(spark, dir)
      .select(col("query_id").as("vec_id"), col("centroid_id"), col("rn"))
    def row(nprobe: Int): DataFrame = {
      // the candidate set this setting SCORES: each served query's probed
      // cells (rn <= nprobe) joined to every uniquely-assigned (rn = 1)
      // member of those cells, self excluded — exactly ivfTopKProbed's
      // pair set before ranking
      val q = cells.where(col("rn") <= nprobe && isQuery(col("vec_id")))
        .select(col("vec_id").as("query_id"), col("centroid_id"))
      val c = cells.where(col("rn") === 1)
        .select(col("vec_id").as("cand_id"), col("centroid_id"))
      val nCand = broadcast(q).join(c, Seq("centroid_id"))
        .where(col("cand_id") =!= col("query_id"))
        .agg(count(lit(1)).as("n_candidates"))
      recallOf(exact, ivfTopKProbed(spark, dir, k, nprobe), k)
        .agg(count(lit(1)).as("n_queries"), sum("n_hits").as("total_hits"))
        .crossJoin(broadcast(nCand)) // 1-row × 1-row
        .select(lit(nprobe.toLong).as("nprobe"), col("n_queries"),
                col("total_hits"), col("n_candidates"),
                (col("total_hits").cast("double") /
                  (col("n_queries") * lit(k.toLong)).cast("double"))
                  .as("recall"))
    }
    row(1).unionByName(row(DefaultNProbe))
  }

  /** INGEST-DRIFT recall monitor for the frozen-quantizer path — the
    * operational risk [[ivfIndexAppend]] carries at 100 TB. The hazard it
    * models is the one that actually degrades served recall in production:
    * an EMBEDDING-MODEL UPDATE. New batches arrive embedded by model v2
    * while the index still stores the base corpus as v1 vectors (and the
    * quantizer was trained on v1) — the classic mixed-version index.
    * Scoring a v2 query against stale v1 candidates mis-ranks them against
    * what a version-consistent corpus view would return, so recall against
    * the CONSISTENT ground truth collapses. A same-space shift cannot show
    * this: recall measures assignment SELF-consistency, which any per-batch
    * isometry preserves exactly (measured: reflecting the whole increment
    * leaves recall statistically flat) — the monitor has to compare the
    * mixed index against the consistent view to be able to say something
    * bad, and this one does (measured at sf0.01: 0.36 no-drift → 0.013
    * drifted at nprobe = 2).
    *
    * Deterministic stand-in for "model v2": reflection (last 32 dims
    * sign-flipped) — an orthogonal transform, so the v2 view preserves the
    * corpus's internal geometry exactly (same true-neighbor structure,
    * same norms; n2 carries over) while being maximally stale-incompatible.
    * Increment = vec_id % 10 == 7 (embedded by v2, appended as-is);
    * monitor queries = vec_id % 20 == 17, a deterministic subsample of the
    * increment (production subsamples the day's batch the same way).
    * Served side = the [[ivfIndexAppend]] state: frozen base-trained
    * centroids, multi-probe ([[DefaultNProbe]]) over base-v1 ∪ inc-v2.
    * Truth side = exact top-k in the consistent v2 view of the whole
    * corpus. `drifted = false` is the no-drift control (all-v1 index, v1
    * truth — the plain multi-probe recall); the spec pins drifted ≪
    * control. Exact int64 scheme throughout — hash-stable vs the oracle. */
  def ivfIngestRecall(spark: SparkSession, dir: String, k: Int = DefaultK,
                      nprobe: Int = DefaultNProbe,
                      drifted: Boolean = true): DataFrame = {
    val emb = quantizedCached(spark, dir)
    // reflection: n2 is preserved (squares don't see the sign), so only qv
    // changes — exact integers in both engines
    val reflected = "concat(slice(qv, 1, 32), transform(slice(qv, 33, 32), v -> -v))"
    def v2(df: DataFrame): DataFrame =
      if (drifted) df.withColumn("qv", expr(reflected)) else df
    val idx = emb.where(col("vec_id") % 10 =!= 7)
      .unionByName(v2(emb.where(col("vec_id") % 10 === 7)))
    val v2All = v2(emb)
    val isMonitorQuery = col("vec_id") % 20 === 17
    // frozen quantizer: % 40 == 0 is base-only by construction (40 ∤ x≡7
    // mod 10), and stored as v1 — exactly the persisted ivf_centroids
    val assign = ivfCellsOf(idx, ivfCentroidsOf(emb))
      .where(col("rn") <= nprobe)
      .select(col("query_id").as("vec_id"), col("centroid_id"), col("rn"))
    val q = queryCells(assign.where(isMonitorQuery), idx)
    val c = candCells(assign.where(col("rn") === 1), idx)
    val served = topK(blockScores(broadcast(q), c, "centroid_id"), k)
    val truth = topK(exactScores(v2All.where(isMonitorQuery), v2All), k)
    recallOf(truth, served, k)
  }

  /** Per-DIMENSION embedding profile: count, exact quantized sum and
    * sum-of-squares, and the integer mean per dimension — the
    * dimension-collapse detector an embedding pipeline runs on every
    * re-embed: a dimension whose variance (readable from sum/sumsq)
    * drops to ~0 is dead, a mean far from 0 flags a normalization bug.
    *
    * Scale shape: posexplode emits |dims| rows per vector but they
    * partial-agg down to |dims| total rows map-side before the single
    * tiny exchange — the classic wide-to-narrow profile. All arithmetic
    * exact BIGINT over the ±1e6-quantized components (sumsq per dim ≤
    * 1e12·N — int64-safe past 10⁶ vectors; widen to DECIMAL(38,0) at
    * larger corpus scale). */
  def embDimProfileOf(quantized: DataFrame): DataFrame =
    quantized
      .select(posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
           sum("q").as("sum_q"),
           sum(expr("q * q")).as("sumsq_q"))
      .withColumn("mean_q", expr("sum_q div n_vecs"))

  /** Embedding ANISOTROPY: ‖Σv‖² / (N · Σ‖v‖²) in ppm — the standard
    * mean-direction concentration readout (≈0 for isotropic embeddings;
    * →1e6 when every vector points the same way, the degenerate "cone"
    * collapse that kills cosine retrieval). Numerator and denominator
    * are EXACT integers: per-dim sums fold in DECIMAL(38,0) (their
    * squares overflow int64 at corpus scale), the DuckDB twin uses
    * HUGEINT, and the final ratio is computed identically in double on
    * both engines from the same exact values.
    *
    * Scale shape: one |dims|-row partial agg (shared shape with
    * [[embDimProfileOf]]) plus a 1-row fold — constant output, no
    * vector ever leaves its partition unaggregated. */
  def embAnisotropyOf(quantized: DataFrame): DataFrame = {
    val dims = quantized
      .select(posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy("dim")
      .agg(sum(expr("CAST(q AS DECIMAL(38,0))")).as("s_d"))
    val centroid = dims.agg(
      sum(expr("s_d * s_d")).as("centroid_norm2_x"))
    val totals = quantized.agg(
      count(lit(1)).as("n_vecs"), sum("n2").as("sum_norm2"))
    totals.crossJoin(centroid) // 1-row × 1-row fold
      .select(col("n_vecs"),
        col("sum_norm2"),
        expr("CAST(centroid_norm2_x AS DOUBLE)").as("centroid_norm2"),
        expr("""CAST(floor(CAST(centroid_norm2_x AS DOUBLE) * 1000000.0
                / (CAST(n_vecs AS DOUBLE) * CAST(sum_norm2 AS DOUBLE)))
                AS BIGINT)""").as("aniso_ppm"))
  }

  /** Per-LABEL cohesion: the [[embAnisotropyOf]] ratio grouped by label —
    * ‖Σ_label v‖² / (N_label · Σ_label ‖v‖²) in ppm. High cohesion means
    * the label's vectors point the same way (a tight class cluster);
    * a label whose cohesion collapses after a re-embed is the class the
    * new encoder broke. Same exact-integer discipline: per-(label, dim)
    * sums fold in DECIMAL(38,0) (≡ DuckDB HUGEINT), one double division
    * per label at the end; output is |labels| rows. */
  def embLabelCohesionOf(quantized: DataFrame): DataFrame = {
    val dims = quantized
      .select(col("label"), posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy("label", "dim")
      .agg(sum(expr("CAST(q AS DECIMAL(38,0))")).as("s_d"))
      .groupBy("label")
      .agg(sum(expr("s_d * s_d")).as("cn2"))
    quantized.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("n2").as("sum_norm2"))
      .join(dims, Seq("label"))
      .select(col("label").cast("long").as("label"),
        col("n_vecs"), col("sum_norm2"),
        expr("CAST(cn2 AS DOUBLE)").as("centroid_norm2"),
        expr("""CAST(floor(CAST(cn2 AS DOUBLE) * 1000000.0
                / (CAST(n_vecs AS DOUBLE) * CAST(sum_norm2 AS DOUBLE)))
                AS BIGINT)""").as("cohesion_ppm"))
  }

  /** PQ DISTORTION per label: the quantization error the compressed index
    * carries — Σ‖v − reconstruct(codes(v))‖² over each label's vectors,
    * published as exact integers plus the ppm ratio against Σ‖v‖² (the
    * relative signal loss; rising distortion on one label after a
    * re-embed or codebook retrain is the class whose ADC ranks degrade
    * first — the readout that pairs with [[embLabelCohesionOf]] and the
    * recall monitors). Exact by construction: [[pqCodesOf]]'s per-
    * subspace d2 is already int64, and Σ over the M subspaces of a
    * vector IS the full squared reconstruction distance (subspaces are
    * disjoint coordinate slices).
    *
    * Scale shape: one (vec_id) partial agg over the M-rows-per-vector
    * codes, one label equi-join, one |labels|-row rollup. */
  def pqDistortionOf(codes: DataFrame, quantized: DataFrame): DataFrame =
    codes.groupBy("vec_id").agg(sum("d2").as("vd2"))
      .join(quantized.select("vec_id", "label", "n2"), Seq("vec_id"))
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
           sum("vd2").as("sum_d2"),
           sum("n2").as("sum_norm2"))
      .withColumn("distortion_ppm",
        // via DECIMAL(38,0): sum_d2·10⁶ can pass int64 at corpus scale
        // (DuckDB side is HUGEINT-exact by default)
        expr("""CAST(CAST(sum_d2 AS DECIMAL(38,0)) * 1000000
                div CAST(sum_norm2 AS DECIMAL(38,0)) AS BIGINT)"""))

  /** Mean reciprocal rank of the IVF-PQ serving path against the exact
    * top-1 — the rank-SENSITIVE eval beside recall@k: recall says whether
    * the true neighbor appears anywhere in the top-k, MRR says WHERE
    * (rank 1 vs rank 3 is the difference users feel). rr = 10⁶ DIV rank
    * in ppm (0 when the true top-1 is missed entirely — the left join
    * keeps those queries in the denominator instead of inflating the
    * mean by dropping them).
    *
    * Scale shape: both inputs are the memoized query-grain top-k frames
    * (queries×k rows); one equi-join + one global fold — constant output.
    * Exact integers end to end. */
  def annMrrOf(exactTopK: DataFrame, approxTopK: DataFrame): DataFrame = {
    val truth = exactTopK.where(col("rnk") === 1L)
      .select("query_id", "cand_id")
    val approx = approxTopK
      .select(col("query_id"), col("cand_id"), col("rnk").as("approx_rnk"))
    truth.join(approx, Seq("query_id", "cand_id"), "left_outer")
      .agg(count(lit(1)).as("n_queries"),
           count(col("approx_rnk")).as("n_found"),
           sum(coalesce(expr("1000000 DIV approx_rnk"), lit(0L)))
             .cast("long").as("sum_rr_ppm"))
      .withColumn("mrr_ppm",
        expr("CAST(sum_rr_ppm DIV n_queries AS BIGINT)"))
  }

  /** kNN-graph MUTUALITY rate: of the exact top-k edges whose candidate
    * is itself a query vector (the evaluable subset — both directions
    * were computed), the ppm fraction that is reciprocated (a ∈ topk(b)
    * ∧ b ∈ topk(a)). Low mutuality flags hubness — a few vectors
    * appearing in everyone's neighbor list while reciprocating nothing —
    * the standard symptom of a degenerate/anisotropic embedding space
    * that breaks kNN-graph consumers (UMAP-style layouts, graph-based
    * dedup, label propagation).
    *
    * Scale shape: composes the memoized exact top-k frame (queries×k
    * rows — query-grain, not corpus-grain); the reciprocal probe is one
    * self-equi-join on the swapped (query, cand) key pair; the fold is a
    * 1-row aggregate. Zero-evaluable degenerates to 0 ppm via the CASE,
    * not a division error. */
  def knnMutualOf(exactTopK: DataFrame): DataFrame = {
    val edges = exactTopK.select("query_id", "cand_id")
    val eval = edges.where(isQuery(col("cand_id")))
    val rev = edges.select(col("cand_id").as("query_id"),
                           col("query_id").as("cand_id"))
      .withColumn("mutual", lit(1L))
    eval.join(rev, Seq("query_id", "cand_id"), "left_outer")
      .agg(count(lit(1)).as("n_eval"),
           count(col("mutual")).as("n_mutual"))
      .select(col("n_eval"), col("n_mutual"),
        expr("""CAST(CASE WHEN n_eval = 0 THEN 0
                     ELSE n_mutual * 1000000 DIV n_eval END AS BIGINT)""")
          .as("mutual_ppm"))
  }

  def knnMutual(spark: SparkSession, dir: String): DataFrame =
    // k = 5, the exact-top-k default: the oracle's ann_cosine_topk CTE is
    // the k=5 list (DefaultK=3 is the IVF SERVING width, not the exact
    // baseline's) — at sf0.01 the two happened to agree (every mutual
    // edge sat within rank 3); sf0.1 exposed the drift
    knnMutualOf(annCosineTopK(spark, dir))

  /** PRINCIPAL-DIRECTION profile: one exact power-iteration step
    * y = Σᵢ (qvᵢ·1) · qvᵢ from the all-ones probe over the
    * integer-quantized vectors, reporting the top-k dimensions by |y| —
    * the anisotropy readout with a DIRECTION: [[embAnisotropyOf]] says how
    * concentrated the space is, this says WHERE (which dimensions carry
    * the rogue common direction that mean-centering / ABTT whitening
    * would remove). All-integer (micro-unit products), so bit-exact
    * cross-engine — no float matrix math.
    *
    * Scale shape: the probe dot is a per-row HOF fold (map-side); the
    * accumulation is posexplode → partial-agg groupBy on the ≤d
    * dimension key (the exchange carries d rows per partition, not per
    * vector); the rank window runs over d rows. Magnitude headroom:
    * |y| ≤ n·d·(10⁶·maxval)² ≈ 4·10¹⁶ at the 20k-vector probe corpus —
    * widen the term sum to DECIMAL(38,0) beyond ~10⁸ vectors. */
  def principalDimsOf(emb: DataFrame, k: Int = 5): DataFrame = {
    val y = emb
      .select(col("qv"),
              expr("aggregate(qv, 0L, (acc, x) -> acc + x)").as("s_i"))
      .select(col("s_i"), posexplode(col("qv")).as(Seq("pos", "v")))
      .select(col("pos").cast("long").as("dim"),
              (col("v") * col("s_i")).as("term"))
      .groupBy("dim")
      .agg(sum("term").cast("long").as("y"))
    y.orderBy(abs(col("y")).desc, col("dim")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(abs(col("y")).desc, col("dim"))).cast("long"))
      .select("dim", "y", "rank")
  }

  /** Semantic clusters over the mutual-kNN graph of the eval-query set:
    * connected components of the edges where a retrieves b AND b
    * retrieves a in their exact cosine top-k — the reciprocity edges
    * [[knnMutualOf]] counts, here materialized and clustered. The output
    * grain is one row per component (min-id label, member count): the
    * semantic-dedup sibling of the text-side cluster-size readout, run
    * on embeddings instead of shingles.
    *
    * Scale shape: the edge list is bounded by |eval set|·k (mutual
    * pairs are a subset of the top-k lists — never all-pairs); component
    * labeling reuses [[Dedup.clustersOf]] (label propagation, O(graph
    * diameter) bounded joins, driver out of the loop); singleton eval
    * vectors are restored by a left-anti-free fill so every eval vector
    * lands in exactly one component. */
  def knnComponentsOf(exactTopK: DataFrame): DataFrame = {
    val edges = exactTopK.select("query_id", "cand_id")
      .where(isQuery(col("cand_id")))
    val rev = edges.select(col("cand_id").as("query_id"),
                           col("query_id").as("cand_id"))
    val pairs = edges.join(rev, Seq("query_id", "cand_id"))
      .where(col("query_id") < col("cand_id"))
      .select(col("query_id").as("doc_a"), col("cand_id").as("doc_b"))
      .distinct()
    val nodes = exactTopK.select(col("query_id").as("doc_id")).distinct()
    val labeled = Dedup.clustersOf(nodes, pairs)
    labeled.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster").cast("long").as("cluster"), col("n_members"))
  }

  def knnComponents(spark: SparkSession, dir: String): DataFrame =
    // k = 5 to match the oracle's exact-top-k CTE (see knnMutual).
    // r18: memoized — the min-label CC loop inside runs eagerly at
    // construction, so an unmemoized call re-ran it per invocation (the
    // r4 recompute class).
    graft.Caches.grain(spark, dir, "vectors.knn-mutual-cc") {
      knnComponentsOf(annCosineTopK(spark, dir))
    }

  /** SAMPLED kNN components — the production monitor sibling of
    * [[knnComponentsOf]] (r14 verdict task 2, mirroring
    * q_lsh_recall_sampled's treatment). The full exact form is the
    * eval×corpus brute-force ground truth — quadratic by definition (64×
    * probe: 93) and kept as the documented baseline; a monitor that runs
    * per-ingest instead takes a FIXED eval budget: the `sampleN` eval
    * vectors with the smallest md5(vec_id) (a deterministic, order-free,
    * cross-engine-stable draw — both engines render the bigint and hash
    * it identically), computes the exact mutual-kNN graph WITHIN the
    * sample, and clusters it. Work is |sample|²·d — CONSTANT in corpus
    * size; the only corpus-sized stages are the eval-subset scan and the
    * md5 top-N (one TakeOrdered, no full sort).
    *
    * Semantics: exact within the sample — neighbor lists are computed
    * against sampled candidates only, so components are the mutual-kNN
    * structure of the sampled subspace (the standard fixed-budget eval
    * protocol), not a subset of the full graph's. */
  def knnComponentsSampledOf(emb: DataFrame, k: Int = 5,
                             sampleN: Int = 1024): DataFrame =
    knnComponentsOf(sampledMutualTopkOf(emb, k, sampleN))

  /** The sampled exact-top-k grain under [[knnComponentsSampledOf]] —
    * split out (r18) so the query form can memoize it as a grain: the
    * |sample|² scoring is the whole cost of the
    * monitor, and the component labeling re-reads the grain for nodes
    * AND edges, so an unpersisted grain is scored twice per call (and
    * once more per repeated call). Keyed by its own tag — never aliases
    * the corpus-wide exact grain. */
  private def sampledMutualTopkOf(emb: DataFrame, k: Int,
                                  sampleN: Int): DataFrame = {
    val s = md5Sample(emb.where(isQuery(col("vec_id"))), sampleN)
    topK(exactScores(s, s), k)
  }

  def knnComponentsSampled(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "vectors.knn-mutual-cc-sampled") {
      knnComponentsOf(graft.Caches.grain(spark, dir,
          "vectors.sampled-mutual-topk/5/1024") {
        sampledMutualTopkOf(quantizedCached(spark, dir), 5, 1024).truncated
      })
    }

  /** Cosine RANGE search count: per eval query, how many corpus vectors
    * sit within cosine ≥ τ — the radius-neighbor census behind
    * density-based dedup thresholds and epsilon-graph construction
    * (top-k asks "the best k"; range asks "how crowded is the ball").
    * The score is the SAME IEEE expression tree as the exact top-k
    * oracle CTE, so the ≥ τ cut decides identically on both engines.
    *
    * Scale shape: eval queries broadcast (QueryMod-bounded) against one
    * corpus scan with the codegen dot kernel; the rollup is a
    * queries-sized partial agg. Queries with an empty ball emit no row
    * (mirrored in the oracle). At corpus scale the same count composes
    * on the IVF-blocked scorer instead of the exact scan. */
  def annRangeCountOf(quantized: DataFrame, tau: Double): DataFrame =
    exactScores(quantized.where(isQuery(col("vec_id"))), quantized)
      .where(col("score") >= tau)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_in_range"))

  def annRangeCount(spark: SparkSession, dir: String,
                    tau: Double = 0.25): DataFrame =
    annRangeCountOf(quantizedCached(spark, dir), tau)


  /** Cosine score histogram of the eval-query pair scores (5%-wide
    * buckets, floor(score·20)) — the similarity-mass profile that sizes
    * range/dedup thresholds BEFORE running them: where [[annRangeCountOf]]
    * answers "how crowded is the τ-ball", this shows the whole mass
    * curve. Bucketing floors an IEEE-identical double, so bucket
    * boundaries decide identically on both engines.
    *
    * Scale shape: same broadcast eval × one corpus scan as the exact
    * baseline; the rollup is a ≤41-bucket partial agg. */
  def cosScoreHistOf(quantized: DataFrame): DataFrame =
    exactScores(quantized.where(isQuery(col("vec_id"))), quantized)
      .select(floor(col("score") * lit(20)).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"))

  /** RANK-stability monitor: per query, discordant pairs between the
    * exact cosine top-k order and the PQ-ADC top-k order, over the
    * candidates BOTH lists retain — the Kendall-tau-style readout that
    * separates "quantization drops items" (small intersection, see
    * [[ivfPqRecall]]) from "quantization reorders items" (inversions
    * inside the intersection, which reranking fixes and recall@k never
    * sees). Ranks on both sides are tie-pinned integers, so the
    * inversion count is bit-stable.
    *
    * Scale shape: both inputs are k-row-per-query frames; the pair join
    * is per-query C(|∩|,2) ≤ C(k,2) — constant per query. */
  def rankStabilityOf(exactTopK: DataFrame, adcTopK: DataFrame): DataFrame = {
    val common = exactTopK.select(col("query_id"), col("cand_id"),
        col("rnk").as("e_rnk"))
      .join(adcTopK.select(col("query_id"), col("cand_id"),
        col("rnk").as("a_rnk")), Seq("query_id", "cand_id"))
    val c1 = common.select(col("query_id"), col("cand_id").as("ca"),
      col("e_rnk").as("ea"), col("a_rnk").as("aa"))
    val c2 = common.select(col("query_id"), col("cand_id").as("cb"),
      col("e_rnk").as("eb"), col("a_rnk").as("ab"))
    c1.join(c2, Seq("query_id"))
      .where(col("cb") > col("ca"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_pairs"),
           sum(when((col("ea") < col("eb")) =!= (col("aa") < col("ab")),
             1L).otherwise(0L)).as("n_discordant"))
  }

  /** SAMPLED rank-stability — the fixed-budget production shape of
    * [[rankStabilityOf]], whose full form COMPOSES the two quadratic
    * exactness baselines (brute-force exact top-k × flat-ADC top-k; 64×
    * probe: 300) and stays the documented monitor-of-record. Here the
    * md5-ranked `sampleN` eval queries (the same deterministic draw as
    * the sampled kNN/k-means siblings) restrict BOTH sides at the
    * source: the exact scorer broadcasts only sampled queries, and the
    * ADC distance table keeps only sampled-query rows before the code
    * join — so each side is |sample|·corpus, linear in N. Per-query
    * output is IDENTICAL to filtering the full monitor to the sample
    * (top-k and ADC ranks are per-query), which is exactly how the
    * oracle expresses it. */
  def rankStabilitySampled(spark: SparkSession, dir: String,
                           sampleN: Int = 256): DataFrame = {
    val emb = quantizedCached(spark, dir)
    val squery = md5Sample(emb.where(isQuery(col("vec_id"))), sampleN)
    val exact = topK(exactScores(squery, emb), 5)
    // r18: rides the memoized code + distance-table grains (identical
    // frames — same sub/codebook lineage) instead of re-encoding per call
    val codes = pqCodes(spark, dir)
      .select(col("vec_id").as("cand_id"), col("m").as("cm"), col("code"))
    val sdtab = pqDtabCached(spark, dir)
      .join(broadcast(squery.select(col("vec_id").as("query_id"))),
            Seq("query_id"))
    rankStabilityOf(exact, adcRank(codes, sdtab, 5))
  }

}
