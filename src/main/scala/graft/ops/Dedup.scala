package graft.ops

import graft.Memo
import graft.Memo.TruncateOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — exact, MinHash+LSH, SimHash,
  * and exact n-gram Jaccard (BASELINE.json north star).
  *
  * Scale design:
  *  - exact dedup = one hash-groupBy shuffle on a 32-byte key (not the doc);
  *  - MinHash: shingle explosion is map-side; the signature groupBy shuffles
  *    (doc_id, seed) pairs only; LSH banding turns the quadratic all-pairs
  *    problem into an equi-join on (band, band_hash) — the only pairs ever
  *    materialized are bucket collisions;
  *  - SimHash: 32 bit-rows per distinct word, two partial-agg groupBys;
  *  - Jaccard is computed exactly only for given candidate pairs.
  * Everything is built-in expressions (md5, higher-order array fns) —
  * portable to the DuckDB oracle and codegen-friendly.
  *
  * `*Of` variants take DataFrames (unit-testable); (spark, dir) variants
  * read the driver's documents.parquet.
  */
object Dedup {

  /** Loud-failure ceiling for the EXACT (guard-off) minhash pair list: a
    * bucket of B docs emits C(B,2) pairs, so 4096 caps any one bucket at
    * ~8.4M pairs — far above every natural bucket at the driver SFs and
    * probe tiers, far below the web-corpus boilerplate buckets that make
    * the dense form quadratic. See [[minhashPairsOf]]. */
  val DenseBucketGate: Int = 4096

  /** Exact dedup: group by md5(normalized text); keeper = min doc_id. */
  def exactOf(docsNorm: DataFrame): DataFrame =
    docsNorm
      .groupBy(md5(col("norm")).as("fp"))
      .agg(min("doc_id").as("keeper_doc_id"),
           count(lit(1)).as("n_dups"))

  def exact(spark: SparkSession, dir: String): DataFrame =
    exactOf(TextOps.docs(spark, dir))

  /** Bag-of-words dedup: fingerprint = md5 of the SORTED token multiset —
    * catches reordered/shuffled duplicates that byte-exact dedup misses
    * (list-scrape and template permutations are the classic web-corpus
    * case) while staying exact, unlike MinHash. Same keeper contract as
    * [[exactOf]].
    *
    * Scale shape: the sort is per-document (array_sort inside the scan,
    * no explode, no extra shuffle) and the groupBy on the 128-bit
    * fingerprint is the same single partial-agg exchange as exact dedup. */
  def bagExactOf(docsWords: DataFrame): DataFrame =
    docsWords
      .groupBy(md5(concat_ws(" ", array_sort(col("words")))).as("fp"))
      .agg(min("doc_id").as("keeper_doc_id"),
           count(lit(1)).as("n_dups"))

  /** LSH candidates verified by EDIT DISTANCE — the near-exact tier
    * between byte-exact dedup and Jaccard near-dup: catches small-patch
    * duplicates (a changed date, one fixed typo) with a guarantee Jaccard
    * can't give. Levenshtein is O(len²) per pair, so it NEVER runs
    * all-pairs — only on the banding candidates, where the pair count is
    * collision-bounded; the two doc-text lookups are doc_id equi-joins.
    * Same verify-the-candidates composition as [[minhashPairsVerified]]. */
  def minhashPairsEditVerifiedOf(pairs: DataFrame, docsNorm: DataFrame,
                                 maxDist: Long = 16L): DataFrame =
    withSides(pairs.select("doc_a", "doc_b"), docsNorm, "norm", "norm_a",
              "norm_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("norm_a"), col("norm_b")).cast("long")
          .as("editdist"))
      .where(col("editdist") <= maxDist)

  /** LSH band-bucket size distribution (power-of-2 buckets per band) —
    * the banding-health readout behind the giant-bucket guard: bucket
    * sizes drive candidate-pair cost quadratically, so a fattening tail
    * here predicts the pair explosion BEFORE the join pays it. Two
    * partial-agg groupBys ((band, hash) → size, (band, ⌊log₂ size⌋) →
    * rollup); output is bands × ~20 buckets at any corpus scale. */
  def minhashBandStatsOf(bands: DataFrame): DataFrame =
    bands
      .groupBy("band", "band_hash").agg(count(lit(1)).as("sz"))
      .select(col("band"),
        ilog2(col("sz")).as("bucket"),
        col("sz"))
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("n_buckets"), sum("sz").as("n_docs"),
           max("sz").as("max_sz"))

  /** Prefix fingerprint dedup: group on md5 of the first `k` tokens —
    * catches common-prefix duplicates that full-body hashing misses (the
    * same page re-crawled with a different footer/timestamp is the
    * classic web case). Deliberately HIGH-RECALL/low-precision next to
    * [[exactOf]]: a pipeline feeds its groups to a verifier (edit
    * distance or Jaccard) rather than deleting on prefix alone. Same
    * map-side slice + single partial-agg exchange as bag dedup. */
  def prefixExactOf(docsWords: DataFrame, k: Int = 16): DataFrame =
    docsWords
      .groupBy(md5(concat_ws(" ", slice(col("words"), 1, k))).as("fp"))
      .agg(min("doc_id").as("keeper_doc_id"),
           count(lit(1)).as("n_dups"))

  /** MinHash signatures: k=8 seeded min-hashes per doc
    * (min over shingles of md5(seed || '|' || shingle) — lexicographic min
    * of a uniform hash is a valid min-hash). */
  def minhashOf(shingles: DataFrame): DataFrame =
    shingles
      .withColumn("seed", explode(expr("sequence(0, 7)")))
      .groupBy("doc_id", "seed")
      .agg(min(md5(concat(col("seed").cast("string"), lit("|"),
                          col("shingle")))).as("sig"))

  /** LSH banding: 4 bands × 2 rows; band key = md5 of the band's signature
    * slice in seed order. */
  def minhashBandsOf(minhash: DataFrame): DataFrame =
    minhash
      .groupBy(col("doc_id"), expr("CAST(seed div 2 AS BIGINT)").as("band"))
      .agg(expr(
        "md5(array_join(transform(array_sort(collect_list(struct(seed, sig))), x -> x.sig), '|'))")
        .as("band_hash"))

  /** Map-side MinHash banding: signatures AND band hashes computed per doc
    * in one projection over the words array — ZERO shuffle (the exploded
    * [[minhashOf]]→[[minhashBandsOf]] pipeline pushes |shingles|×8 rows
    * through a groupBy(doc_id, seed) shuffle plus a second band groupBy;
    * at corpus scale that is 8× shingle-count rows of pure shuffle for a
    * value each doc can compute locally). Results are row-identical to the
    * grouped form (equivalence-tested in DedupSpec): a min over duplicated
    * shingles equals the min over distinct ones, and the kernel's string
    * compare uses the same binary ordering as the grouped `min`.
    *
    * The per-doc computation is the native codegen expression
    * [[graft.expr.MinHashBands]] — one static call per row inside
    * whole-stage codegen, not an interpreted HOF chain. */
  def minhashBandsFastOf(docsWords: DataFrame): DataFrame =
    docsWords
      .select(col("doc_id"),
        posexplode(graft.expr.MinHashBands(col("words"), col("norm")))
          .as(Seq("band", "band_hash")))
      .select(col("doc_id"), col("band").cast("bigint").as("band"),
              col("band_hash"))

  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    minhashBandsFastOf(TextOps.docsWords(spark, dir))

  /** Candidate near-dup pairs = docs sharing any LSH bucket. The bands
    * frame feeds both join sides — persist so the signature pipeline runs
    * once (and is reused by cluster queries in the same session).
    *
    * Giant-bucket guard ([[bucketPairs]]): a degenerate bucket of B
    * identical/boilerplate docs would materialize B² join rows — the
    * classic 100 TB blowup — so buckets larger than `maxBucket` emit a
    * linear STAR pairing (each member ↔ the bucket's min doc_id). A bucket
    * is a clique in the candidate graph and a star spans the same
    * connected component, so downstream clustering ([[clustersOf]]) is
    * EXACTLY unchanged; only the explicit pair list degrades (documented)
    * to the spanning subset for pathological buckets — `maxBucket =
    * Int.MaxValue` gives the exact dense pair list (the oracle-checked
    * parity form, no stats join in the plan). The guard is entirely LAZY —
    * no Spark job runs at query construction; the bucket-size histogram
    * [[minhashBandStatsOf]] (`q_minhash_band_stats`) is the audit of what
    * a guarded run degrades.
    *
    * The exact form is additionally gated: `denseGate` is an IN-PLAN
    * assertion that makes a run over a corpus with any bucket larger than
    * the gate fail loudly instead of running O(C(bucket,2)) quadratic —
    * the dense list is the oracle baseline at the verified scale
    * factors, not a production path, and a future larger-SF run must not
    * silently pay the blowup.
    * The gate does not change the output (the filter passes every row of
    * a compliant corpus); measurement harnesses that deliberately probe
    * the dense blowup ([[graft.ScaleProbe.guardProbe]]) pass
    * `denseGate = Int.MaxValue`. */
  def minhashPairsOf(bands0: DataFrame, maxBucket: Int = 256,
                     denseGate: Int = DenseBucketGate): DataFrame =
    bucketPairs(Memo.pin(bands0), Seq("band", "band_hash"), "doc_id",
      maxBucket, denseGate, "minhash", s" exceeds denseGate=$denseGate — " +
        "the exact dense form is O(C(bucket,2)); use the guarded pair list " +
        "(maxBucket=256)").distinct()

  /** The giant-bucket guard, once for every banded pair list: `rows`
    * holds an `id` column and the bucket `keys`; the output is the strict
    * (`<id>_a` < `<id>_b`) candidate pairs (`doc_id` pairs as doc_a/doc_b),
    * before the caller's own filter and `distinct`.
    *
    * `maxBucket = Int.MaxValue` is the EXACT dense bucket join, gated
    * in-plan: a window count per bucket (it reuses the join's own key
    * partitioning — no extra exchange) and a `raise_error` filter whose
    * message is "dense `label` pair list: bucket size N" + `advice`. Any
    * finite `maxBucket` pairs buckets at or under it densely and stars
    * each larger one to its minimum id. */
  private def bucketPairs(rows: DataFrame, keys: Seq[String], id: String,
                          maxBucket: Int, denseGate: Int, label: String,
                          advice: String): DataFrame = {
    val Seq(a, b) = Seq("_a", "_b").map(id.stripSuffix("_id") + _)
    def side(df: DataFrame, as: String) =
      df.select(col(id).as(as) +: keys.map(col): _*)
    def dense(sideA: DataFrame, df: DataFrame) =
      sideA.join(side(df, b), keys).where(col(a) < col(b)).select(a, b)
    if (maxBucket == Int.MaxValue) {
      val bsz = count(lit(1)).over(Window.partitionBy(keys.map(col): _*))
      dense(side(rows, a).withColumn("_bsz", bsz)
        .where(when(col("_bsz") > lit(denseGate.toLong),
          raise_error(concat(lit(s"dense $label pair list: bucket size "),
            col("_bsz").cast("string"), lit(advice))))
          .otherwise(lit(true)))
        .drop("_bsz"), rows)
    } else {
      val stats = rows.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("bsz"), min(id).as("bmin"))
      val tagged = rows.join(stats, keys)
      val small = tagged.where(col("bsz") <= maxBucket)
      dense(side(small, a), small).unionAll(tagged
        .where(col("bsz") > maxBucket).where(col(id) =!= col("bmin"))
        .select(col("bmin").as(a), col(id).as(b)))
    }
  }

  /** INCREMENTAL near-dup check — the 100 TB ingest shape: a new batch of
    * docs is checked against the already-indexed corpus WITHOUT re-running
    * dedup over the corpus. `indexBands` is the persisted band index (in
    * production a warehouse table bucketed on the join key, so the corpus
    * side joins co-located with NO shuffle — see
    * `Warehouse.bucketedOverwrite` and the DedupSpec plan assertion);
    * `newBands` is the increment's bands, computed map-side on arrival.
    * Only the increment shuffles.
    *
    * Output: every candidate pair touching the increment — new×indexed and
    * new×new (canonical doc_a < doc_b). Equals the full-corpus pair list
    * restricted to pairs with a new side (equivalence-tested). */
  def incrementalPairsOf(indexBands: DataFrame,
                         newBands: DataFrame): DataFrame =
    incrementalCandidatesOf(indexBands, newBands).distinct()

  /** The two candidate joins before the final pair distinct — separated so
    * the plan-shape spec can assert them Exchange-free when BOTH inputs
    * are bucketed `(band, band_hash)` warehouse tables (the serving shape: the
    * ingest job lands the increment's bands bucketed — they are needed for
    * the index append anyway — and both joins then run co-located; the
    * only shuffle in the whole check is the final pair distinct, whose
    * input is collision pairs, not corpus). `indexBands` and `newBands`
    * must be doc-disjoint (caller contract). */
  def incrementalCandidatesOf(indexBands: DataFrame,
                              newBands: DataFrame): DataFrame = {
    val n = newBands.select(col("doc_id").as("doc_n"),
                            col("band"), col("band_hash"))
    val vsIndex = n
      .join(indexBands.select(col("doc_id").as("doc_o"),
                              col("band"), col("band_hash")),
            Seq("band", "band_hash"))
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
              greatest(col("doc_n"), col("doc_o")).as("doc_b"))
    val vsNew = n
      .join(newBands.select(col("doc_id").as("doc_o"),
                            col("band"), col("band_hash")),
            Seq("band", "band_hash"))
      .where(col("doc_n") < col("doc_o"))
      .select(col("doc_n").as("doc_a"), col("doc_o").as("doc_b"))
    vsIndex.unionAll(vsNew)
  }

  /** Query form: the top decile of doc_ids plays the "new batch"
    * ([[decileSplit]] over the bands). */
  def minhashPairsIncremental(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandsCached(spark, dir)
    val (history, batch) = decileSplit(bands, bands)
    incrementalPairsOf(history, batch)
  }

  /** (history, batch): `df`'s rows whose `idCol` is at or under, and
    * above, the "new batch" cutoff — the top decile of `cutFrom`'s doc_ids
    * (max(doc_id)·9 div 10), the one convention of every incremental query
    * form. Deterministic, and read from a broadcast 1-row cross join: no
    * Spark action runs at construction. */
  private[graft] def decileSplit(df: DataFrame, cutFrom: DataFrame,
                                 idCol: String = "doc_id")
      : (DataFrame, DataFrame) = {
    val tagged = df.crossJoin(broadcast(cutFrom.agg(
      expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)").as("cutoff"))))
    (tagged.where(col(idCol) <= col("cutoff")).drop("cutoff"),
     tagged.where(col(idCol) > col("cutoff")).drop("cutoff"))
  }

  // Memoized per (session, dir) in [[graft.Caches]]: the banded-signature
  // pipeline (staged, [[graft.Memo]]) is shared by every consumer — pairs
  // at any guard level, clusters — instead of re-running per query
  // construction. Same stale-read contract as every registry grain.
  private[graft] def bandsCached(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "dedup.bands")(minhashBands(spark, dir).staged)

  // The pair list itself is persisted too (it is tiny next to its inputs):
  // one guard level's pairs are computed ONCE and shared by every consumer —
  // q_dedup_minhash_pairs_guarded, clustersOf and clustersFastOf all iterate
  // over the same materialized edge list instead of re-running the bucket
  // join per query (the r3 q_dedup_clusters regression). Keyed by the
  // guard level, so two levels never alias.
  def minhashPairs(spark: SparkSession, dir: String,
                   maxBucket: Int = 256): DataFrame =
    graft.Caches.grain(spark, dir, s"dedup.pairs/$maxBucket") {
      minhashPairsOf(bandsCached(spark, dir), maxBucket).staged
    }

  /** Track a checkpoint that a lazily returned frame still reads: it is
    * released with the grain being built (or at session teardown). */
  private def tracked(df: DataFrame): DataFrame =
    graft.Caches.track(df.sparkSession, "", df)

  /** Per-doc SimHash as ONE map-side higher-order expression — ZERO shuffle
    * for the hash computation (the former shape exploded ×nBits bit-rows
    * per distinct word through a groupBy(doc_id, bit) shuffle: a 32/64×
    * input amplification that made simhash the slowest query family and
    * would be a scale-killer on a 100 TB corpus).
    *
    * inner aggregate: fold the doc's DISTINCT words into nBits vote
    * counters (zip_with adds each word's ±1 vote vector — bit i of a
    * word's vote comes from nibble i/4 of its md5); outer fold: majority
    * vote per bit → sum of distinct powers of two. All integer arithmetic,
    * identical vote sums to the exploded form (addition is commutative),
    * so results are bit-identical to the oracle's groupBy formulation. */
  private def simhashExpr(nBits: Int): String = {
    // bit nBits-1 of a 64-bit hash is the sign bit: its arm adds
    // Long.MinValue (= setting the top bit in two's complement) so the
    // BIGINT sum of distinct powers never leaves the signed-64 range.
    val topArm =
      if (nBits == 64)
        "WHEN bit = 63 THEN CAST(-9223372036854775807 AS BIGINT) - CAST(1 AS BIGINT)"
      else ""
    // `transform(array(md5(w)), h -> …)` is a let-binding: md5(w) is
    // loop-invariant over bits but a lambda body re-evaluates per element,
    // so without the hoist each word would pay nBits md5 calls instead of 1
    s"""aggregate(
          zip_with(
            aggregate(
              array_distinct(words),
              array_repeat(CAST(0 AS BIGINT), $nBits),
              (acc, w) -> element_at(
                transform(array(md5(w)), h -> zip_with(acc,
                  transform(sequence(0, ${nBits - 1}), bit ->
                    CASE WHEN (shiftright(
                           instr('0123456789abcdef',
                                 substring(h, 1 + CAST(bit div 4 AS INT), 1)) - 1,
                           bit % 4) & 1) = 1
                         THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END),
                  (a, b) -> a + b)),
                1)),
            sequence(0, ${nBits - 1}),
            (s, bit) -> CASE WHEN s <= 0 THEN CAST(0 AS BIGINT)
                             $topArm
                             ELSE shiftleft(CAST(1 AS BIGINT), bit) END),
          CAST(0 AS BIGINT), (x, y) -> x + y)"""
  }

  /** The HOF form of the simhash computation — kept (unused in the query
    * path) as the independent cross-check implementation:
    * DedupSpec asserts native ≡ HOF, the oracle asserts native ≡ SQL. */
  private[ops] def simhashHofCol(nBits: Int) =
    expr(simhashExpr(nBits)).cast("long")

  /** 32-bit SimHash over the doc's distinct words (bit i from nibble i/4 of
    * the word's md5; majority vote per bit). Map-side only — no shuffle;
    * computed by the native codegen kernel [[graft.expr.SimHashN]]. */
  def simhashOf(docsWords: DataFrame): DataFrame =
    docsWords.select(col("doc_id"),
      graft.expr.SimHashN(col("words"), 32).as("simhash"))

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOf(TextOps.docsWords(spark, dir))

  /** 64-bit SimHash — same majority-vote construction as [[simhashOf]]
    * over the first 16 nibbles of each word's md5. The wider hash is the
    * corpus-scale variant: with 16-bit banding chunks it gives 65 536
    * buckets per band instead of 256, keeping per-bucket candidate volume
    * (quadratic in bucket size) small as N grows. Map-side only, native
    * kernel. */
  def simhash64Of(docsWords: DataFrame): DataFrame =
    docsWords.select(col("doc_id"),
      graft.expr.SimHashN(col("words"), 64).as("simhash64"))

  /** SimHash near-dup candidate pairs within `maxHamming` bit flips, via
    * pigeonhole banding: split the hash into maxHamming+1 chunks — any
    * pair within the distance must agree EXACTLY on at least one chunk, so
    * candidates come from an equi-join on (band, chunk) and only they pay
    * the bit_count(xor) filter. Same no-all-pairs shape as MinHash LSH:
    * the only shuffle keys are (band, chunk).
    *
    * Scale note: 8-bit chunks give only 256 buckets per band — fine for
    * the 32-bit parity hash; at corpus scale use [[simhash64PairsOf]]
    * (64-bit hash, 16-bit chunks) so buckets stay small — candidate volume
    * per bucket is (N/buckets)² per band. The banding algebra is shared. */
  def simhashPairsOf(simhash: DataFrame, maxHamming: Int = 3,
                     maxBucket: Int = Int.MaxValue,
                     denseGate: Int = DenseBucketGate): DataFrame =
    hammingPairs(simhash, "simhash", chunkBits = 8, maxHamming,
                 maxBucket, denseGate)

  /** 16-bit-chunk banding over the 64-bit hash — the corpus-scale shape. */
  def simhash64PairsOf(simhash64: DataFrame, maxHamming: Int = 3,
                       maxBucket: Int = Int.MaxValue,
                       denseGate: Int = DenseBucketGate): DataFrame =
    hammingPairs(simhash64, "simhash64", chunkBits = 16, maxHamming,
                 maxBucket, denseGate)

  /** SPANNING edge set of the hamming candidate graph — the guarded
    * clustered form's input (r13 verdict task 1): component-identical to
    * [[simhashPairsOf]]'s pair graph at a LINEAR output size, never
    * quadratic in clone-group size. Within each same-hash group the
    * group's min doc stars to every member (a group is a clique — the
    * star spans it); between near-hash value pairs one edge connects the
    * two groups' min docs (every member already reaches its rep through
    * the star, so the single rep-rep edge merges the components exactly
    * as the full bipartite expansion would). Value pairs ride the
    * guarded (`maxBucket` star) bucket join, so no stage of the plan is
    * quadratic in anything but the distinct-value bucket bound.
    *
    * Contract: connected components over this edge set EQUAL components
    * over the exact pair list whenever no (band, chunk) bucket exceeds
    * `maxBucket` distinct values; over the gate the value-space star
    * degradation applies (deterministic, oracle-mirrored). The pair
    * LIST itself is not reproduced — that output is quadratic in clone
    * group size by definition and stays the documented exact baseline. */
  def hammingSpanningEdgesOf(hashes0: DataFrame, hashCol: String,
                             chunkBits: Int, maxHamming: Int = 3,
                             maxBucket: Int = 256): DataFrame =
    // hashes feeds three consumers (distinct values, reps, star sides):
    // held for this call only, and left alone when the caller already
    // stores it (unpersisting an already-persisted input would silently
    // un-cache a memoized frame for every other consumer).
    Memo.scoped { hold =>
      val hashes = hold(hashes0)
      val vals = hashes.select(col(hashCol).as("sh")).distinct()
      val valPairs = hammingValuePairs(vals, chunkBits, maxHamming,
                                       maxBucket, denseGate = Int.MaxValue)
      // one independent rep groupBy per plan position (CacheManager dedupes
      // the canonicalized subplan over the persisted `hashes`); a single
      // shared `reps` frame trips Spark 4's union-constraint rewrite when
      // this edge list later feeds a Union-based consumer (clustersFastOf)
      def reps(shCol: String, repCol: String) =
        hashes.groupBy(col(hashCol).as(shCol)).agg(min("doc_id").as(repCol))
      val within = hashes
        .select(col("doc_id"), col(hashCol).as("sh"))
        .join(reps("sh", "rep"), "sh")
        .where(col("doc_id") =!= col("rep"))
        .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
      val crossRep = valPairs
        .join(reps("sh_a", "doc_a"), "sh_a")
        .join(reps("sh_b", "doc_b"), "sh_b")
        .select("doc_a", "doc_b")
      val out = within.unionAll(crossRep)
      // Row-RDD rebuild = constraint barrier: this plan's constraint set
      // trips Spark 4.1's UnionBase.rewriteConstraints (key-not-found on a
      // downstream union attribute) when the edge list feeds the CC loop's
      // star unions — see Round14OpsSpec "spanning edges".
      val barrier = hashes0.sparkSession.createDataFrame(out.rdd, out.schema)
      // Eager tracked checkpoint: (a) materializes the linear edge list
      // ONCE, so multi-consumer callers (frameNearDupClustersOf derives
      // both `nodes` and the CC input from it) re-read blocks instead of
      // re-running the banded bucket join; (b) lets the input persist be
      // released at the end of this call instead of leaking for the session
      // lifetime — the checkpoint itself is tracked in the memo registry,
      // so it is released with the caller's grain (or at teardown).
      tracked(barrier.truncated)
    }

  /** STRICT (sh_a < sh_b) near-hash value pairs within `maxHamming`, from
    * the pigeonhole (band, chunk) bucket join over DISTINCT hash values.
    *
    * Giant-bucket guard (r13 verdict task 1 — the same two-mode
    * [[bucketPairs]] as [[minhashPairsOf]]): `maxBucket = Int.MaxValue` is
    * the EXACT dense bucket join, gated in-plan — a (band, chunk) bucket
    * with more than `denseGate` distinct values raises loudly instead of
    * paying the O(bucket²) join silently (a 32-bit hash space saturates as
    * the corpus grows — the fix at that scale is the 64-bit/16-bit-chunk
    * banding, not a bigger gate). Any finite `maxBucket` degrades buckets
    * over it to a linear STAR against the bucket's min value. Unlike the
    * minhash star (whose bucket is a clique by construction), star value
    * pairs still pass the hamming filter, so a pathological bucket loses
    * value pairs both far from the bucket min — candidates whose EVERY
    * shared chunk is degenerate-common, the boilerplate tier by
    * definition (documented recall contract, mirrored deterministically
    * in the oracle). */
  private def hammingValuePairs(vals: DataFrame, chunkBits: Int,
                                maxHamming: Int, maxBucket: Int,
                                denseGate: Int): DataFrame = {
    val banded = vals
      .withColumn("band", explode(expr(s"sequence(0, $maxHamming)")))
      .withColumn("chunk", expr(s"shiftright(sh, CAST(band * $chunkBits " +
        s"AS INT)) & ${(1L << chunkBits) - 1}"))
    bucketPairs(banded, Seq("band", "chunk"), "sh", maxBucket, denseGate,
      "hamming", s" distinct values exceeds denseGate=$denseGate — the " +
        "exact dense form is O(bucket²); use the guarded form " +
        "(maxBucket=256) or the wider 64-bit/16-bit-chunk banding")
      .select(col("sh_a"), col("sh_b"),
              expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  private def hammingPairs(hashes0: DataFrame, hashCol: String,
                           chunkBits: Int, maxHamming: Int,
                           maxBucket: Int = Int.MaxValue,
                           denseGate: Int = DenseBucketGate): DataFrame = {
    // the hash frame feeds THREE scans (distinct values + both doc-expansion
    // sides) — persist so the per-doc hash expression evaluates once, not 3×
    val hashes = Memo.pin(hashes0)
    // Band over DISTINCT hash values, not docs: corpora are full of exact
    // and near-exact duplicates that share a hash, so the quadratic bucket
    // join runs on |distinct hashes| and the (cheap, linear-per-output)
    // doc expansion happens only for value pairs that already passed the
    // hamming filter.
    val vals = Memo.pin(hashes.select(col(hashCol).as("sh")).distinct())
    val valPairs =
      hammingValuePairs(vals, chunkBits, maxHamming, maxBucket, denseGate)
    val d1 = hashes.select(col("doc_id").as("da"), col(hashCol).as("sh_a"))
    val d2 = hashes.select(col("doc_id").as("db"), col(hashCol).as("sh_b"))
    // duplicate-free expansion — no global distinct over the (large) output:
    // distinct value pairs u<v produce each cross combo once; the u==v case
    // (same-hash doc groups, hamming 0 — always candidates, any guard
    // level) pairs within one hash group with an ordering filter instead.
    val cross = valPairs
      .join(d1, "sh_a").join(d2, "sh_b")
      .select(least(col("da"), col("db")).as("doc_a"),
              greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    val same = hashes.select(col("doc_id").as("da"), col(hashCol).as("sh"))
      .join(hashes.select(col("doc_id").as("db"), col(hashCol).as("sh")),
            "sh")
      .where(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
              lit(0L).as("hamming"))
    cross.unionAll(same)
  }

  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    // r18: memoized + checkpointed — three consumers (the pair query, the
    // consensus tier, the precision curve) re-ran the hamming bucket join
    // per call; candidate-sized output, same registry/teardown as the
    // other grains.
    graft.Caches.grain(spark, dir, "dedup.simhash-pairs") {
      simhashPairsOf(simhash(spark, dir)).truncated
    }

  /** ENSEMBLE consensus candidates — pairs flagged by BOTH the MinHash-LSH
    * banding (set-overlap signal over shingles) and the 32-bit SimHash
    * hamming banding (bit-vector signal over distinct words). The two
    * hash families fail independently — MinHash band collisions produce
    * low-Jaccard false positives, SimHash's short width collides unrelated
    * docs — so their INTERSECTION is the high-precision candidate tier a
    * pipeline can auto-delete from, reserving the exact-Jaccard verify
    * pass ([[verifiedPairs]]-style) for the symmetric difference.
    *
    * Scale shape: both inputs are bucket-collision candidate lists (never
    * all-pairs), both memoized/persisted and shared with their own queries;
    * the consensus itself is ONE equi-join on (doc_a, doc_b) — candidate
    * lists are corpus-linear under the guards, so the join is cheap and
    * AQE-broadcastable when one side is small. */
  def consensusPairsOf(minhashPairs: DataFrame,
                       simhashPairs: DataFrame): DataFrame =
    minhashPairs.select("doc_a", "doc_b")
      .join(simhashPairs, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming"))

  /** Near-dup clusters: connected components over the LSH candidate-pair
    * graph via min-label propagation (iterate: every node takes the min
    * label among itself and its neighbors, until fixpoint). Output:
    * (doc_id, cluster) where cluster = min doc_id of the component — the
    * canonical dedup keeper assignment.
    *
    * Scale: the driver loop runs O(graph diameter) joins; near-dup
    * components are short chains in practice (diameter ≪ 20). Each
    * iteration is one hash join + partial-agg groupBy on (doc_id) — no
    * global structure, arbitrarily partitionable. This is the DataFrame
    * form of GraphX-style label propagation, with the DuckDB oracle
    * expressed as a recursive CTE over the same edges. */
  def clustersOf(docIds: DataFrame, pairs: DataFrame,
                 maxIters: Int = 20): DataFrame = {
    // the edge list is read by every round: held for the loop only
    val labels = Memo.scoped { hold =>
      val edges = hold(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
      // Only nodes that appear in the pair graph can ever change label;
      // the (overwhelming) singleton majority never enters the loop.
      // localCheckpoint (eager) truncates lineage each round — without it
      // the plan nests one join deeper per iteration and analysis/
      // canonicalization cost grows superlinearly (the standard
      // iterative-algorithm pitfall).
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster", col("doc_id"))
        .truncated
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIters) {
        val viaEdges = labels.join(edges, labels("doc_id") === edges("src"))
          .select(col("dst").as("doc_id"), col("cluster"))
        val next = labels.unionAll(viaEdges)
          .groupBy("doc_id").agg(min("cluster").as("cluster"))
          .truncated
        changed = next.join(labels.withColumnRenamed("cluster", "prev"), "doc_id")
          .where(col("cluster") =!= col("prev")).count()
        // prev labels' checkpoint blocks are dead once `changed` is counted
        Memo.release(labels)
        labels = next
        iter += 1
      }
      tracked(labels) // final checkpoint backs the returned labels
      // Silent non-convergence would return WRONG cluster labels
      // (components with diameter > maxIters) while still matching row
      // counts — fail loudly.
      if (changed > 0) throw new IllegalStateException(
        s"clustersOf: label propagation did not converge after $maxIters " +
        s"iterations ($changed labels still changing); raise maxIters — the " +
        s"component diameter exceeds it")
      labels
    }
    // singletons keep their own id as cluster
    docIds.join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
              coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  // Cluster labels are memoized too: the CC label-propagation loop runs
  // driver-side at construction, so without this every consumer
  // (q_dedup_clusters, Corpus.curated's keeper join) re-runs the whole
  // iterative computation. The memoized frame is a join of doc_ids with
  // the final labels (checkpoint-backed — already materialized, and
  // tracked with the grain). Keyed by algorithm too, so the min-label and
  // star-contraction variants each memoize once per (session, dir)
  // instead of the star path re-running per consumer (the r4
  // q_dedup_clusters_fast 2.5 s recompute). Cluster builders COMPOSE
  // (clustersVerified's lambda reaches
  // verifiedJaccardCached, the incremental merge its history labels), so
  // they memoize through the registry's get-then-putIfAbsent grain — a
  // nested computeIfAbsent fired "Recursive update" nondeterministically
  // (a full-registry ScaleProbe run, round 19)
  def clusters(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "dedup.minlabel") {
      clustersOf(TextOps.docs(spark, dir).select("doc_id"),
                 minhashPairs(spark, dir))
    }

  /** INCREMENTAL cluster maintenance — the daily-admission shape of
    * near-dup CC: only clusters TOUCHED by the increment's candidate
    * pairs are recomputed (their members collapse to star edges
    * doc→old-label, which reconstruct each cluster's connectivity
    * without its original pair list), everyone else's labels pass
    * through an anti-join untouched. Work is O(affected history +
    * increment), independent of corpus size — the same stance as the
    * SCD2 merge, and like it the oracle is the FULL-REBUILD clustering:
    * merge ≡ rebuild is the checked contract.
    *
    * Correctness: an unaffected cluster cannot merge with anything — a
    * path to a new doc would have to leave it through an increment pair,
    * which would have made it affected. Labels stay consistent because a
    * component's rebuilt label is min(member ids) and each old label IS
    * its cluster's min id, present among the recomputed nodes. */
  def clustersIncrementalOf(oldLabels: DataFrame, newDocs: DataFrame,
                            incPairs: DataFrame): DataFrame = {
    val touched = incPairs.select(col("doc_a").as("doc_id"))
      .unionAll(incPairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .join(oldLabels, Seq("doc_id"))
      .select("cluster").distinct()
    val affected = oldLabels.join(touched, Seq("cluster"))
    val pass = oldLabels.join(touched, Seq("cluster"), "left_anti")
    val star = affected.where(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as("doc_a"), col("cluster").as("doc_b"))
    val nodes = affected.select("doc_id")
      .unionAll(newDocs.select("doc_id")).distinct()
    // contraction CC over the affected subgraph: its O(log n) round
    // count is what bounds the worst case when an increment chain
    // bridges many clusters (min-label would pay O(chain length) rounds,
    // each an eager checkpoint); at sf-scale both are fixed-cost bound,
    // measured within ~1 s of each other
    pass.select("doc_id", "cluster").unionByName(
      clustersFastOf(nodes,
        star.unionAll(incPairs.select("doc_a", "doc_b"))))
  }

  /** Query form: top doc_id decile plays the "new batch" (the
    * [[minhashPairsIncremental]] cutoff convention); history labels come
    * from clustering the old docs over the old-only pair subset —
    * doc_a < doc_b means a pair touches the increment iff doc_b is new,
    * so (old, inc) cleanly partition the full guarded pair set. */
  def clustersIncremental(spark: SparkSession, dir: String): DataFrame =
    // r18: memoized like every other cluster frame — the merge's
    // star-contraction loop over the affected subgraph runs driver-side at
    // construction, and THREE queries consume this exact frame
    // (q_dedup_clusters_inc, q_corpus_curated_v4_inc,
    // q_curation_funnel_inc), each paying the full eager loop per call
    // without the memo (the r4 q_dedup_clusters_fast recompute class). In
    // production the merged labels are WRITTEN back as the new label
    // table, so one evaluation per load is the real shape.
    graft.Caches.grain(spark, dir, "dedup.minlabel-inc") {
      clustersIncrementalBuild(spark, dir)
    }

  private def clustersIncrementalBuild(spark: SparkSession,
                                       dir: String): DataFrame = {
    val docs = TextOps.docs(spark, dir).select("doc_id")
    val (oldDocs, newDocs) = decileSplit(docs, docs)
    val (oldPairs, newPairs) = decileSplit(minhashPairs(spark, dir), docs, "doc_b")
    // history labels are MEMOIZED like every cluster frame (in production
    // they would be READ from the previous load, not recomputed — the
    // memo plays that role here, so repeat calls pay only the merge)
    val oldLabels = graft.Caches.grain(spark, dir, "dedup.minlabel-history") {
      clustersOf(oldDocs, oldPairs)
    }
    // Eager checkpoint: the pass-through anti-join + affected-subgraph
    // merge is evaluated once and its three consumers read materialized
    // blocks — production WRITES the merged labels, it does not re-derive
    // them.
    clustersIncrementalOf(oldLabels, newDocs, newPairs).truncated
  }

  /** Clusters over the VERIFIED pair graph — the full production
    * composition (candidate generation → exact-Jaccard verification →
    * connected components): banding's false positives never become cluster
    * edges, so every merge is a true near-dup at the τ=0.7 threshold and
    * clusters can only be equal-or-finer than [[clusters]]'. Memoized like
    * its siblings; reuses the shared pairs and shingle frames. */
  def clustersVerified(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "dedup.verified") {
      clustersOf(TextOps.docs(spark, dir).select("doc_id"),
                 minhashPairsVerified(spark, dir).select("doc_a", "doc_b"))
    }

  /** Memoized star-contraction variant over the same shared pair list —
    * same (doc_id, cluster) contract and oracle as [[clusters]]. */
  def clustersFast(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "dedup.star") {
      clustersFastOf(TextOps.docs(spark, dir).select("doc_id"),
                     minhashPairs(spark, dir))
    }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * converges in O(log n) rounds REGARDLESS of component diameter, unlike
    * [[clustersOf]]'s min-label propagation (O(diameter) rounds). Same
    * output contract: (doc_id, cluster = component min).
    *
    * large-star: every node's strictly-larger neighbors re-point to the
    * min of its neighborhood (incl. itself); small-star: its ≤ neighbors
    * do. Both preserve connectivity and strictly shrink the potential
    * function, ending in star graphs rooted at component minima. Each
    * round is two groupBy-min + join shuffles over the edge set — no
    * global structure; lineage is truncated per round (localCheckpoint). */
  def clustersFastOf(docIds: DataFrame, pairs: DataFrame,
                     maxIters: Int = 50): DataFrame = {
    // canonical undirected edges (hi, lo), self-loops dropped
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
              least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .truncated

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e is (u, v) with v < u: group each u's smaller neighbors
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val joined = e.join(mins, "u")
      joined.select(col("v").as("u"), col("m").as("v"))
        .unionAll(joined.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
    }

    // Fixpoint test: the canonical edge SET stopped changing. Compared via
    // an order-independent signature — count plus two independent xor-folds
    // of per-edge hashes — ONE cheap aggregate over the just-checkpointed
    // blocks per round, instead of the former count + count + exceptAll
    // (a full shuffle comparison, 3 jobs/round). A missed change needs two
    // rounds' edge sets colliding in both 64-bit folds at equal counts
    // (~2^-128, and the sets here are adversary-free hash outputs).
    def sig(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)),
        coalesce(expr("bit_xor(xxhash64(v, u, 42))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    var cur = sig(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(edges)).truncated
      val nextSig = sig(next)
      converged = nextSig == cur
      // `next` is fully materialized (eager checkpoint) and its lineage
      // does not reference the previous round — release the superseded
      // round's blocks NOW instead of accreting one checkpoint per round
      // for the session lifetime (r13 verdict task 2's hygiene class)
      Memo.release(edges)
      edges = next
      cur = nextSig
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"clustersFastOf: star contraction did not converge in $maxIters " +
      "rounds (theoretical bound is O(log n) — raise maxIters)")
    // the FINAL round's checkpoint backs the returned (lazy) labels — it
    // cannot be released here; track it for release with the caller
    tracked(edges)
    docIds.join(edges.select(col("u").as("doc_id"), col("v").as("cluster")),
                Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
              coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** The shingle-overlap grain under every set-similarity verify: per
    * candidate pair (doc_a, doc_b), the shared word-3-gram count
    * `n_shared` (0 for a pair sharing none) and both set sizes `n_a`,
    * `n_b`. The intersection join is per-candidate work over the shingle
    * frame (collision-bounded under the bucket guard), never corpus².
    * Jaccard ([[ngramJaccardFor]]) and containment ([[containmentFor]])
    * are projections of it. */
  private def overlapFor(pairs: DataFrame, shingles: DataFrame): DataFrame = {
    val inter = pairs
      .join(shingles.select(col("doc_id").as("doc_a"), col("shingle")),
            Seq("doc_a"))
      .join(shingles.select(col("doc_id").as("doc_b"), col("shingle")),
            Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    withSizes(pairs.join(inter, Seq("doc_a", "doc_b"), "left_outer"), shingles)
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_a"), col("n_b"))
  }

  /** `pairs` with both ends' shingle-set sizes attached, as n_a and n_b. */
  private def withSizes(pairs: DataFrame, shingles: DataFrame): DataFrame =
    withSides(pairs, shingles.groupBy("doc_id").agg(count(lit(1)).as("n_sh")),
              "n_sh", "n_a", "n_b")

  /** `pairs` with the doc-keyed column `c` of `byDoc` attached to both
    * ends, as `ca` on doc_a and `cb` on doc_b: two doc_id equi-joins,
    * whose output is pair-sized whatever the size of `byDoc`. */
  private def withSides(pairs: DataFrame, byDoc: DataFrame, c: String,
                        ca: String, cb: String): DataFrame =
    pairs
      .join(byDoc.select(col("doc_id").as("doc_a"), col(c).as(ca)), Seq("doc_a"))
      .join(byDoc.select(col("doc_id").as("doc_b"), col(c).as(cb)), Seq("doc_b"))

  // Jaccard and containment ADD columns to an overlap frame, so the one
  // memoized grain carries both and each tier reads it by a plain select
  // (no new alias per call: a repeat call's plan is the same plan).
  private def withJaccard(overlap: DataFrame): DataFrame =
    overlap
      .withColumn("n_common", col("n_shared"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_shared"))
      .withColumn("jaccard",
        expr("CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE)"))

  private def withContainment(overlap: DataFrame): DataFrame =
    overlap
      .withColumn("contain_a_ppm", expr("n_shared * 1000000L div n_a"))
      .withColumn("contain_b_ppm", expr("n_shared * 1000000L div n_b"))

  private val jaccardCols =
    Seq("doc_a", "doc_b", "n_common", "n_union", "jaccard").map(col)

  /** Exact word-3-gram Jaccard for given candidate pairs (doc_a, doc_b). */
  def ngramJaccardFor(pairs: DataFrame, shingles: DataFrame): DataFrame =
    withJaccard(overlapFor(pairs, shingles)).select(jaccardCols: _*)

  /** LSH candidates VERIFIED — the pipeline step between candidate
    * generation and clustering: exact n-gram Jaccard over the (guarded)
    * MinHash candidate pairs, thresholded. Banding trades false negatives
    * for false positives; this join removes the false positives before
    * they become spurious cluster edges (sf0.1: 907 candidates → 256 at
    * τ=0.7). Scale: the intersection join is per-candidate-pair work over
    * the memoized shingle frame — proportional to candidates, never the
    * corpus. */
  def minhashPairsVerified(spark: SparkSession, dir: String,
                           threshold: Double = 0.7): DataFrame =
    verifiedJaccardCached(spark, dir).where(col("jaccard") >= threshold)

  /** The overlap grain over the guarded candidates, memoized +
    * checkpointed with its Jaccard and containment columns: the
    * verified-Jaccard family (pairs-verified/clusters-verified/
    * split-leakage, the est-error calibration, the threshold sweep) and
    * the containment family (the containment tier, the Jaccard
    * histogram) select from it, so the per-candidate intersection join
    * runs once per (session, dir). Threshold-independent (the consumers
    * filter), candidate-sized (907 rows at sf0.1). */
  private def overlapCached(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "dedup.overlap") {
      withContainment(withJaccard(
        overlapFor(minhashPairs(spark, dir), TextOps.shingles(spark, dir))))
        .truncated
    }

  private[graft] def verifiedJaccardCached(spark: SparkSession,
                                            dir: String): DataFrame =
    overlapCached(spark, dir).select(jaccardCols: _*)

  /** ASYMMETRIC containment tier over the guarded candidate pairs:
    * |A∩B|/|A| and |A∩B|/|B| as exact ppm integers. Jaccard misses
    * SUB-document duplication (a short doc fully quoted inside a long
    * one scores low Jaccard but containment 1.0 on the short side) —
    * the case that matters for press-release/boilerplate syndication
    * and train/eval quote contamination. A projection of
    * [[overlapFor]], like [[ngramJaccardFor]].
    *
    * ppm fields are exact integer arithmetic (shared-count · 10⁶ div
    * set-size) — bit-stable cross-engine, no double division. */
  def containmentFor(pairs: DataFrame, shingles: DataFrame): DataFrame =
    withContainment(overlapFor(pairs, shingles))

  def minhashContainment(spark: SparkSession, dir: String): DataFrame =
    overlapCached(spark, dir).drop("n_common", "n_union", "jaccard")

  /** Candidate-pair Jaccard HISTOGRAM in tenth buckets — the
    * banding-threshold tuning readout: where the guarded candidates'
    * exact similarity mass actually sits tells you whether τ=0.7 keeps
    * the right tail (a hump below τ means banding is too loose, paying
    * verify cost on junk; an empty 0.5-0.7 band means τ can drop for
    * recall at no cost). PURE integer arithmetic: bucket =
    * (10·|A∩B|) div |A∪B| clamped to 9 — no double ever, bit-stable
    * cross-engine. Composes the [[containmentFor]] shape; output is ≤10
    * rows at any corpus scale. */
  def jaccardHistOf(containment: DataFrame): DataFrame =
    containment
      .withColumn("bucket",
        expr("""least(n_shared * 10L div (n_a + n_b - n_shared), 9L)"""))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
           sum("n_shared").as("sum_shared"))

  /** Near-dup CLUSTER-SIZE histogram in power-of-2 buckets — the dedup
    * yield forecast: Σ(sz−1) over the histogram is exactly how many docs
    * dedup will drop, and a fattening large-size tail is the earliest
    * corpus-health signal that a boilerplate family is growing (the
    * cluster-level twin of [[minhashBandStatsOf]]). Two partial-agg
    * groupBys over the memoized cluster labels; ≤ log₂(corpus) output
    * rows. */
  def clusterSizesHistOf(clusters: DataFrame): DataFrame =
    clusters
      .groupBy("cluster").agg(count(lit(1)).as("sz"))
      .select(ilog2(col("sz")).as("bucket"), col("sz"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_clusters"),
           sum("sz").as("n_docs"),
           max("sz").as("max_sz"))

  /** Per-doc candidate-DEGREE histogram (power-of-2 buckets of how many
    * LSH candidate pairs each doc participates in) — the doc-level
    * banding-health readout: [[minhashBandStatsOf]] watches bucket sizes
    * BEFORE the pair join, this watches the degree the join actually
    * dealt each doc (a hub doc with degree 10³ pays 10³ verify
    * comparisons even under the bucket guard, and is the doc to
    * quarantine). Explode both pair ends → one (doc) partial agg → one
    * ≤log₂ rollup. */
  def pairDegreeDistOf(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
      .select(ilog2(col("deg")).as("bucket"), col("deg"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
           sum("deg").as("sum_deg"))

  /** Sketch-calibration monitor: per LSH candidate pair, the MinHash
    * ESTIMATE of Jaccard (matching-signature fraction, k=8) against the
    * exact n-gram Jaccard the verifier computes — the readout that
    * justifies (or re-tunes) the banding threshold: if |est_err| drifts,
    * the band/row split no longer captures the similarity the pipeline
    * thinks it does.
    *
    * Scale shape: the pair set is the LSH-guarded candidate list (small by
    * construction), and the signature frame is 8 rows per doc — both joins
    * are doc_id equi-joins whose output is 8·|pairs|; the match count is a
    * partial-agg groupBy on the pair key. est_jaccard is one division of
    * exact integers and est_err subtracts two bit-identical doubles —
    * deterministic cross-engine. */
  def minhashEstErrorOf(pairsJacc: DataFrame, minhash: DataFrame): DataFrame = {
    val a = minhash.select(col("doc_id").as("doc_a"), col("seed"),
      col("sig").as("sig_a"))
    val b = minhash.select(col("doc_id").as("doc_b"), col("seed"),
      col("sig").as("sig_b"))
    val m = pairsJacc.select("doc_a", "doc_b")
      .join(a, "doc_a")
      .join(b, Seq("doc_b", "seed"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(when(col("sig_a") === col("sig_b"), 1L).otherwise(0L))
        .as("n_sig_match"))
    pairsJacc.join(m, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_sig_match"),
        (col("n_sig_match").cast("double") / 8).as("est_jaccard"),
        col("jaccard"),
        (col("n_sig_match").cast("double") / 8 - col("jaccard"))
          .as("est_err"))
  }

  def minhashEstError(spark: SparkSession, dir: String): DataFrame =
    minhashEstErrorOf(
      verifiedJaccardCached(spark, dir),
      graft.Caches.grain(spark, dir, "dedup.minhash-sigs") {
        minhashOf(TextOps.shingles(spark, dir)).truncated
      })

  /** Deterministic pair sample (consecutive even/odd doc_id pairs —
    * exercises the full set-intersection machinery regardless of whether
    * real near-dups exist). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = TextOps.docs(spark, dir).select(col("doc_id"))
    val pairs = d.select(col("doc_id").as("doc_a"))
      .where(col("doc_a") % 2 === 0)
      .join(d.select(col("doc_id").as("doc_b")),
            col("doc_b") === col("doc_a") + 1)
    ngramJaccardFor(pairs, TextOps.shingles(spark, dir))
  }

  /** Near-dup cluster SOURCE PURITY — for every multi-doc cluster, how
    * many sources its members span and what fraction the majority source
    * holds. Pure clusters (one source) are ordinary scraper-side dups the
    * per-source rates already count; MIXED clusters are syndication /
    * mirror-site families whose dedup decision moves token mass BETWEEN
    * sources — the readout a mixture designer checks before trusting
    * [[Corpus.dupRateBySourceOf]]'s per-source attribution.
    *
    * Scale shape: one equi-join of the memoized cluster labels against
    * the doc→source projection (both doc-keyed), a (cluster, source)
    * partial agg, then a cluster-grain fold — every exchange is on the
    * cluster key, output is one row per multi-doc cluster. Majority pick
    * is max(count) — no per-cluster sort. */
  def clusterSourcePurityOf(clusters: DataFrame,
                            docsNorm: DataFrame): DataFrame =
    clusters
      .join(docsNorm.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("cluster", "source")
      .agg(count(lit(1)).as("n_src"))
      .groupBy("cluster")
      .agg(sum("n_src").as("sz"),
           count(lit(1)).as("n_sources"),
           max("n_src").as("majority_n"))
      .where(col("sz") >= 2L)
      .withColumn("purity_ppm", expr("majority_n * 1000000L div sz"))

  /** Dedup yield vs Jaccard threshold — for τ ∈ {0.5, 0.7, 0.9}, how many
    * verified candidate pairs and distinct docs the near-dup tier would
    * act on. THE tuning readout before committing a threshold: a curve
    * that cliffs between 0.7 and 0.9 means the corpus has a near-dup band
    * right at the decision boundary and the pipeline owner should look at
    * samples before picking a side.
    *
    * Exactness: τ-comparison is pure integer cross-multiplication
    * (n_common·10⁶ ≥ τ_ppm·n_union) — no float thresholding, so a pair
    * at exactly τ lands the same way on both engines. Scale shape: the
    * scored frame is candidate-bounded (guarded LSH output); the ×3
    * threshold fanout is a 3-row broadcast; both rollups are partial
    * aggs on the 3-value key. */
  def dedupThresholdSweepOf(scored: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    val thr = spark.sql(
      "SELECT explode(array(500000L, 700000L, 900000L)) AS t_ppm")
    val flat = Memo.pin(scored
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_union"))
      .crossJoin(broadcast(thr))
      .where(col("n_common") * lit(1000000L) >= col("t_ppm") * col("n_union")))
    val pairs = flat.groupBy("t_ppm").agg(count(lit(1)).as("n_pairs"))
    val docs = flat
      .select(col("t_ppm"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("t_ppm").agg(countDistinct("doc").as("n_docs"))
    pairs.join(docs, Seq("t_ppm"))
  }

  /** SimHash precision-by-distance curve: for each hamming distance the
    * banding emits (0..maxHamming), the candidate-pair count and how many
    * of those pairs are BYTE-EXACT duplicates — the calibration that
    * tells a pipeline which distance cutoff trades recall for precision.
    *
    * Scale shape: composes the banded candidate list (collision-bounded,
    * never all-pairs) with two broadcast-free fp equi-joins on doc_id
    * (the fp frame is corpus-sized but the pair side is candidates-only),
    * then a ≤(maxHamming+1)-row rollup. */
  def simhashPrecisionCurveOf(pairs: DataFrame, docsNorm: DataFrame)
      : DataFrame = {
    withSides(pairs, docsNorm.select(col("doc_id"), md5(col("norm")).as("fp")),
              "fp", "fp_a", "fp_b")
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
           sum(when(col("fp_a") === col("fp_b"), 1L).otherwise(0L))
             .as("n_exact"))
  }

  /** Cross-language near-dup matrix: the guarded MinHash candidate pairs
    * rolled up by canonical (lang_a ≤ lang_b) language pair — the
    * translated-boilerplate / mislabeled-language readout of a multilingual
    * corpus.
    *
    * Scale shape: reuses the memoized guarded pair list (collision- and
    * guard-bounded); two doc_id equi-joins attach languages; the rollup
    * key is |langs|² at most. */
  def dupLangPairsOf(pairs: DataFrame, docs: DataFrame): DataFrame =
    withSides(pairs, docs, "lang", "la", "lb")
      .groupBy(least(col("la"), col("lb")).as("lang_a"),
               greatest(col("la"), col("lb")).as("lang_b"))
      .agg(count(lit(1)).as("n_pairs"))


  /** Term-frequency BAG-COSINE verify tier over the guarded candidates —
    * the multiset-aware sibling of the Jaccard verifiers (Jaccard ignores
    * repetition; cosine catches near-dups that differ mainly in token
    * counts). The τ = 0.8 cut is the cross-multiplied form
    * 25·dot² ≥ 16·‖a‖²·‖b‖² evaluated in DOUBLE on exact integer
    * operands (identical tree in the oracle; double because ‖a‖²·‖b‖²
    * overflows int64 for book-length documents).
    *
    * Scale shape: tf vectors come from one (doc, word) groupBy — the
    * (spark, dir) wrapper feeds the MEMOIZED [[TextOps.tf]] frame, since
    * the frame appears in four plan positions (both dot sides + both
    * norm attaches) and would otherwise plan four docs scans; the dot
    * products join only the CANDIDATE pairs through their shared words —
    * never all-pairs; norms attach doc-keyed. */
  def bagCosinePairs(spark: SparkSession, dir: String): DataFrame =
    bagCosinePairsWithTf(minhashPairs(spark, dir), TextOps.tf(spark, dir))

  /** [[bagCosinePairs]] over `pairs` with a precomputed (doc_id, w, tf)
    * frame. */
  def bagCosinePairsWithTf(pairs: DataFrame, tf: DataFrame): DataFrame = {
    val dots = pairs.select("doc_a", "doc_b")
      .join(tf.select(col("doc_id").as("doc_a"), col("w"),
                      col("tf").as("tfa")), Seq("doc_a"))
      .join(tf.select(col("doc_id").as("doc_b"), col("w"),
                      col("tf").as("tfb")), Seq("doc_b", "w"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
    withSides(dots, tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2")),
              "n2", "na2", "nb2")
      .where(expr("""25.0 * CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
                     >= 16.0 * CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE)"""))
      .select("doc_a", "doc_b", "dot", "na2", "nb2")
  }

  /** LSH RECALL on a sampled subset — the measurement the candidate-side
    * monitors can't give: est-err/threshold-sweep grade the pairs LSH
    * FOUND; this grades what it MISSED. Ground truth = exact 3-gram
    * Jaccard ≥ 1/3 over all pairs of the doc_id % `mod` sample (the
    * integer form 4·inter ≥ |A|+|B|), captured = present in the guarded
    * band candidates. One row: truth/captured counts + recall ppm.
    *
    * Scale shape: the truth join is SHINGLE-keyed over the sample (pairs
    * only form through shared shingles — never an all-pairs product),
    * and the sample keeps the quadratic worst case mod²-bounded; the
    * capture check is one pair-keyed left join. */
  def lshRecallSampledOf(shingles: DataFrame, captured: DataFrame,
                         mod: Int = 2): DataFrame = {
    val s = shingles.where(col("doc_id") % mod === 0)
    val inter = s.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(s.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
    withSizes(inter, s)
      .where(col("n_shared") * 4 >= col("n_a") + col("n_b"))
      .join(captured.select(col("doc_a"), col("doc_b"),
              lit(1L).as("hit")), Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_truth"),
           sum(coalesce(col("hit"), lit(0L))).as("n_captured"))
      .withColumn("recall_ppm",
        expr("CAST(n_captured * 1000000 DIV NULLIF(n_truth, 0) AS BIGINT)"))
  }

  /** SUBSTRING-tier dedup: maximal duplicated word SPANS at arbitrary
    * offsets between doc pairs (r14 verdict task 4) — the "50-token
    * verbatim quote inside an otherwise unique doc" case the rest of the
    * ladder misses: exact dedup needs the whole doc equal, passage dedup
    * needs the quote to align with the fixed k-word passage grid, and
    * MinHash/SimHash need whole-doc similarity. Here any run of ≥
    * `minRun` consecutive shared 3-word shingles is found regardless of
    * offset.
    *
    * Shingle-chain algorithm: positional shingle hashes
    * ([[TextOps.posShinglesOf]]) equi-join on the hash (doc_a < doc_b);
    * each match (pos_a, pos_b) lies on diagonal pos_a − pos_b, and a
    * verbatim span is a gap-free run along one diagonal — coalesced with
    * the standard gaps-and-islands trick (island = pos_a − row_number
    * within (doc_a, doc_b, diag)). Runs ≥ `minRun` shingles (= minRun+2
    * words) roll up per pair: span count, longest and total span words.
    *
    * Giant-bucket guard (the ladder's existing treatment): shingles with
    * more than `maxOcc` total occurrences are dropped BEFORE the pair
    * join — the boilerplate tier by definition (a shingle in hundreds of
    * docs is template text, and its C(occ,2) match volume is the
    * quadratic surface). Documented recall contract: a span whose every
    * shingle is over-cap is invisible; one mid-quote over-cap shingle
    * splits the run in two. The oracle mirrors the same cap, so the
    * contract is checked, not asserted.
    *
    * Scale shape: positional shingling is map-side-linear in corpus
    * words; the occurrence census is one partial-agg groupBy on 32-byte
    * hashes; the match join emits ≤ C(maxOcc,2) rows per shingle value
    * (bucket-bounded, never all-pairs); islands/rollups are windows and
    * partial aggs on the (doc_a, doc_b[, diag]) grain. */
  /** The run grain under [[substringSpansOf]]: one row per maximal
    * duplicated span (doc_a, doc_b, run_len in shingles) — shared by the
    * per-pair rollup and the corpus-level span-length histogram. */
  private[ops] def substringRunsOf(posShingles: DataFrame, minRun: Int,
                                   maxOcc: Int): DataFrame = {
    val rare = posShingles
      .join(posShingles.groupBy("sh").agg(count(lit(1)).as("occ"))
              .where(col("occ") <= maxOcc).select("sh"),
            Seq("sh"))
    val matches = rare
      .select(col("sh"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
      .join(rare.select(col("sh"), col("doc_id").as("doc_b"),
                        col("pos").as("pos_b")), Seq("sh"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"),
              (col("pos_a") - col("pos_b")).as("diag"))
    runsFromMatches(matches, minRun)
  }

  /** Gaps-and-islands run coalescing over a (doc_a, doc_b, pos_a, diag)
    * match grain — shared by the full rebuild ([[substringRunsOf]]) and
    * the incremental check ([[substringSpansIncOf]]). The window is
    * partitioned by (pair, diagonal) — never global. */
  private def runsFromMatches(matches: DataFrame, minRun: Int): DataFrame = {
    matches
      .withColumn("isl", col("pos_a") - row_number().over(
        Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")))
      .groupBy("doc_a", "doc_b", "diag", "isl")
      // start_a kept (one extra partial-agg min): the mask-range consumer
      // needs each run's position, and carrying it lets ALL five
      // substring-tier queries share one memoized run grain
      .agg(count(lit(1)).as("run_len"), min("pos_a").as("start_a"))
      .where(col("run_len") >= minRun)
      .select("doc_a", "doc_b", "diag", "start_a", "run_len")
  }

  /** Memoized run grain (maximal duplicated spans) at the production
    * defaults (minRun=8, maxOcc=64; parameterized callers go through
    * substringRunsOf directly) — the shared upstream of all four
    * substring-tier queries: per-pair rollup, span histogram, quote-heavy
    * docs, source matrix. Without the memo each re-ran the whole explode →
    * census → match join → islands pipeline (r15's four most expensive
    * bench plans, ~12.7 s combined at sf0.1). Same stale-read contract as
    * [[bandsCached]]. */
  private[graft] def substringRunsCached(spark: SparkSession,
                                         dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "dedup.runs") {
      substringRunsOf(TextOps.posShingles(spark, dir), 8, 64).staged
    }

  private[graft] def spansFromRuns(runs: DataFrame): DataFrame =
    runs
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_spans"),
           max(col("run_len") + lit(2)).cast("long").as("max_span_words"),
           sum(col("run_len") + lit(2)).cast("long").as("sum_span_words"))

  def substringSpansOf(posShingles: DataFrame, minRun: Int = 8,
                       maxOcc: Int = 64): DataFrame =
    spansFromRuns(substringRunsOf(posShingles, minRun, maxOcc))

  def substringSpans(spark: SparkSession, dir: String): DataFrame =
    spansFromRuns(substringRunsCached(spark, dir))

  /** Corpus-level duplicated-span LENGTH histogram in power-of-2 word
    * buckets (bucket = [[ilog2]] of span_words) — the one-page
    * quote-contamination readout over [[substringRunsOf]]: a long tail of
    * big buckets says whole passages circulate verbatim (trim or dedup at
    * the span tier); mass at the minimum bucket says short-quote noise.
    * Pair spread counted on a string key so both engines hash the same
    * rendering. Same bucket-bounded scale shape as the span rollup; the
    * histogram itself is a ≤~16-key partial agg. */
  private def spanHistFromRuns(runs: DataFrame): DataFrame =
    runs
      .select((col("run_len") + lit(2)).as("w"),
              concat_ws("_", col("doc_a"), col("doc_b")).as("pair"))
      .select(ilog2(col("w")).as("bucket"), col("w"), col("pair"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_spans"),
           countDistinct(col("pair")).as("n_pairs"),
           max("w").as("max_words"))

  def substringSpanHistOf(posShingles: DataFrame, minRun: Int = 8,
                          maxOcc: Int = 64): DataFrame =
    spanHistFromRuns(substringRunsOf(posShingles, minRun, maxOcc))

  def substringSpanHist(spark: SparkSession, dir: String): DataFrame =
    spanHistFromRuns(substringRunsCached(spark, dir))

  /** QUOTE-HEAVY docs: per document, the total duplicated-span words
    * (both pair sides of [[substringRunsOf]]) against its token count —
    * the per-doc filter signal of the substring tier, the way
    * passageDupRatio is for the passage tier: a doc mostly made of spans
    * that exist verbatim elsewhere is aggregation/boilerplate even when
    * its full text and its passages are unique. `dup_ppm` is an
    * UPPER-BOUND surrogate: spans against different partners may overlap
    * inside the doc and are summed, not unioned (can exceed 10⁶ for
    * heavily-requoted docs — the signal saturates exactly where the doc
    * should be dropped anyway; exact per-word union would need a
    * positional bitmap join that buys nothing at the decision boundary).
    * Docs with zero qualifying spans emit no row.
    *
    * Scale shape: rides the bucket-bounded run grain + one partial-agg
    * groupBy on doc_id + one equi-join to the per-doc stats frame. */
  def quoteHeavyDocsOf(posShingles: DataFrame, textStats: DataFrame,
                       minRun: Int = 8, maxOcc: Int = 64): DataFrame =
    quoteHeavyFromRuns(substringRunsOf(posShingles, minRun, maxOcc),
                       textStats)

  private def quoteHeavyFromRuns(runs: DataFrame,
                                 textStats: DataFrame): DataFrame = {
    val perDoc = runs
      .select(col("doc_a").as("doc_id"), (col("run_len") + lit(2)).as("w"))
      .unionAll(runs.select(col("doc_b").as("doc_id"),
                            (col("run_len") + lit(2)).as("w")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("w").cast("long").as("dup_words"))
    perDoc.join(textStats.select("doc_id", "n_tokens"), Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("dup_words"),
              col("n_tokens"),
        expr("CAST(dup_words * 1000000 DIV n_tokens AS BIGINT)")
          .as("dup_ppm"))
  }

  def quoteHeavyDocs(spark: SparkSession, dir: String): DataFrame =
    quoteHeavyFromRuns(substringRunsCached(spark, dir),
                       TextOps.textStats(spark, dir))

  /** Cross-SOURCE quote-flow matrix: duplicated spans rolled to the
    * (source_a, source_b) grain — WHERE verbatim text circulates, the
    * provenance readout over the substring tier (the span-tier sibling of
    * the near-dup/contamination source attributions): a heavy diagonal
    * cell says a source re-publishes itself (syndication/mirrors), a
    * heavy off-diagonal says quote flow between feeds — the pair to
    * dedup FIRST at ingest. Pair orientation follows the ladder's
    * doc_a < doc_b id order (not source-canonical), mirrored exactly in
    * the oracle. Scale shape: the bucket-bounded run grain + two
    * broadcast-sized dimension joins + a |sources|²-key partial agg. */
  def spanSourceMatrixOf(posShingles: DataFrame, documents: DataFrame,
                         minRun: Int = 8, maxOcc: Int = 64): DataFrame =
    sourceMatrixFromRuns(substringRunsOf(posShingles, minRun, maxOcc),
                         documents)

  private def sourceMatrixFromRuns(runs: DataFrame,
                                   documents: DataFrame): DataFrame =
    withSides(runs, documents, "source", "source_a", "source_b")
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_spans"),
           countDistinct(concat_ws("_", col("doc_a"), col("doc_b")))
             .as("n_pairs"),
           sum(col("run_len") + lit(2)).cast("long").as("span_words"))

  def spanSourceMatrix(spark: SparkSession, dir: String): DataFrame =
    sourceMatrixFromRuns(substringRunsCached(spark, dir),
                         graft.etl.Feeds.table(spark, dir, "documents"))

  /** Per-shingle occurrence CENSUS over an indexed corpus's positional
    * shingles — the substring index's companion artifact. Kept for ALL
    * shingle values (over-cap ones included): the incremental check needs
    * the indexed count even where the position rows were capped away,
    * because a shingle's combined (index + increment) occurrence decides
    * admissibility and an over-cap-in-index shingle must stay blocked for
    * new×new matches too. One partial-agg groupBy on 32-byte hashes; in
    * production a warehouse table bucketed on `sh` (one row per distinct
    * shingle value — tiny next to the position index). */
  def substringCensusOf(posShingles: DataFrame): DataFrame =
    posShingles.groupBy("sh").agg(count(lit(1)).as("occ_i"))

  /** Occurrence-capped positional shingle INDEX — the substring tier's
    * serving artifact (r15 verdict task 4), the span-tier sibling of the
    * minhash band index: position rows whose shingle value is at or under
    * `maxOcc` in the indexed corpus. Over-cap values are template text by
    * the tier's definition AND can never come back under the cap as the
    * corpus grows, so dropping their positions at index-build time is
    * lossless for every future incremental check. In production both
    * artifacts land bucketed on `sh` (`Warehouse.bucketedOverwrite`), so
    * the check-time joins run co-located with NO shuffle on the index
    * side (Round16OpsSpec plan assertion). */
  def substringIndexOf(posShingles: DataFrame, census: DataFrame,
                       maxOcc: Int = 64): DataFrame =
    posShingles.join(
      census.where(col("occ_i") <= maxOcc).select("sh"), Seq("sh"))

  /** INCREMENTAL substring-tier match grain — the crawler re-run shape:
    * a new batch of docs is checked for duplicated spans against the
    * indexed corpus WITHOUT re-shingling or re-joining the corpus
    * against itself. Admissibility uses the COMBINED occurrence count
    * (index census + increment census ≤ `maxOcc`), which is exactly the
    * full rebuild's corpus-wide cap restricted to shingle values the
    * increment touches — so the output equals the rebuild's match grain
    * restricted to pairs with a new side (equivalence-tested, and the
    * oracle IS the restricted rebuild). Inputs must be doc-disjoint
    * (caller contract).
    *
    * Scale shape: the increment's census and self-join are
    * increment-sized; the index is touched by exactly two equi-joins on
    * `sh` (census lookup restricted to the increment's shingle values,
    * then position matches), both co-located when the index artifacts
    * are bucketed on `sh` — the whole match grain builds with no
    * corpus-sized shuffle. Match volume stays ≤ C(maxOcc,2) per shingle
    * value, bucket-bounded like the rebuild. */
  def substringIncMatchesOf(index: DataFrame, census: DataFrame,
                            newShingles: DataFrame,
                            maxOcc: Int = 64): DataFrame = {
    val newCensus = newShingles.groupBy("sh").agg(count(lit(1)).as("occ_n"))
    val adm = newCensus
      .join(census, Seq("sh"), "left")
      .where(col("occ_n") + coalesce(col("occ_i"), lit(0L))
               <= lit(maxOcc.toLong))
      .select("sh")
    val n = newShingles.join(adm, Seq("sh"))
      .select(col("sh"), col("doc_id").as("doc_n"), col("pos").as("pos_n"))
    val vsIdx = n.join(
      index.select(col("sh"), col("doc_id").as("doc_o"),
                   col("pos").as("pos_o")), Seq("sh"))
    val vsNew = n.join(
      n.select(col("sh"), col("doc_n").as("doc_o"),
               col("pos_n").as("pos_o")), Seq("sh"))
      .where(col("doc_n") < col("doc_o"))
    vsIdx.unionAll(vsNew).select(
      least(col("doc_n"), col("doc_o")).as("doc_a"),
      greatest(col("doc_n"), col("doc_o")).as("doc_b"),
      when(col("doc_n") < col("doc_o"), col("pos_n"))
        .otherwise(col("pos_o")).as("pos_a"),
      when(col("doc_n") < col("doc_o"), col("pos_n") - col("pos_o"))
        .otherwise(col("pos_o") - col("pos_n")).as("diag"))
  }

  /** The incremental RUN grain — islands-coalesced spans of every pair
    * touching the increment, the shared upstream of the per-pair rollup
    * ([[substringSpansIncOf]]) and the ingest-time mask ranges
    * ([[spanMaskRangesIncOf]]). Exposed at `graft` scope so the streamed
    * ingest can persist ONE run grain and derive both of its per-batch
    * artifacts from it instead of rebuilding the match join twice. */
  private[graft] def substringIncRunsOf(index: DataFrame, census: DataFrame,
                                        newShingles: DataFrame,
                                        minRun: Int = 8,
                                        maxOcc: Int = 64): DataFrame =
    runsFromMatches(
      substringIncMatchesOf(index, census, newShingles, maxOcc), minRun)

  /** Incremental [[substringSpansOf]]: per-pair span rollup of every pair
    * touching the increment, off the incremental match grain (same
    * islands window and rollup as the rebuild — restriction-equivalence
    * is inherited from the match grain). */
  def substringSpansIncOf(index: DataFrame, census: DataFrame,
                          newShingles: DataFrame, minRun: Int = 8,
                          maxOcc: Int = 64): DataFrame =
    spansFromRuns(substringIncRunsOf(index, census, newShingles, minRun,
                                     maxOcc))

  /** `df` restricted to batch rows: `idCol` above the [[decileSplit]]
    * cutoff of the documents table. */
  private[ops] def batchOnly(df: DataFrame, spark: SparkSession,
                             dir: String,
                             idCol: String = "doc_id"): DataFrame =
    decileSplit(df, graft.etl.Feeds.table(spark, dir, "documents"), idCol)._2

  /** Memoized incremental run grain at the production defaults and the
    * decile-batch convention — the shared upstream of
    * [[dedupSubstringInc]], [[spanMaskRangesInc]],
    * [[quoteHeavyDocsInc]] and [[graft.ops.Corpus.curatedV4Inc]]
    * (without it each re-runs the identical census → capped-index →
    * match-join → islands pipeline: r17's two most expensive bench plans,
    * ~6.7 s combined at sf0.1, were exactly two such re-runs). Same
    * stale-read contract as [[substringRunsCached]]. */
  private[ops] def substringIncRunsCached(spark: SparkSession,
                                          dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "dedup.inc-runs") {
      val (idx, inc) = decileSplit(TextOps.posShingles(spark, dir),
        graft.etl.Feeds.table(spark, dir, "documents"))
      val census = substringCensusOf(idx)
      substringIncRunsOf(substringIndexOf(idx, census), census,
                         inc, 8, 64).staged
    }

  /** Query form: the top decile of doc_ids plays the "new batch"; rides
    * the memoized incremental run grain. */
  def dedupSubstringInc(spark: SparkSession, dir: String): DataFrame =
    spansFromRuns(substringIncRunsCached(spark, dir))

  /** Incremental [[quoteHeavyDocsOf]] — the per-doc quote signal for
    * BATCH docs only, off the incremental run grain: every span of a
    * batch doc comes from a pair with a batch side (itself), so the
    * restriction of the rebuild's per-doc rollup to the batch is exactly
    * the rollup of the incremental grain restricted to batch-side rows —
    * the quote gate an ingest applies to arriving docs without
    * re-shingling the corpus (oracle: [[quoteHeavyDocsOf]] restricted).
    * Scale shape: the memoized grain + one batch-sized partial agg and
    * stats join. */
  def quoteHeavyDocsInc(spark: SparkSession, dir: String): DataFrame =
    batchOnly(quoteHeavyFromRuns(substringIncRunsCached(spark, dir),
                                 TextOps.textStats(spark, dir)),
              spark, dir)

  /** Index-build audit view — the substring tier's "no silent caps"
    * readout (the bucket guard's is [[minhashBandStatsOf]]): ONE row
    * saying how much the occurrence cap removed — distinct shingle
    * values vs over-cap values, total position rows vs rows kept in the
    * index — plus the hottest shingle's occurrence count (how
    * degenerate the worst template run is). A capped index that silently dropped half the
    * corpus would be invisible without this; with it the drop is a
    * committed number per ingest. */
  def substringIndexStatsOf(posShingles: DataFrame,
                            maxOcc: Int = 64): DataFrame =
    substringCensusOf(posShingles)
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("occ_i") > maxOcc, lit(1L)).otherwise(lit(0L)))
             .as("n_overcap"),
           sum(col("occ_i")).cast("long").as("pos_total"),
           sum(when(col("occ_i") <= maxOcc, col("occ_i"))
             .otherwise(lit(0L))).cast("long").as("pos_kept"),
           max(col("occ_i")).as("max_occ"))

  /** Storage-debt LEDGER of the append-only streamed substring ingest
    * ([[graft.streaming.SubstringIngest]]) — the pure relational form of
    * its batch-by-batch index math, so the compaction payoff is an
    * oracle-checked number instead of a stream-spec side effect. The
    * corpus replays as three ascending doc_id-range batches (the bench
    * cycle's grain); per batch: `n_pos` position rows produced,
    * `n_appended` rows the ingest admits (shingle's CUMULATIVE
    * occurrence through this batch ≤ `maxOcc` — the post-batch combined
    * cap), `n_live` rows still matchable at end of stream (TOTAL
    * occurrence ≤ cap), and `n_dead` = appended − live — rows a later
    * batch's cap crossing stranded, exactly what
    * `SubstringIngest.compactState` reclaims.
    *
    * Scale shape: one partial-agg groupBy to the (sh, batch) grain
    * (≤ 3 rows per shingle), windows partitioned by `sh` over those ≤ 3
    * rows (bounded, never corpus-wide), and a 3-row final fold. */
  def substringIngestDebtOf(posShingles: DataFrame,
                            maxOcc: Int = 64): DataFrame = {
    val perShBatch = posShingles
      .crossJoin(broadcast(posShingles.agg(max("doc_id").as("mx"))))
      .withColumn("batch", thirdOf("doc_id"))
      .groupBy("sh", "batch").agg(count(lit(1)).as("occ_b"))
    val cap = lit(maxOcc.toLong)
    perShBatch
      .withColumn("cum",
        sum("occ_b").over(Window.partitionBy("sh").orderBy("batch")))
      .withColumn("total", sum("occ_b").over(Window.partitionBy("sh")))
      .groupBy("batch")
      .agg(sum("occ_b").as("n_pos"),
           sum(when(col("cum") <= cap, col("occ_b")).otherwise(lit(0L)))
             .as("n_appended"),
           sum(when(col("total") <= cap, col("occ_b")).otherwise(lit(0L)))
             .as("n_live"))
      .withColumn("n_dead", col("n_appended") - col("n_live"))
  }

  /** The crawl-replay batch (0, 1, 2) of id column `c`: ascending thirds
    * of `mx`, the max doc_id a broadcast 1-row frame puts in scope — the
    * three-batch grain of [[substringIngestDebtOf]] and [[dupRateByBatch]]. */
  private def thirdOf(c: String): Column =
    when(col(c) <= expr("mx DIV 3"), lit(0L))
      .when(col(c) <= expr("(2 * mx) DIV 3"), lit(1L))
      .otherwise(lit(2L))

  /** The APPLY step of the substring tier: per document, the merged word
    * ranges covered by duplicated spans — exactly the byte ranges a
    * training pipeline masks or drops before tokenization (the span
    * rollup says which PAIRS quote; this says which WORDS of each doc
    * are quoted, overlap-free, so masked-volume accounting never double
    * counts a word two spans share). One row per merged range:
    * (doc_id, start_w, end_w inclusive, masked_words).
    *
    * A run of L matched shingles starting at position s covers words
    * s..s+L+1 on the a-side and (s−diag)..(s−diag)+L+1 on the b-side;
    * both sides union into per-doc intervals, merged by the classic
    * running-max island scan. Scale shape: the match grain is the same
    * occurrence-capped bucket-bounded join as [[substringRunsOf]]; the
    * merge windows are partitioned per doc over that doc's range list
    * (bounded by its span count, never corpus-wide). ROWS frames are
    * explicit on both engines — Spark's default RANGE frame would pool
    * tied (start, end) peers into the indicator sum. */
  def spanMaskRangesOf(posShingles: DataFrame, minRun: Int = 8,
                       maxOcc: Int = 64): DataFrame =
    maskRangesFromRuns(substringRunsOf(posShingles, minRun, maxOcc))

  // DISTINCT before the merge scan: two pairs can contribute the same
  // (doc, s, e) range, and exact-duplicate rows make the (s, e) sort
  // non-total — the prev_max and grp windows are SEPARATE evaluations
  // that may order tied peers differently, splitting one interval into
  // two groups (caught by the sf0.001 oracle diff). Duplicates add
  // nothing to an interval union; dropping them makes the order total.
  private def sidesFromRuns(runs: DataFrame): DataFrame =
    runs
      .select(col("doc_a").as("doc_id"), col("start_a").as("s"),
              (col("start_a") + col("run_len") + lit(1L)).as("e"))
      .unionAll(runs.select(col("doc_b").as("doc_id"),
        (col("start_a") - col("diag")).as("s"),
        (col("start_a") - col("diag") + col("run_len") + lit(1L)).as("e")))
      .distinct()

  private def mergeSides(sides: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    sides
      .withColumn("prev_max", max("e").over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("grp", sum(
          when(col("prev_max").isNull || col("s") > col("prev_max"), lit(1L))
            .otherwise(lit(0L)))
        .over(byDoc.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min("s").as("start_w"), max("e").as("end_w"))
      .select(col("doc_id"), col("start_w"), col("end_w"),
              (col("end_w") - col("start_w") + lit(1L)).as("masked_words"))
  }

  private[graft] def maskRangesFromRuns(runs: DataFrame): DataFrame =
    mergeSides(sidesFromRuns(runs))

  /** Query form rides the same memoized run grain as the other four
    * substring-tier queries — the mask scan itself is range-list-sized. */
  def spanMaskRanges(spark: SparkSession, dir: String): DataFrame =
    maskRangesFromRuns(substringRunsCached(spark, dir))

  /** Per-SOURCE mask-savings rollup over [[spanMaskRangesOf]] — the
    * curation sizing readout: how many words per source the span tier
    * would mask (overlap-free, so the ppm is a true volume fraction,
    * unlike the double-counting span rollup). One row per source:
    * docs, quote-carrying docs, total words, maskable words, masked ppm.
    * Scale shape: the range list folds per doc (range-list-sized), then
    * a left join onto the doc grain and one partial-agg groupBy on the
    * low-cardinality source key. */
  def maskSavingsBySourceOf(docsWords: DataFrame,
                            ranges: DataFrame): DataFrame = {
    val perDoc = ranges.groupBy("doc_id")
      .agg(sum("masked_words").as("masked"))
    docsWords
      .select(col("doc_id"), col("source"),
              expr("CAST(size(words) AS BIGINT)").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           count(col("masked")).as("n_quote_docs"),
           sum("n_words").as("total_words"),
           coalesce(sum("masked"), lit(0L)).as("masked_words"))
      .withColumn("masked_ppm",
                  expr("masked_words * 1000000L div total_words"))
  }

  /** Crawl-health TREND: the corpus replayed as three ascending
    * doc_id-range batches (the ingest-debt grain), per batch the count
    * of its docs that near-duplicate an EARLIER batch (the wasted-crawl
    * signal a rising curve means re-crawling known content) and the
    * count duplicating within the batch — over the guarded minhash pair
    * grain, so the candidate volume is bucket-bounded. ppm on the
    * prior-dup count: the number a crawl monitor alerts on.
    * Scale shape: batch tags are arithmetic on a broadcast 1-row max
    * (no join), then two partial-agg distinct-counts on the pair list
    * and a 3-row assembly. */
  def dupRateByBatch(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.etl.Feeds.table(spark, dir, "documents")
    val mx = docs.agg(max("doc_id").as("mx"))
    val p = minhashPairs(spark, dir).crossJoin(broadcast(mx))
      .select(thirdOf("doc_a").as("ba"), col("doc_a"),
              thirdOf("doc_b").as("bb"), col("doc_b"))
    val prior = p.where(col("ba") < col("bb"))
      .groupBy(col("bb").as("batch"))
      .agg(countDistinct("doc_b").as("n_dup_prior"))
    val intraPairs = p.where(col("ba") === col("bb"))
    val intra = intraPairs
      .select(col("ba").as("batch"), col("doc_a").as("d"))
      .unionAll(intraPairs.select(col("bb").as("batch"),
                                  col("doc_b").as("d")))
      .groupBy("batch").agg(countDistinct("d").as("n_dup_intra"))
    docs.crossJoin(broadcast(mx))
      .select(thirdOf("doc_id").as("batch"))
      .groupBy("batch").agg(count(lit(1)).as("n_docs"))
      .join(prior, Seq("batch"), "left")
      .join(intra, Seq("batch"), "left")
      .select(col("batch"), col("n_docs"),
        coalesce(col("n_dup_prior"), lit(0L)).as("n_dup_prior"),
        coalesce(col("n_dup_intra"), lit(0L)).as("n_dup_intra"))
      .withColumn("dup_prior_ppm",
                  expr("n_dup_prior * 1000000L div n_docs"))
  }

  /** INGEST-TIME masking: merged mask ranges of the NEW batch's docs
    * only, off the incremental match grain — quote-mask arriving docs
    * against the corpus before admission, without re-shingling the
    * corpus. Equals the full rebuild's [[spanMaskRangesOf]] restricted
    * to batch docs: every pair touching a batch doc has a batch side,
    * so the restriction inherits the match grain's combined-cap ≡
    * corpus-cap equivalence — and the oracle IS that restriction. Sides
    * are filtered to batch docs BEFORE the merge scan (old-side ranges
    * are the already-ingested docs' concern, handled at their own
    * ingest). Inputs doc-disjoint (caller contract, as
    * [[substringIncMatchesOf]]). */
  def spanMaskRangesIncOf(index: DataFrame, census: DataFrame,
                          newShingles: DataFrame, minRun: Int = 8,
                          maxOcc: Int = 64): DataFrame =
    maskRangesIncFromRuns(
      substringIncRunsOf(index, census, newShingles, minRun, maxOcc),
      newShingles.select("doc_id").distinct())

  /** Mask ranges restricted to `newDocs` off an already-built incremental
    * run grain — the streamed ingest's entry point (it persists the runs
    * and derives spans + masks from the one evaluation). */
  private[graft] def maskRangesIncFromRuns(runs: DataFrame,
                                           newDocs: DataFrame): DataFrame =
    mergeSides(sidesFromRuns(runs).join(newDocs, Seq("doc_id"), "left_semi"))

  /** Query form: top decile of doc_ids plays the new batch (the
    * [[dedupSubstringInc]] convention); rides the memoized incremental
    * run grain — the mask merge itself is range-list-sized. */
  def spanMaskRangesInc(spark: SparkSession, dir: String): DataFrame =
    maskRangesIncFromRuns(
      substringIncRunsCached(spark, dir),
      batchOnly(graft.etl.Feeds.table(spark, dir, "documents")
                  .select("doc_id"), spark, dir))

  /** Cross-TIER pair overlap census: the guarded minhash near-dup pairs
    * against the substring-span quote pairs, ONE row — how much of the
    * quote tier the whole-doc tier already catches (n_both vs
    * n_substring) and vice versa. The number that justifies running BOTH
    * tiers at ingest: near-dup finds documents that are mostly the same,
    * the span tier finds verbatim quotes inside otherwise-unique docs,
    * and a small intersection here is the measured form of that claim.
    * Scale shape: both pair lists are already bucket-bounded; the full
    * outer join keys on the pair and the census is a 1-row fold. */
  def dedupTierOverlapOf(minhashPairs: DataFrame,
                         spans: DataFrame): DataFrame =
    minhashPairs.select(col("doc_a"), col("doc_b"), lit(true).as("has_m"))
      .join(spans.select(col("doc_a"), col("doc_b"), lit(true).as("has_s")),
            Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum(when(col("has_m"), lit(1L)).otherwise(lit(0L)))
             .as("n_minhash"),
           sum(when(col("has_s"), lit(1L)).otherwise(lit(0L)))
             .as("n_substring"),
           sum(when(col("has_m") && col("has_s"), lit(1L)).otherwise(lit(0L)))
             .as("n_both"))

  /** Per-band bucket-occupancy ENTROPY surrogate ([[entropySurrOf]] over
    * the band's bucket sizes) plus count/max — one number per band saying
    * whether the hash spreads signatures (entropy near n·log2(buckets)) or
    * collapses them (entropy → 0 ⇒ the band is one giant bucket and the
    * pair join under it is quadratic). The SUMMARY tier above
    * [[minhashBandStatsOf]]'s size histogram: a monitor alert thresholds
    * one number, then pulls the histogram.
    *
    * Scale shape: one partial-agg groupBy per (band, hash) over the
    * memoized bands, one |bands|-key fold. */
  def bandEntropyOf(bands: DataFrame): DataFrame =
    entropySurrOf(
      bands.groupBy("band", "band_hash").agg(count(lit(1)).as("s")),
      "band", "s", "n_sigs")(
      count(lit(1)).as("n_buckets"), sum("s").as("n_sigs"),
      max("s").as("max_bucket"))

}
