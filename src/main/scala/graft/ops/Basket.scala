package graft.ops

import graft.Memo
import graft.Memo.TruncateOps
import graft.etl.Feeds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence mining over the order feed — the frequent
  * pairwise-itemset slice of an association-rules pipeline (training-data
  * curation uses the same shape for co-occurring n-grams / co-cited docs).
  *
  * Scale shape (the reason this is written as a key-equi self-join, not an
  * all-pairs product): the self-join shuffles BOTH sides on `l_orderkey` —
  * one exchange per side, then a co-partitioned sort-merge — and the
  * per-order fanout is bounded by basket size (TPC-H-ish orders hold ≤7
  * items ⇒ ≤21 pairs), so the pair stream is a small constant times the
  * input, never quadratic in |parts|. The support filter runs inside the
  * pair aggregation (partial map-side combine), and the per-part frequency
  * table joined for the lift denominators is dimension-sized → broadcast.
  * At 100 TB the only knob is basket-size skew: a pathological giant order
  * would need the same star-pair guard as Dedup's giant LSH buckets.
  */
object Basket {

  // The graph ops persist per-call intermediates (edge lists, degree
  // tables) whose consumers are lazy, so the frames cannot be unpersisted
  // before return ([[graphHopsOf]]'s bounded-output collect trick doesn't
  // apply to node-/pair-sized outputs): they are registry-owned
  // ([[graft.Memo.pin]]), released with the grain being built (or at
  // session teardown). Query-level entry points memoize their RESULT per
  // (session, dir), truncated ([[graft.Memo]]), so a long-lived session
  // re-running a query reuses the first call's intermediates instead of
  // accreting new ones. Memoized queries compose (topPartners builds on
  // partPairs) — the registry's grains nest.

  /** Distinct (order, part) pairs — basket semantics are set-based: a part
    * listed on two lines of one order counts once. */
  def itemsOf(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()

  /** Co-occurring part pairs with support ≥ `minSupport`, plus lift
    * (= P(a,b) / (P(a)·P(b))) from exact integer counts; the single double
    * division at the end is the only floating-point op (bit-identical to
    * the DuckDB oracle's). */
  def partPairsOf(lineitem: DataFrame, minSupport: Int = 2): DataFrame = {
    // items feeds FIVE plan positions (both join sides, two lift
    // denominators, the order total) — persist so the scan+distinct runs
    // once (CacheManager dedupes the canonicalized subplan; the house
    // shared-subplan pattern, see Dedup.minhashPairsOf). Tracked: the
    // lazy result frame references it, so its release waits for the
    // caller's grain or the session teardown (r13 verdict task 2).
    val items = Memo.pin(itemsOf(lineitem))
    val nOrders = items.select(countDistinct("l_orderkey").as("n_orders"))
    val freq = items.groupBy("l_partkey").agg(count(lit(1)).as("n"))

    val a = items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
    val b = items.select(col("l_orderkey"), col("l_partkey").as("part_b"))
    val pairs = a.join(b, Seq("l_orderkey"))
      .where(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_both"))
      .where(col("n_both") >= minSupport)

    pairs
      .join(broadcast(freq.select(col("l_partkey").as("part_a"), col("n").as("n_a"))), Seq("part_a"))
      .join(broadcast(freq.select(col("l_partkey").as("part_b"), col("n").as("n_b"))), Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(
        col("part_a"), col("part_b"), col("n_both"), col("n_a"), col("n_b"),
        ((col("n_both") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  def partPairs(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.partPairs") {
      partPairsOf(Feeds.table(spark, dir, "lineitem")).truncated
    }

  /** Undirected co-purchase edges (support ≥ `minSupport` basket pairs). */
  def coPurchaseEdgesOf(lineitem: DataFrame, minSupport: Int = 2): DataFrame =
    partPairsOf(lineitem, minSupport)
      .select(col("part_a").as("u"), col("part_b").as("v"))

  // ---- r18: the SHARED persisted graph grain -------------------------
  // Eight graph queries (components, pagerank, neighbor-jaccard, hops,
  // assortativity, local-cc, triangles, degree-dist) each rebuilt the
  // support-filtered edge list — and three of them the degree-ordered
  // wedge join — from scratch on every call. The edge list is THE graph
  // serving artifact (in production a materialized table); build it once
  // per (session, dir) and hang the degree / orientation / triangle-corner
  // grains off it, so each pipeline stage runs once and every consumer
  // starts from an in-memory scan. Same stale-read contract as every
  // registry grain.

  /** Memoized, persisted co-purchase edge list at the default support. */
  def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.coPurchaseEdges") {
      coPurchaseEdgesOf(Feeds.table(spark, dir, "lineitem")).truncated
    }

  /** Per-node degree of the undirected edge list. */
  private[ops] def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Edges with both endpoint degrees attached (feeds orientation and the
    * per-edge rollups). */
  private[ops] def withDegOf(edges: DataFrame, deg: DataFrame): DataFrame =
    edges
      .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), Seq("v"))

  private def higherCond = col("deg_u") < col("deg_v") ||
    (col("deg_u") === col("deg_v") && col("u") < col("v"))

  /** Degree-ordered orientation: every edge points to its (degree, id)-
    * larger endpoint — the O(√m) out-degree bound behind every triangle
    * consumer. */
  private[ops] def orientedOf(withDeg: DataFrame): DataFrame =
    withDeg
      .select(when(higherCond, col("u")).otherwise(col("v")).as("src"),
              when(higherCond, col("v")).otherwise(col("u")).as("dst"))

  /** Triangle corners (src, v1, v2): each triangle enumerated exactly once
    * from its lowest-(degree, id) vertex via the wedge join — the one
    * O(m^1.5) stage, shared by the census, the local-cc histogram and the
    * per-edge jaccard instead of re-run by each. */
  private[ops] def triCornersOf(oriented: DataFrame): DataFrame = {
    val paths = oriented.select(col("src"), col("dst").as("v1"))
      .join(oriented.select(col("src"), col("dst").as("v2")), Seq("src"))
      .where(col("v1") =!= col("v2"))
    paths
      .join(oriented.select(col("src").as("v1"), col("dst").as("v2")),
            Seq("v1", "v2"))
      .select(col("src"), col("v1"), col("v2"))
  }

  private def graphDegrees(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.graphDegrees") {
      degreesOf(coPurchaseEdges(spark, dir)).truncated
    }

  private def graphWithDeg(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.graphWithDeg") {
      withDegOf(coPurchaseEdges(spark, dir), graphDegrees(spark, dir))
        .truncated
    }

  private def graphTriCorners(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.graphTriCorners") {
      triCornersOf(orientedOf(graphWithDeg(spark, dir))).truncated
    }

  /** Per-node triangle count — node-sized, so the local-cc consumer reads
    * a tiny frame instead of re-folding the (much larger) corner list per
    * call. */
  private def graphNodeTri(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.graphNodeTri") {
      nodeTriOf(graphTriCorners(spark, dir)).truncated
    }

  /** Triangle corners folded to (node, n_tri). */
  private[ops] def nodeTriOf(corners: DataFrame): DataFrame =
    corners.select(col("src").as("node"))
      .unionAll(corners.select(col("v1").as("node")))
      .unionAll(corners.select(col("v2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  // --------------------------------------------------------------------

  /** Triangle census of an undirected graph — node/edge/wedge/triangle
    * counts and the global clustering coefficient (3·triangles / wedges).
    *
    * Uses DEGREE ORDERING, the standard distributed-triangle-counting
    * trick: orient every edge toward its (degree, id)-larger endpoint.
    * The result is a DAG in which each triangle has exactly ONE node with
    * out-edges to the other two, so joining out-edge pairs against the
    * oriented edge set counts each triangle exactly once — and, the scale
    * point, out-degrees are bounded by O(√m), so the wedge join generates
    * Σ C(outdeg, 2) = O(m^1.5) candidate paths instead of the Σ C(deg, 2)
    * blowup a hub node causes under arbitrary orientation. All joins are
    * key-equi shuffles; counts are exact integers, the coefficient is one
    * double division.
    */
  def triangleStatsOf(edges0: DataFrame): DataFrame = {
    val edges = Memo.pin(edges0) // feeds degrees + orient + close
    val deg = Memo.pin(degreesOf(edges))
    val corners = triCornersOf(orientedOf(
      Memo.pin(withDegOf(edges, deg))))
    triangleStatsFrom(edges, deg, corners)
  }

  /** Census fold over prebuilt grain pieces (the r18 shared-grain entry —
    * identical arithmetic to the self-contained [[triangleStatsOf]]). */
  private def triangleStatsFrom(edges: DataFrame, deg: DataFrame,
                                corners: DataFrame): DataFrame = {
    val tri = corners.agg(count(lit(1)).as("n_triangles"))
    val degAgg = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("CAST(sum((deg * (deg - 1)) div 2) AS BIGINT)").as("n_wedges"))
    val edgeAgg = edges.agg(count(lit(1)).as("n_edges"))
    broadcast(degAgg).crossJoin(broadcast(edgeAgg)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          (col("n_triangles") * lit(3)).cast("double") /
            col("n_wedges").cast("double")).as("global_cc"))
  }

  def triangleStats(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.triangleStats") {
      triangleStatsFrom(coPurchaseEdges(spark, dir),
                        graphDegrees(spark, dir),
                        graphTriCorners(spark, dir))
    }

  /** Connected components of the co-purchase graph (component id = min
    * part id), rolled up to (component, size) — the category-discovery
    * readout. REUSES the dedup stack's star-contraction CC
    * ([[Dedup.clustersFastOf]], O(log n) rounds): co-purchase components
    * can be long chains, where min-label propagation's O(diameter) rounds
    * would be the scale risk. Only nodes with edges enter the loop. */
  def coPurchaseComponentsOf(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("u").as("doc_id"))
      .unionAll(edges.select(col("v").as("doc_id"))).distinct()
    val pairs = edges.select(col("u").as("doc_a"), col("v").as("doc_b"))
    Dedup.clustersFastOf(nodes, pairs)
      .groupBy(col("cluster").as("component"))
      .agg(count(lit(1)).as("n_parts"))
  }

  def coPurchaseComponents(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.coPurchaseComponents") {
      coPurchaseComponentsOf(coPurchaseEdges(spark, dir))
    }

  /** PageRank over the co-purchase graph — `iters` power iterations in
    * EXACT INTEGER fixed-point (ranks in parts-per-million; damping
    * 0.85 ≡ ·17 div 20): distributed double sums are addition-order-
    * dependent, so a float PageRank can never hash-match an oracle — the
    * integer formulation makes every iteration bit-identical on both
    * engines at the cost of ≤1 ppm truncation per term. Symmetrized edges
    * mean out-degree = degree and no dangling nodes (every node in the
    * edge set both emits and receives), so no teleport-mass correction
    * term is needed.
    *
    * Scale shape per iteration: one equi-join shuffle on src (rank ×
    * degree, both node-sized) and one partial-agg groupBy on dst — the
    * classic message-passing pair, same partitioning reused across
    * iterations. The edge frame is persisted once; iteration count is
    * FIXED (a convergence loop would put a driver-side count() in every
    * round — the fixed-round form is what production topic-rank jobs
    * run). */
  def pageRankOf(edges0: DataFrame, iters: Int = 3): DataFrame = {
    val sym = Memo.pin(
      edges0.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(edges0.select(col("v").as("src"), col("u").as("dst"))))
    val deg = Memo.pin(
      sym.groupBy("src").agg(count(lit(1)).as("deg")))
    var rank = deg.select(col("src").as("node"),
      lit(1000000L).as("rank_ppm"))
    for (_ <- 1 to iters) {
      val contrib = rank
        .join(deg, rank("node") === deg("src"))
        .select(col("src"), expr("rank_ppm div deg").as("contrib"))
      rank = sym.join(contrib, "src")
        .groupBy("dst").agg(sum("contrib").as("s"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(s * 17) div 20")).as("rank_ppm"))
    }
    rank.select(col("node").as("part"), col("rank_ppm"))
  }

  def pageRank(spark: SparkSession, dir: String): DataFrame =
    // r18: ranks persisted (part-sized) — the fixed-round iteration plan
    // otherwise re-executes its 3 × (join + groupBy) chain per call;
    // production topic-rank jobs materialize the rank table.
    graft.Caches.grain(spark, dir, "basket.pageRank") {
      pageRankOf(coPurchaseEdges(spark, dir)).truncated
    }

  /** Degree distribution of the co-purchase graph — the power-law readout
    * that sizes every downstream graph decision (is a hub guard needed?
    * how big can a wedge join get?). Two partial-agg groupBys (node →
    * degree, degree → count); output is max-degree-sized. */
  def degreeDistOf(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))

  def degreeDist(spark: SparkSession, dir: String): DataFrame =
    graphDegrees(spark, dir)
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))

  /** Per-edge neighbor-set Jaccard of the co-purchase graph — the
    * link-strength / link-prediction readout (an edge whose endpoints
    * share most of their neighborhoods is a stable association; one with
    * zero common neighbors is probably noise). common(u,v) = triangles
    * through the edge; J = common / (deg_u + deg_v − common) (u,v are in
    * the union but never common), ppm-exact.
    *
    * Scale shape: same degree-ordered wedge join as [[triangleStatsOf]]
    * (each triangle enumerated exactly once from its lowest-degree
    * vertex — the hub guard), then the triangle list fans back to its 3
    * edges (bounded ×3) into a partial-agg rollup and one left join onto
    * the edge list. Never a neighbor-list crossJoin on a hub. */
  def neighborJaccardOf(edges0: DataFrame): DataFrame = {
    val edges = Memo.pin(edges0)
    val deg = Memo.pin(degreesOf(edges))
    val withDeg = Memo.pin(withDegOf(edges, deg))
    neighborJaccardFrom(withDeg, triCornersOf(orientedOf(withDeg)))
  }

  /** Per-edge rollup over prebuilt grain pieces (r18 shared-grain entry —
    * identical arithmetic to the self-contained [[neighborJaccardOf]]). */
  private def neighborJaccardFrom(withDeg: DataFrame,
                                  tri: DataFrame): DataFrame = {
    val triEdges = tri
      .select(least(col("src"), col("v1")).as("u"),
              greatest(col("src"), col("v1")).as("v"))
      .unionAll(tri.select(least(col("src"), col("v2")).as("u"),
                           greatest(col("src"), col("v2")).as("v")))
      .unionAll(tri.select(least(col("v1"), col("v2")).as("u"),
                           greatest(col("v1"), col("v2")).as("v")))
      .groupBy("u", "v").agg(count(lit(1)).as("n_common"))
    withDeg.join(triEdges, Seq("u", "v"), "left")
      .select(col("u"), col("v"), col("deg_u"), col("deg_v"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        expr("""CAST(coalesce(n_common, 0) * 1000000
                DIV (deg_u + deg_v - coalesce(n_common, 0)) AS BIGINT)""")
          .as("jaccard_ppm"))
  }

  def neighborJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.neighborJaccard") {
      neighborJaccardFrom(graphWithDeg(spark, dir),
                          graphTriCorners(spark, dir))
    }

  /** Multi-hop reachability histogram: BFS from the hub (highest-degree
    * node, ties to the smaller id) over the co-purchase graph, min-hop
    * per node, rolled up to (hops, n_items) for hops ≤ `maxHops` — the
    * "how much of the catalog is within k recommendation hops" readout.
    *
    * Scale shape: FIXED-ROUND frontier expansion (no driver-side
    * convergence count()): each round is one equi-join shuffle of the
    * previous frontier against the symmetrized edge list keyed by src,
    * then min-hop dedup folds all rounds in a single partial-agg groupBy.
    * Frontier frames stay node-sized; the hub seed is a 1-row broadcast.
    * A diameter-sized loop would be the scale risk — k is a constant.
    * Min-hop, not path enumeration: the union can re-reach a node, the
    * final min() collapses it (no exponential path blowup).
    *
    * Persist hygiene: the per-call frames (symmetrized edges + one
    * frontier per hop) are call-scoped ([[graft.Memo.scoped]]) — the
    * final rollup is at most `maxHops + 1` rows, so it is materialized
    * here (a bounded collect, same stance as Layout's scalar metrics) and
    * every per-call frame is unpersisted before returning. A long-lived
    * session can call this repeatedly without accreting ~4 cached frames
    * per invocation. */
  def graphHopsOf(edges0: DataFrame, maxHops: Int = 3): DataFrame =
    Memo.scoped { hold =>
      val sym = hold(edges0.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(edges0.select(col("v").as("src"), col("u").as("dst"))))
      val seed = sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("node"))
        .limit(1)
        .select(col("node"))
      // no broadcast hint: hop-0 is one row but later frontiers grow —
      // AQE picks broadcast vs shuffle per round from actual sizes
      var frontier = hold(seed)
      var reached = frontier.select(col("node"), lit(0L).as("hops"))
      for (h <- 1 to maxHops) {
        frontier = hold(sym
          .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct())
        reached = reached.unionAll(
          frontier.select(col("node"), lit(h.toLong).as("hops")))
      }
      val rollup = reached
        .groupBy("node").agg(min("hops").as("min_hops"))
        .groupBy(col("min_hops").as("hops"))
        .agg(count(lit(1)).as("n_items"))
      val rows = rollup.collect() // ≤ maxHops + 1 rows by construction
      rollup.sparkSession.createDataFrame(
        rollup.sparkSession.sparkContext.parallelize(rows.toIndexedSeq, 1),
        rollup.schema)
    }

  def graphHops(spark: SparkSession, dir: String): DataFrame =
    // r18: memoized — graphHopsOf runs its BFS rounds and collects the
    // bounded rollup eagerly at construction, so an unmemoized call
    // re-runs the whole expansion every time; shared edge grain.
    graft.Caches.grain(spark, dir, "basket.graphHops") {
      graphHopsOf(coPurchaseEdges(spark, dir))
    }

  /** Degree assortativity of the co-purchase graph: Pearson correlation
    * of endpoint degrees over the symmetrized edge list — positive means
    * hubs link to hubs (one giant dense core; mining gets quadratic-ish),
    * negative means hub-and-spoke. The sums are exact BIGINTs; the final
    * Pearson arithmetic runs in DOUBLE on the one-row fold (identical
    * expression tree in the oracle, and double avoids the n·Σxy int64
    * overflow a web-scale graph would hit). The variance denominator is
    * wrapped in nullif(·, 0): a degree-regular graph makes it exactly 0,
    * where Spark's Divide returns NULL but DuckDB (IEEE float division)
    * returns NaN/inf — nullif pins BOTH engines to NULL (assortativity is
    * genuinely undefined at zero degree variance).
    *
    * Scale shape: the symmetrized endpoint degrees are the shared
    * [[graphWithDeg]] grain read twice (once per direction), then one
    * global partial-agg fold to a single row. */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.degreeAssortativity") {
      val wd = graphWithDeg(spark, dir)
      wd.select(col("deg_u").as("da"), col("deg_v").as("db"))
        .unionAll(wd.select(col("deg_v").as("da"), col("deg_u").as("db")))
        .agg(count(lit(1)).as("n_endpoints"),
             sum("da").as("s_deg"),
             sum(col("da") * col("da")).as("s_deg2"),
             sum(col("da") * col("db")).as("s_prod"))
        .select(col("n_endpoints"), col("s_deg"), col("s_deg2"),
          col("s_prod"),
          expr("""(CAST(n_endpoints AS DOUBLE) * CAST(s_prod AS DOUBLE)
                 - CAST(s_deg AS DOUBLE) * CAST(s_deg AS DOUBLE))
                / nullif(CAST(n_endpoints AS DOUBLE) * CAST(s_deg2 AS DOUBLE)
                 - CAST(s_deg AS DOUBLE) * CAST(s_deg AS DOUBLE), 0.0D)""")
            .as("assortativity"))
    }

  /** Per-part top-k co-purchase PARTNERS — the "frequently bought
    * together" serving table a recommender materializes. Ranked by
    * co-occurrence count with the partner id as the deterministic
    * tiebreak (exact integers only; lift's double stays out of the
    * ordering so the rank is bit-stable cross-engine).
    *
    * Scale shape: the symmetrized pair list is collision-bounded
    * (baskets ≤ ~7 items), and the rank window is partitioned per part —
    * partition size = the part's candidate degree, never global. */
  def topPartnersOf(lineitem: DataFrame, k: Int = 3): DataFrame =
    topPartnersOfPairs(partPairsOf(lineitem), k)

  /** graft-private (not bare private): ScaleProbe's copurchase split
    * probe times this window phase separately from the pair build. */
  private[graft] def topPartnersOfPairs(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = pairs
      .select(col("part_a").as("part"), col("part_b").as("partner"),
              col("n_both"))
      .unionAll(pairs.select(col("part_b").as("part"),
                             col("part_a").as("partner"), col("n_both")))
    sym
      .withColumn("rn", row_number().over(
        Window.partitionBy("part")
          .orderBy(col("n_both").desc, col("partner"))).cast("long"))
      .where(col("rn") <= k)
      .select("part", "partner", "n_both", "rn")
  }

  def topPartners(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.topPartners") {
      topPartnersOfPairs(partPairs(spark, dir), 3)
    }

  /** LOCAL clustering-coefficient decile histogram: per node with
    * degree ≥ 2, cc = triangles(v) / C(deg(v), 2), bucketed into integer
    * deciles (exact: 2·10·tri DIV deg·(deg−1), capped at 10) — the
    * community-structure readout that says whether the graph is cliquey
    * (recommendations transfer) or stringy (they don't).
    *
    * Scale shape: triangles enumerate ONCE through the degree-ordered
    * wedge join ([[triangleStatsOf]]'s O(m^1.5) bound), fan back to
    * their three corners (×3), one partial-agg per-node rollup, one
    * ~11-key histogram groupBy. */
  def localCcHistOf(edges0: DataFrame): DataFrame = {
    val edges = Memo.pin(edges0)
    val deg = Memo.pin(degreesOf(edges))
    val corners = triCornersOf(orientedOf(
      Memo.pin(withDegOf(edges, deg))))
    localCcHistFrom(deg, nodeTriOf(corners))
  }

  /** Histogram fold over prebuilt grain pieces (r18 shared-grain entry —
    * identical arithmetic to the self-contained [[localCcHistOf]]). */
  private def localCcHistFrom(deg: DataFrame,
                              nodeTri: DataFrame): DataFrame = {
    deg.where(col("deg") >= 2)
      .join(nodeTri, Seq("node"), "left_outer")
      .select(expr("""CAST(least(coalesce(n_tri, 0) * 2 * 10
                      DIV (deg * (deg - 1)), 10) AS BIGINT)""")
        .as("cc_decile"))
      .groupBy("cc_decile").agg(count(lit(1)).as("n_nodes"))
  }

  def localCcHist(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "basket.localCcHist") {
      localCcHistFrom(graphDegrees(spark, dir),
                      graphNodeTri(spark, dir))
    }

}
