package graft

import graft.catalog.Warehouse
import graft.etl.{Retention, Sales}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness: synthesizes an N× dataset from sf0.1 by key-shifted
  * self-union (orderkeys/event ids/doc ids shifted per copy so cardinalities
  * genuinely grow; dims stay fixed like real dimensions), then times a
  * representative query subset at 1× and N× to show the plans scale
  * near-linearly (documented in ARCHITECTURE.md).
  *
  *   sbt "runMain graft.ScaleProbe 8"
  */
object ScaleProbe {

  /** Probe list = the FULL live registry, derived (alphabetical), never
    * hand-maintained: r13 verdict task 5 — round additions were duplicated
    * here and in [[SparkEntry.newThisRound]], a drift risk every round.
    * QueriesIndexSpec pins probe ≡ registry; deriving makes drift impossible.
    * Expected >N ratios are the documented flat-scan/quadratic-by-design
    * exactness baselines beside their blocked/grained production siblings:
    * q_ann_cosine_topk[_fast] (brute force), q_f_customer_retention
    * (faithful N6 period-only join; *_grain is the scale path),
    * q_dedup_embedding (label-blocked; IVF/LSH siblings are the scale
    * path), and the pair-list monitors whose OUTPUT is quadratic in clone
    * group size (q_knn_components, q_ann_kmeans_assign,
    * q_multimodal_near_dup — guarded sibling q_multimodal_near_dup_clusters
    * is the production entry). */
  val probeQueries: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Drops both cache layers so the next timed pass recomputes from
    * parquet: CacheManager data (persist frames) and every memo entry of
    * the WHOLE session — not just one dir's (another dir's leftover frames
    * would otherwise sit in the block manager and evict this pass's
    * staging cache mid-run) — so 1× and N× pay identical first-touch costs
    * and a ratio measures the plans, not cache luck. */
  private def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Caches.invalidateAll(spark)
  }

  /** Seconds per query for one cache-cold pass over `qs` on `dir`. Times
    * `count()`, not the full result, so the ratios stay comparable with
    * the ones committed in queries_index.json. */
  private def timeCounts(spark: SparkSession, dir: String,
                         qs: Seq[String]): Map[String, Double] = {
    dropCaches(spark)
    qs.map { q =>
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).count()
      q -> (System.nanoTime() - t0) / 1e9
    }.toMap
  }

  /** The warehouse read-back series: one query per mart over a
    * materialized warehouse at `root`. */
  private def warehouseQueries(spark: SparkSession,
                               root: String): Seq[(String, () => DataFrame)] = {
    val wh = new Warehouse(spark, root)
    def v2 = wh.read("staging", "user_order_log_v2")
    def weeks = wh.read("mart", "d_calendar_weeks")
    def tagged = Retention.withPeriod(v2, weeks)
    Seq(
      "w_f_sales" -> (() =>
        Sales.fSales(wh.read("staging", "user_order_log"),
                     wh.read("mart", "d_calendar"))),
      "w_new_customers" -> (() => Retention.newCust(tagged, true)),
      "w_returned_customers" -> (() => Retention.returnedCust(tagged, true)),
      "w_refunded_customers" -> (() => Retention.refundedCust(tagged, true)),
      "w_retention_compact" -> (() =>
        Retention.retentionCompact(Retention.newCust(tagged, false),
          Retention.returnedCust(tagged, false),
          Retention.refundedCust(tagged, false))),
      "w_f_customer_retention_grain" -> (() =>
        Retention.fCustomerRetentionGrain(Retention.newCust(tagged, true),
          Retention.returnedCust(tagged, true),
          Retention.refundedCust(tagged, true))),
      // the pruned read path — one month of the 80-month fact through
      // readRange: lists/opens ~1/80th of the files the full-scan w_*
      // queries pay for, i.e. the payoff side of the month layout
      "w_uol_v2_month" -> (() =>
        wh.readRange("staging", "user_order_log_v2", Warehouse.PartCol,
                     "1997-01", "1997-01")
          .groupBy("status")
          .agg(sum("payment_amount").as("amt"))))
  }

  /** One streamed substring-ingest cycle (`w_ss_ingest`): split `sfDir`'s
    * documents into three ascending doc_id ranges, deliver each as one
    * parquet file into a fresh watch dir, and drain per delivery
    * ([[graft.streaming.SubstringIngest.runIngestAvailableNow]]) — the
    * crawler's steady state: check batch against the committed bucketed
    * index, fold its shingles in, commit. */
  private def ssIngestCycle(spark: SparkSession, sfDir: String,
                            root: String): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.agg(max("doc_id")).head().getLong(0)
    val wh = new Warehouse(spark, s"$root/wh")
    val watch = s"$root/watch"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
    val cuts = Seq(n / 3, 2 * n / 3)
    for (i <- 0 to 2) {
      val b = i match {
        case 0 => docs.where(col("doc_id") <= cuts(0))
        case 1 => docs.where(col("doc_id") > cuts(0) &&
                             col("doc_id") <= cuts(1))
        case _ => docs.where(col("doc_id") > cuts(1))
      }
      val tmp = s"$root/.deliver_$i"
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, s"crawl_$i.parquet"))
      graft.streaming.SubstringIngest.runIngestAvailableNow(spark, sfDir,
        watch, s"$root/ckpt", wh, s"$root/results")
    }
  }

  def makeBig(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    // the embedding rotation below is the identity at i = 64 (reintroducing
    // the clone-collapse degeneracy) and slice() underflows past it
    require(copies <= 64, s"makeBig supports at most 64 copies, got $copies")
    def shifted(name: String, shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val big = (0 until copies).map(i => shift(base, i)).reduce(_ unionAll _)
      big.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    val K = 100000000L
    shifted("lineitem", (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * K)))
    shifted("orders", (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * K)))
    // events: shift ids AND time (raw nanos + i·40 days) so each copy is a
    // disjoint collection window — keeps event DENSITY constant, the way a
    // bigger real corpus grows. Without the time shift every copy lands in
    // the same month and the proximity/sessionization queries would measure
    // a quadratic OUTPUT blow-up (8 copies in one hour bucket ⇒ 64× pairs),
    // not the engine's scaling.
    shifted("events", (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * K))
        .withColumn("ts",
          if (df.schema("ts").dataType ==
              org.apache.spark.sql.types.LongType)
            col("ts") + lit(i * 40L * 86400L * 1000000000L) // raw nanos
          else col("ts") + expr(s"INTERVAL '${i * 40}' DAY")))
    // documents/embeddings: copies must be DISTINCT CONTENT, same reason as
    // the event time-shift — a self-union of identical docs makes every doc
    // an 8-way exact clone, so candidate PAIRS grow 64× (quadratic per dup
    // group) and identical centroid clones collapse the IVF cells; the
    // probe would measure a degenerate corpus, not the plans. Suffixing
    // every word per copy keeps each copy's INTERNAL dup structure exactly
    // (dup density constant, like a real corpus growing) while no shingle
    // collides across copies; rotating embedding dimensions keeps norms and
    // pairwise geometry within a copy while pointing copies in genuinely
    // different directions.
    shifted("documents", (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * K))
        .withColumn("text",
          if (i == 0) col("text")
          else expr(s"array_join(transform(split(text, ' '), " +
                    s"x -> concat(x, '_c$i')), ' ')")))
    shifted("embeddings", (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * K))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else expr(s"concat(slice(embedding, ${i + 1}, ${64 - i}), " +
                    s"slice(embedding, 1, $i))")))
    for (t <- Seq("customer", "part", "nation", "region", "supplier"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
  }

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(8)
    // optional subset: `ScaleProbe 64 only q_a q_b ...` probes just those
    // queries (skips the warehouse/guard/cust phases) — the fast path for
    // a deeper-tier (e.g. 64x) run over the heaviest plans or for giving
    // late-added queries their queries_index.json probe row
    val only: Set[String] = {
      val i = args.indexOf("only")
      if (i >= 0) args.drop(i + 1).toSet else Set.empty
    }
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft_sf_x$copies"
    val spark = SparkEntry.localSession(32, "ERROR")
    // events.parquet has shipped as TIMESTAMP(NANOS) and as micros-NTZ;
    // nanosAsLong lets the NANOS vintage load (as raw longs), and
    // Feeds.normalizeEventTs converts either representation identically
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (args.contains("cust-only")) { // fast path: just the custkey probe
      custProbe(spark, src, copies)
      spark.stop()
      return
    }
    if (args.contains("graph-only")) { // fast path: just the partkey probe
      graphProbe(spark, src, copies)
      spark.stop()
      return
    }
    if (args.contains("ss-only")) { // fast path: substring ingest split
      ssProbe(spark, src, copies)
      spark.stop()
      return
    }
    if (args.contains("copurchase-split")) { // fast path: per-phase split
      copurchaseSplit(spark, src, copies)
      spark.stop()
      return
    }
    makeBig(spark, src, dst, copies)
    println(s"[scale] built ${copies}x dataset at $dst")

    val probed = probeQueries.filter(q => only.isEmpty || only(q))
    timeCounts(spark, src, probed) // warm code paths
    val t1 = timeCounts(spark, src, probed)
    val tN = timeCounts(spark, dst, probed)
    println(f"[scale] ${"query"}%-28s 1x(s)   ${copies}x(s)  ratio")
    probed.foreach { q =>
      println(f"[scale] $q%-28s ${t1(q)}%6.2f ${tN(q)}%7.2f ${tN(q) / t1(q)}%6.1f")
    }
    val s1 = t1.values.sum; val sN = tN.values.sum
    println(f"[scale] TOTAL 1x=$s1%.1fs ${copies}x=$sN%.1fs ratio=${sN / s1}%.1f (ideal ≤ $copies)")
    if (only.nonEmpty) { spark.stop(); return } // subset run: queries only

    // ---- warehouse series: materialize + w_* read-backs at 1x and Nx ----
    // (exactly where the r5 small-file regression hid: the pipeline probes
    // never touched the partitioned warehouse read path)
    def runWh(dir: String): (Double, Map[String, Double]) = {
      dropCaches(spark)
      val rootPath = java.nio.file.Files.createTempDirectory("graft_swh")
      val root = rootPath.toString
      val t0 = System.nanoTime()
      catalog.PipelineRunner.run(spark, dir, root)
      val mat = (System.nanoTime() - t0) / 1e9
      dropCaches(spark) // read-backs measure the warehouse parquet alone
      val times = warehouseQueries(spark, root).map { case (n, fn) =>
        val s = System.nanoTime()
        fn().count()
        n -> (System.nanoTime() - s) / 1e9
      }.toMap
      // daily cycle against this history: the SAME fixed-size day (one 1x
      // week of orders' lineitems, src-joined so the day's content is
      // byte-identical at 1x and Nx) drained + merged + scope-compacted
      // into the materialized 80-month fact. The merge reads the target
      // through the touched months' directories only, so the cycle lists
      // and opens the day's rows + the TOUCHED months (1/80th of history
      // at this layout), never the other months' files — its Nx ratio
      // tracks the touched-month growth, far below the full-scan
      // read-backs' ratio.
      val day = spark.read.parquet(s"$src/lineitem.parquet").join(
        spark.read.parquet(s"$src/orders.parquet")
          .where(col("o_orderdate").between("1997-03-01", "1997-03-07"))
          .select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      val watch = s"$root/.dc_watch"
      day.coalesce(1).write.mode("overwrite").parquet(watch)
      val tdc = System.nanoTime()
      streaming.IncrementStream.runDailyCycle(spark, src, watch,
        s"$root/.dc_sink", s"$root/.dc_ckpt",
        new Warehouse(spark, root), "staging", "user_order_log_v2")
      val dc = (System.nanoTime() - tdc) / 1e9
      Probe.deleteRecursively(rootPath)
      (mat, times + ("w_daily_cycle" -> dc))
    }
    val (m1, w1) = runWh(src)
    val (mN, wN) = runWh(dst)
    println(f"[scale] ${"warehouse"}%-28s 1x(s)   ${copies}x(s)  ratio")
    println(f"[scale] ${"materialize"}%-28s $m1%6.2f $mN%7.2f ${mN / m1}%6.1f")
    w1.keys.toSeq.sorted.foreach { q =>
      println(f"[scale] $q%-28s ${w1(q)}%6.2f ${wN(q)}%7.2f ${wN(q) / w1(q)}%6.1f")
    }
    val ws1 = w1.values.sum; val wsN = wN.values.sum
    println(f"[scale] WH TOTAL 1x=$ws1%.1fs ${copies}x=$wsN%.1fs ratio=${wsN / ws1}%.1f (ideal ≤ $copies)")

    guardProbe(spark, src, dst, copies)
    custProbe(spark, src, copies)
    graphProbe(spark, src, copies)
    spark.stop()
  }

  /** Custkey-shifted probe variant (r12 verdict task 4). The default
    * builder shifts o_orderkey but NOT o_custkey, so every copy lands in
    * the same per-customer partitions: order histories genuinely deepen
    * N× and q_order_gaps' per-customer sort pays the extra log factor
    * (cross-run min-ratio 9.9 at 8× in r12 — adjudicated, not a plan
    * defect). Real corpus growth adds CUSTOMERS at roughly constant
    * history depth; this variant shifts o_custkey per copy exactly like
    * the doc/event keys, keeping per-group depth constant, and measures
    * q_order_gaps there — pinning the "linear at real growth" claim.
    * Since round 16 the synthesized dir carries the whole feed-side star
    * (orders with o_orderkey+o_custkey shifted, lineitem with l_orderkey
    * shifted, customer with c_custkey shifted, nation/part copied), so
    * the per-customer-depth family beyond q_order_gaps — q_cohort_ltv,
    * whose default-builder 64× ratio (30.3) is the densification
    * artifact — gets its shifted adjudication row too (r15 verdict
    * task 3). */
  def custProbe(spark: SparkSession, src: String, copies: Int): Unit = {
    val dstCust = s"/tmp/graft_sf_cust_x$copies"
    val K = 100000000L
    def nCopies(table: String, shiftCols: String*): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until copies)
        .map(i => shiftCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i * K))))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dstCust/$table.parquet")
    }
    nCopies("orders", "o_orderkey", "o_custkey")
    nCopies("lineitem", "l_orderkey")
    nCopies("customer", "c_custkey")
    // dimension tables the feed joins on UNSHIFTED keys: exactly one
    // copy, or every feed row would match `copies` duplicate dim rows
    Seq("nation", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dstCust/$t.parquet")
    }
    // r19: q_cohort_retention joins the customer-depth family — its
    // refreshed default-builder 64× ratio (19.4 on the r18 single-scan
    // rewrite) is the same densification artifact as q_cohort_ltv's
    // (unshifted o_custkey ⇒ per-customer history deepens N×, the
    // distinct's map-side collapse degrades); the shifted builder keeps
    // per-customer depth constant, the way real growth adds customers
    val custQs = Seq("q_order_gaps", "q_cohort_ltv", "q_cohort_retention")
    timeCounts(spark, src, custQs) // warm code paths
    val t1 = timeCounts(spark, src, custQs)
    // untimed pass, so both ratios compare steady-state runs
    timeCounts(spark, dstCust, custQs)
    val tN = timeCounts(spark, dstCust, custQs)
    custQs.foreach { q =>
      println(f"[scale-cust] $q (o_custkey shifted) 1x=${t1(q)}%.2fs " +
        f"${copies}x=${tN(q)}%.2fs ratio=${tN(q) / t1(q)}%.1f " +
        f"(ideal ≤ $copies; constant per-customer depth)")
    }
  }

  /** Partkey-shifted probe variant (round 14). The default builder shifts
    * l_orderkey but NOT l_partkey, so every copy repeats the same part
    * pairs: co-purchase support grows ×N, edges that missed minSupport
    * at 1× cross it at N×, degrees grow ×N and the wedge set ×N² — the
    * graph DENSIFIES super-linearly, which is why the wedge-join family
    * (triangle census, local cc) reads far above N on the default probe.
    * Real catalog growth adds PARTS at roughly constant co-purchase
    * degree; this variant shifts l_partkey per copy exactly like the
    * doc/event/cust keys (orderkeys shift too, so baskets stay
    * size-constant and disjoint): the graph becomes N disjoint copies of
    * the 1× graph and the wedge family must probe ~linear there. */
  def graphProbe(spark: SparkSession, src: String, copies: Int): Unit = {
    val dst = s"/tmp/graft_sf_part_x$copies"
    val K = 100000000L
    val base = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until copies)
      .map(i => base
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * K))
        .withColumn("l_partkey", col("l_partkey") + lit(i * K)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    val graphQs = Seq("q_basket_pairs", "q_triangle_stats",
      "q_local_cc_hist", "q_copurchase_partners", "q_pagerank",
      "q_basket_components", "q_degree_dist")
    timeCounts(spark, src, graphQs) // warm code paths
    val t1 = timeCounts(spark, src, graphQs)
    // untimed pass, so both ratios compare steady-state runs
    timeCounts(spark, dst, graphQs)
    val tN = timeCounts(spark, dst, graphQs)
    println(f"[scale-part] ${"query"}%-24s 1x(s)   ${copies}x(s)  ratio " +
      "(l_partkey shifted: constant per-part co-purchase degree)")
    graphQs.foreach { q =>
      println(f"[scale-part] $q%-24s ${t1(q)}%6.2f ${tN(q)}%7.2f " +
        f"${tN(q) / t1(q)}%6.1f")
    }
  }

  /** Substring-ingest SPLIT probe (round 16): the production shape pays
    * the index build (census + cap join + bucketed write) ONCE per
    * ingest, then each increment check joins against the bucketed
    * artifacts co-located. `q_dedup_substring_inc` folds both into one
    * query (its 64× row is dominated by the in-query rebuild), so this
    * probe measures the two phases separately — the daily-cycle
    * treatment: the SAME byte-identical 1× top-decile increment is
    * checked against a 1× and an N× index (index docs doc_id-shifted per
    * copy, the main builder's treatment), so the check delta is pure
    * index-side growth. The claim pinned: build tracks corpus size
    * (scan + census shuffle + bucketed write); the check has NO
    * corpus-sized shuffle — its growth is the co-located bucketed scan
    * of the index side only, far below the build's ratio. */
  def ssProbe(spark: SparkSession, src: String, copies: Int): Unit = {
    import ops.{Dedup, TextOps}
    val K = 100000000L
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val cut = docs.agg(expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)")
      .as("cutoff"))
    val tagged = docs.crossJoin(broadcast(cut))
    val idxDocs1 = tagged.where(col("doc_id") <= col("cutoff"))
      .drop("cutoff")
    // increment ids sit BELOW the shifted copies' id ranges (i*K), so
    // doc-disjointness holds at both scales
    val incDocs = tagged.where(col("doc_id") > col("cutoff")).drop("cutoff")
    // the main builder's text treatment: word-suffix every copy so no
    // shingle collides across copies (cloned text would just push every
    // shingle over the combined cap and the check would measure an
    // empty-match degenerate, not the plans)
    val idxDocsN = (0 until copies)
      .map(i => idxDocs1
        .withColumn("doc_id", col("doc_id") + lit(i * K))
        .withColumn("text",
          if (i == 0) col("text")
          else expr(s"array_join(transform(split(text, ' '), " +
                    s"x -> concat(x, '_c$i')), ' ')")))
      .reduce(_ unionAll _)
    val newPs = TextOps.posShinglesOf(
      TextOps.withWords(TextOps.normalize(incDocs)))
    def run(tag: String,
            idxDocs: org.apache.spark.sql.DataFrame): (Double, Double, Double) = {
      dropCaches(spark)
      val root = java.nio.file.Files.createTempDirectory("graft_ssp")
      val wh = new Warehouse(spark, root.toString)
      val ps = TextOps.posShinglesOf(
        TextOps.withWords(TextOps.normalize(idxDocs)))
      val t0 = System.nanoTime()
      val census = Dedup.substringCensusOf(ps)
      wh.bucketedOverwrite("ss", "census", census, "sh", 16)
      wh.bucketedOverwrite("ss", "index",
        Dedup.substringIndexOf(ps, wh.readTable("ss", "census")), "sh", 16)
      val build = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val n = Dedup.substringSpansIncOf(wh.readTable("ss", "index"),
        wh.readTable("ss", "census"), newPs).count()
      val check = (System.nanoTime() - t1) / 1e9
      // the mask APPLY step off the same serving read (fixed increment vs
      // grown persisted index): match grain + per-doc merge scan — the
      // path q_span_mask_ranges_inc runs at ingest time (its in-query
      // 64x ratio measures the index REBUILD, adjudicated here)
      val t2 = System.nanoTime()
      val nm = Dedup.spanMaskRangesIncOf(wh.readTable("ss", "index"),
        wh.readTable("ss", "census"), newPs).count()
      val mask = (System.nanoTime() - t2) / 1e9
      println(f"[scale-ss] $tag%-4s index build=$build%6.2fs  " +
        f"check=$check%6.2fs  mask=$mask%6.2fs  (pairs=$n, ranges=$nm)")
      Probe.deleteRecursively(root)
      (build, check, mask)
    }
    run("1x", idxDocs1) // warm code paths
    val (_, c1, m1) = run("1x", idxDocs1)
    val (_, cN, mN) = run(s"${copies}x", idxDocsN)
    // the committed shifted-adjudication row: q_dedup_substring_inc's
    // in-query 64× ratio folds an increment that grows WITH the corpus
    // into the rebuild (both sides ×N — densification of the probe, not
    // the serving path). The serving path checks a FIXED-size day of new
    // docs against a grown index; that is the CHECK phase above, printed
    // in the [scale-part] table format so gen_index files it as
    // probe_ratio_Nx_shifted beside the graph family's rows.
    println(f"[scale-ss-q] q_dedup_substring_inc ${c1}%6.2f ${cN}%7.2f " +
      f"${cN / c1}%6.2f")
    println(f"[scale-ss-q] q_span_mask_ranges_inc ${m1}%6.2f ${mN}%7.2f " +
      f"${mN / m1}%6.2f")
    // streamed ingest cycle (w_ss_ingest): a 3-batch AvailableNow drain
    // on a 1× vs N× corpus — index AND increments both grow, the honest
    // "ingest cost tracks corpus size" number for the stream path.
    val dstDocs = s"/tmp/graft_sf_ssdocs_x$copies"
    (0 until copies)
      .map(i => docs
        .withColumn("doc_id", col("doc_id") + lit(i * K))
        .withColumn("text",
          if (i == 0) col("text")
          else expr(s"array_join(transform(split(text, ' '), " +
                    s"x -> concat(x, '_c$i')), ' ')")))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dstDocs/documents.parquet")
    def drain(dir: String): Double = {
      dropCaches(spark)
      val root = java.nio.file.Files.createTempDirectory("graft_ssi")
      val t0 = System.nanoTime()
      ssIngestCycle(spark, dir, root.toString)
      val t = (System.nanoTime() - t0) / 1e9
      Probe.deleteRecursively(root)
      t
    }
    drain(src) // warm code paths
    val d1 = drain(src)
    val dN = drain(dstDocs)
    println(f"[scale-ss-w] w_ss_ingest ${d1}%6.2f ${dN}%7.2f " +
      f"${dN / d1}%6.2f")
    // per-phase split of the same 3-batch cycle (direct ingestBatch with
    // the timer hook, same doc_id-range batching as ssIngestCycle):
    // decides which phase carries the drain's linear term — shingling is
    // expected linear (the payload IS N× bigger), the check and the
    // append/commit should stay far below it. Also times the post-drain
    // compaction (the nightly maintenance slot's cost at 1× vs N×).
    def phases(dir: String): (Map[String, Double], Double) = {
      dropCaches(spark)
      val root = java.nio.file.Files.createTempDirectory("graft_ssh")
      val wh = new Warehouse(spark, root.toString)
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val n = d.agg(max("doc_id")).head().getLong(0)
      val acc = scala.collection.mutable.Map[String, Double]()
        .withDefaultValue(0.0)
      for (i <- 0 to 2) {
        val b = i match {
          case 0 => d.where(col("doc_id") <= n / 3)
          case 1 => d.where(col("doc_id") > n / 3 &&
                            col("doc_id") <= 2 * n / 3)
          case _ => d.where(col("doc_id") > 2 * n / 3)
        }
        graft.streaming.SubstringIngest.ingestBatch(wh, b, i.toLong,
          timer = (phase, sec) => acc(phase) += sec)
      }
      val t0 = System.nanoTime()
      graft.streaming.SubstringIngest.compactState(wh)
      val compact = (System.nanoTime() - t0) / 1e9
      Probe.deleteRecursively(root)
      (acc.toMap, compact)
    }
    phases(src) // warm code paths
    val (p1, k1) = phases(src)
    val (pN, kN) = phases(dstDocs)
    for (ph <- Seq("shingle", "check", "commit"))
      println(f"[scale-ss-w] w_ss_ingest_$ph%s ${p1(ph)}%6.2f " +
        f"${pN(ph)}%7.2f ${pN(ph) / p1(ph)}%6.2f")
    println(f"[scale-ss-w] w_ss_compact ${k1}%6.2f ${kN}%7.2f " +
      f"${kN / k1}%6.2f")
  }

  /** Per-phase split of q_copurchase_partners on the partkey-shifted
    * builder (r16 verdict task 4): the committed shifted 64× ratio (12.5)
    * folds two phases into one number — the basket pair build (equi
    * self-join on l_orderkey + partial-agg + broadcast lift attach) and
    * the per-part top-3 partner window. On the shifted builder the graph
    * is N disjoint copies of the 1× graph, so BOTH phases should probe
    * ~linear; this split decides which one carries the excess, with the
    * pair list persisted between the phases so the window's timing
    * doesn't re-pay the build. */
  def copurchaseSplit(spark: SparkSession, src: String, copies: Int): Unit = {
    val dst = s"/tmp/graft_sf_part_x$copies"
    val K = 100000000L
    val base = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until copies)
      .map(i => base
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * K))
        .withColumn("l_partkey", col("l_partkey") + lit(i * K)))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    def run(dir: String): (Double, Double) = {
      dropCaches(spark)
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val t0 = System.nanoTime()
      val pairs = ops.Basket.partPairsOf(li)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairs.count()
      val tPairs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      ops.Basket.topPartnersOfPairs(pairs, 3).count()
      val tWin = (System.nanoTime() - t1) / 1e9
      pairs.unpersist()
      (tPairs, tWin)
    }
    run(src) // warm code paths
    val (p1, w1) = run(src)
    val (pN, wN) = run(dst)
    println(f"[scale-split] q_copurchase_partners:pairs ${p1}%6.2f " +
      f"${pN}%7.2f ${pN / p1}%6.2f")
    println(f"[scale-split] q_copurchase_partners:window ${w1}%6.2f " +
      f"${wN}%7.2f ${wN / w1}%6.2f")
  }

  /** Measured (not asserted) payoff of the giant-bucket star guard: seed
    * 1% of docs with one identical boilerplate string — the degenerate
    * bucket a boilerplate-heavy web corpus produces — and count/time the
    * guarded (maxBucket=256) vs dense (guard off) candidate lists, plus
    * the edit-distance verify tier composed on each. The boilerplate
    * bucket holds B docs (B grows linearly with corpus copies), so dense
    * candidates grow B²/2 while star pairing emits B-1: the dense/guarded
    * pair ratio at Nx vs 1x is the quadratic blow-up the guard removes,
    * and the verify timings show the O(len²) Levenshtein cost that would
    * ride on it. Results cited in ARCHITECTURE.md §giant-bucket guard. */
  def guardProbe(spark: SparkSession, src: String, dst: String,
                 copies: Int): Unit = {
    val boiler = "all rights reserved terms of service privacy policy " +
      "cookie notice subscribe to our newsletter contact us about"
    def seeded(dir: String): DataFrame =
      ops.TextOps.withWords(ops.TextOps.normalize(
        spark.read.parquet(s"$dir/documents.parquet")
          .withColumn("text",
            when(col("doc_id") % 100 === 0, lit(boiler))
              .otherwise(col("text")))))
    def run(tag: String, dir: String): Unit = {
      val bands = ops.Dedup.minhashBandsFastOf(seeded(dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bands.count()
      val docsNorm = seeded(dir).select("doc_id", "norm")
      def timed(pairs: DataFrame): (Long, Double, Double) = {
        val t0 = System.nanoTime()
        val n = pairs.persist().count()
        val tp = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        ops.Dedup.minhashPairsEditVerifiedOf(pairs, docsNorm).count()
        val tv = (System.nanoTime() - t1) / 1e9
        pairs.unpersist()
        (n, tp, tv)
      }
      val (ng, tg, vg) = timed(ops.Dedup.minhashPairsOf(bands, 256))
      // denseGate off: this probe MEASURES the dense blowup the gate exists
      // to prevent — the seeded boilerplate bucket must be allowed to run
      val (nd, td, vd) = timed(
        ops.Dedup.minhashPairsOf(bands, Int.MaxValue, Int.MaxValue))
      bands.unpersist()
      println(f"[guard] $tag%-4s guarded pairs=$ng%9d (${tg}%6.2fs, " +
        f"editdist ${vg}%6.2fs)  dense pairs=$nd%9d (${td}%6.2fs, " +
        f"editdist ${vd}%6.2fs)  dense/guarded=${nd.toDouble / ng}%6.1fx")
    }
    run("1x", src)
    run(s"${copies}x", dst)
  }
}
