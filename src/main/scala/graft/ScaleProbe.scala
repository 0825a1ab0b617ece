package graft

import graft.catalog.Warehouse
import graft.etl.{Retention, Sales}
import graft.sources.SourceReader
import graft.streaming.SubstringIngest
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Scale-stress harness: synthesizes N× datasets from sf0.1 by key-shifted
  * self-union (keys shifted per copy so cardinalities genuinely grow;
  * dimensions stay fixed like real dimensions), then times each probe
  * family at 1× and N× to show the plans scale near-linearly (documented
  * in ARCHITECTURE.md):
  *
  *   sbt "runMain graft.ScaleProbe [copies] [only q_a q_b … | cust-only |
  *        graph-only | ss-only | copurchase-split]"
  *
  * `copies` is N (2..64, default 8). With no mode word the full probe runs:
  * the registry series, the warehouse series and the guard, custkey and
  * partkey families. `only` times just the named registry queries; each
  * other word runs its one family. The arguments are checked before the
  * session starts.
  *
  * Every family shares three pieces: one replicator ([[replicate]], which
  * writes one of four [[Shape]]s), one comparison loop ([[pair]]: every
  * timed run, 1× or N×, follows an untimed run on the same data, each
  * cache-cold) and one row printer for `[tag] name t1 tN ratio` rows.
  */
object ScaleProbe {

  /** Probe list = the FULL live registry, derived (alphabetical), never
    * hand-maintained; QueriesIndexSpec pins probe ≡ registry.
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

  private val Src = "/root/testdata/sf0.1"

  /** Key offset between copies: copy i adds i·K, far above every key at
    * sf0.1, so no two copies share a key. */
  private val K = 100000000L

  /** Copy i of a table (copy 0 keeps the source's values). */
  type Shift = (DataFrame, Int) => DataFrame

  private def keys(df: DataFrame, i: Int, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * K)))

  /** Every word of `text` suffixed `_c<i>`: each copy keeps its INTERNAL
    * dup structure (dup density constant, like a real corpus growing)
    * while no shingle collides across copies. A self-union of identical
    * docs would make every doc an N-way exact clone, so candidate pairs
    * would grow N² and the probe would measure a degenerate corpus. */
  private def words(df: DataFrame, i: Int): DataFrame =
    if (i == 0) df
    else df.withColumn("text",
      expr(s"array_join(transform(split(text, ' '), x -> concat(x, '_c$i')), ' ')"))

  /** `ts` + i·40 days, so each copy is a disjoint collection window and
    * event DENSITY stays constant. Without it every copy lands in the same
    * month and the proximity/sessionization queries would measure a
    * quadratic OUTPUT blow-up, not the engine's scaling. */
  private def eventTime(df: DataFrame, i: Int): DataFrame =
    df.withColumn("ts",
      if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        col("ts") + lit(i * 40L * 86400L * 1000000000L) // raw nanos
      else col("ts") + expr(s"INTERVAL '${i * 40}' DAY"))

  /** The 64 embedding dimensions rotated by i: norms and pairwise geometry
    * within a copy are kept while copies point in different directions
    * (identical centroid clones would collapse the IVF cells). The
    * rotation is the identity again at i = 64, so at most 64 copies. */
  private def rotation(df: DataFrame, i: Int): DataFrame =
    if (i == 0) df
    else df.withColumn("embedding",
      expr(s"concat(slice(embedding, ${i + 1}, ${64 - i}), slice(embedding, 1, $i))"))

  private val docCopy: Shift = (df, i) => words(keys(df, i, "doc_id"), i)

  /** One N× dataset: each `shifted` table as `copies` shifted copies, each
    * `once` table copied once (dimensions the grown tables join on
    * unshifted keys; N copies would match every row N times). Written to
    * `/tmp/graft_sf_<prefix>x<copies>`. */
  final case class Shape(prefix: String, shifted: Seq[(String, Shift)],
                         once: Seq[String] = Nil) {
    def dir(copies: Int): String = s"/tmp/graft_sf_${prefix}x$copies"
  }

  /** Facts, events, documents and embeddings grow; dimensions stay. */
  val Default: Shape = Shape("", Seq(
    ("lineitem", (df, i) => keys(df, i, "l_orderkey")),
    ("orders", (df, i) => keys(df, i, "o_orderkey")),
    ("events", (df, i) => eventTime(keys(df, i, "event_id"), i)),
    ("documents", docCopy),
    ("embeddings", (df, i) => rotation(keys(df, i, "vec_id"), i))),
    Seq("customer", "part", "nation", "region", "supplier"))

  /** The feed-side star with o_custkey shifted too: the default shape
    * keeps o_custkey, so per-customer order histories deepen N×; real
    * growth adds CUSTOMERS at constant history depth. */
  val CustShifted: Shape = Shape("cust_", Seq(
    ("orders", (df, i) => keys(df, i, "o_orderkey", "o_custkey")),
    ("lineitem", (df, i) => keys(df, i, "l_orderkey")),
    ("customer", (df, i) => keys(df, i, "c_custkey"))),
    Seq("nation", "part"))

  /** lineitem with l_partkey shifted too: the default shape repeats the
    * same part pairs, so the co-purchase graph DENSIFIES (degrees ×N,
    * wedges ×N²); real catalog growth adds PARTS at constant degree, and
    * here the graph is N disjoint copies of the 1× graph. */
  val PartShifted: Shape = Shape("part_", Seq(
    ("lineitem", (df, i) => keys(df, i, "l_orderkey", "l_partkey"))))

  /** documents alone, as in the default shape: the substring corpus. */
  val Documents: Shape = Shape("ssdocs_", Seq(("documents", docCopy)))

  /** The `copies` copies of `frame`, copy i shifted by `shift`, unioned. */
  def copiesOf(frame: DataFrame, copies: Int)(shift: Shift): DataFrame =
    (0 until copies).map(shift(frame, _)).reduce(_ unionAll _)

  /** Writes `shape` at `copies` copies of `src`'s tables into `dst`. */
  def replicate(spark: SparkSession, src: String, dst: String, copies: Int,
                shape: Shape): Unit = {
    def write(t: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    for ((t, shift) <- shape.shifted)
      write(t, copiesOf(SourceReader.table(spark, src, t), copies)(shift))
    for (t <- shape.once) write(t, SourceReader.table(spark, src, t))
  }

  def makeBig(spark: SparkSession, src: String, dst: String, copies: Int): Unit =
    replicate(spark, src, dst, copies, Default)

  /** Drops both cache layers so the next pass recomputes from parquet:
    * CacheManager data (persist frames) and every memo entry of the WHOLE
    * session — not just one dir's (another dir's leftover frames would
    * otherwise sit in the block manager and evict this pass's staging
    * cache mid-run). */
  private def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Caches.invalidateAll(spark)
  }

  /** The 1×/N× comparison: `f` untimed then timed on `one`, untimed then
    * timed on `many`, each run cache-cold, so both sides of a ratio are
    * steady-state runs that paid the same first-touch costs. */
  private def pair[S, A](spark: SparkSession, one: S, many: S)(f: S => A): (A, A) = {
    def run(s: S): A = { dropCaches(spark); f(s) }
    run(one)
    val a = run(one)
    run(many)
    (a, run(many))
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def secs(body: => Any): Double = timed(body)._2

  private def inTempDir[A](prefix: String)(f: String => A): A = {
    val root = Files.createTempDirectory(prefix)
    try f(root.toString) finally Probe.deleteRecursively(root)
  }

  private def header(tag: String, label: String, copies: Int, note: String = ""): Unit =
    println(f"[$tag] $label%-28s 1x(s)   ${copies}x(s)  ratio$note")

  private def row(tag: String, name: String, t1: Double, tN: Double): Unit =
    println(f"[$tag] $name%-28s $t1%6.2f $tN%7.2f ${tN / t1}%6.2f")

  private def total(label: String, t1: Iterable[Double], tN: Iterable[Double],
                    copies: Int): Unit = {
    val (s1, sN) = (t1.sum, tN.sum)
    println(f"[scale] $label 1x=$s1%.1fs ${copies}x=$sN%.1fs ratio=${sN / s1}%.1f (ideal ≤ $copies)")
  }

  /** Seconds per query over `qs` on `dir`. Times `count()`, not the full
    * result, so the ratios stay comparable with the ones committed in
    * queries_index.json. */
  private def timeCounts(spark: SparkSession, dir: String,
                         qs: Seq[String]): Map[String, Double] =
    qs.map(q => q -> secs(SparkEntry.queries(q)(spark, dir).count())).toMap

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

  /** One warehouse pass on `dir`: the materialize time, then each
    * read-back's and the daily cycle's. */
  private def runWh(spark: SparkSession, dir: String): (Double, Map[String, Double]) =
    inTempDir("graft_swh") { root =>
      val mat = secs(catalog.PipelineRunner.run(spark, dir, root))
      dropCaches(spark) // read-backs measure the warehouse parquet alone
      val times = warehouseQueries(spark, root)
        .map { case (n, fn) => n -> secs(fn().count()) }.toMap
      // daily cycle against this history: the SAME fixed-size day (one 1x
      // week of orders' lineitems, src-joined so the day's content is
      // byte-identical at 1x and Nx) drained + merged + scope-compacted
      // into the materialized 80-month fact. The merge reads the target
      // through the touched months' directories only, so its Nx ratio
      // tracks the touched-month growth, far below the full-scan
      // read-backs' ratio.
      val day = SourceReader.table(spark, Src, "lineitem").join(
        SourceReader.table(spark, Src, "orders")
          .where(col("o_orderdate").between("1997-03-01", "1997-03-07"))
          .select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      val watch = s"$root/.dc_watch"
      day.coalesce(1).write.mode("overwrite").parquet(watch)
      val dc = secs(streaming.IncrementStream.runDailyCycle(spark, Src, watch,
        s"$root/.dc_sink", s"$root/.dc_ckpt",
        new Warehouse(spark, root), "staging", "user_order_log_v2"))
      (mat, times + ("w_daily_cycle" -> dc))
    }

  /** `docs` as the crawler's three deliveries: ascending doc_id thirds. */
  private def thirds(docs: DataFrame): Seq[DataFrame] = {
    val n = docs.agg(max("doc_id")).head().getLong(0)
    val id = col("doc_id")
    Seq(id <= n / 3, id > n / 3 && id <= 2 * n / 3, id > 2 * n / 3).map(c => docs.where(c))
  }

  /** One streamed substring-ingest cycle (`w_ss_ingest`): deliver each of
    * `sfDir`'s document thirds as one parquet file into a fresh watch dir
    * and drain per delivery ([[SubstringIngest.runIngestAvailableNow]]) —
    * the crawler's steady state: check batch against the committed
    * bucketed index, fold its shingles in, commit. */
  private def ssIngestCycle(spark: SparkSession, sfDir: String,
                            root: String): Unit = {
    val wh = new Warehouse(spark, s"$root/wh")
    val watch = s"$root/watch"
    Files.createDirectories(Paths.get(watch))
    for ((b, i) <- thirds(SourceReader.table(spark, sfDir, "documents")).zipWithIndex) {
      val tmp = s"$root/.deliver_$i"
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(watch, s"crawl_$i.parquet"))
      SubstringIngest.runIngestAvailableNow(spark, sfDir,
        watch, s"$root/ckpt", wh, s"$root/results")
    }
  }

  /** The single-family modes, by their word. */
  private val families: Map[String, (SparkSession, String, Int) => Unit] = Map(
    "cust-only" -> custProbe _, "graph-only" -> graphProbe _,
    "ss-only" -> ssProbe _, "copurchase-split" -> copurchaseSplit _)

  /** A checked command line: N, the mode word ("" for the full probe) and
    * the names `only` takes. */
  private[graft] final case class Mode(copies: Int, word: String, only: Set[String])

  private[graft] def parseArgs(args: Seq[String]): Mode = {
    val usage = "usage: ScaleProbe [copies 2..64] [only q_a q_b … | " +
      families.keys.toSeq.sorted.mkString(" | ") + "]"
    val copies = args.headOption.fold(8) { a =>
      a.toIntOption.filter(c => c >= 2 && c <= 64).getOrElse(
        throw new IllegalArgumentException(s"copies must be 2..64, got $a; $usage"))
    }
    args.drop(1) match {
      case Seq() => Mode(copies, "", Set.empty)
      case Seq("only", names @ _*) =>
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(names.nonEmpty, s"only needs query names; $usage")
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        Mode(copies, "only", names.toSet)
      case Seq(w) if families.contains(w) => Mode(copies, w, Set.empty)
      case rest =>
        val bad = rest.filterNot(families.contains).headOption.getOrElse(rest.last)
        throw new IllegalArgumentException(s"unknown argument $bad; $usage")
    }
  }

  /** Checks the arguments, and only then builds the session. */
  private[graft] def run(args: Array[String], session: => SparkSession): Unit = {
    val Mode(copies, word, only) = parseArgs(args.toSeq)
    val spark = session
    // events.parquet has shipped as TIMESTAMP(NANOS) and as micros-NTZ;
    // nanosAsLong lets the NANOS vintage load (as raw longs), and
    // Feeds.normalizeEventTs converts either representation identically
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    families.get(word) match {
      case Some(family) => family(spark, Src, copies)
      case None => fullProbe(spark, copies, only)
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = run(args, SparkEntry.localSession(32, "ERROR"))

  /** The registry series on the default shape (just `only`'s names when
    * given); the full probe adds the warehouse series — materialize,
    * read-backs and the daily cycle, where the r5 small-file regression
    * hid — and the guard, custkey and partkey families. */
  private def fullProbe(spark: SparkSession, copies: Int, only: Set[String]): Unit = {
    val dst = Default.dir(copies)
    makeBig(spark, Src, dst, copies)
    println(s"[scale] built ${copies}x dataset at $dst")
    val probed = probeQueries.filter(q => only.isEmpty || only(q))
    val (t1, tN) = pair(spark, Src, dst)(timeCounts(spark, _, probed))
    header("scale", "query", copies)
    probed.foreach(q => row("scale", q, t1(q), tN(q)))
    total("TOTAL", t1.values, tN.values, copies)
    if (only.nonEmpty) return
    val ((m1, w1), (mN, wN)) = pair(spark, Src, dst)(runWh(spark, _))
    header("scale", "warehouse", copies)
    row("scale", "materialize", m1, mN)
    w1.keys.toSeq.sorted.foreach(q => row("scale", q, w1(q), wN(q)))
    total("WH TOTAL", w1.values, wN.values, copies)
    guardProbe(spark, Src, dst, copies)
    custProbe(spark, Src, copies)
    graphProbe(spark, Src, copies)
  }

  /** The per-customer-depth family on [[CustShifted]]: q_order_gaps'
    * per-customer sort and the cohort queries' distinct pay an extra log
    * factor on the default shape (histories deepen N×, a densification
    * artifact, not a plan defect); here per-customer depth is constant. */
  def custProbe(spark: SparkSession, src: String, copies: Int): Unit = {
    val dst = CustShifted.dir(copies)
    replicate(spark, src, dst, copies, CustShifted)
    val qs = Seq("q_order_gaps", "q_cohort_ltv", "q_cohort_retention")
    val (t1, tN) = pair(spark, src, dst)(timeCounts(spark, _, qs))
    qs.foreach { q =>
      println(f"[scale-cust] $q (o_custkey shifted) 1x=${t1(q)}%.2fs " +
        f"${copies}x=${tN(q)}%.2fs ratio=${tN(q) / t1(q)}%.1f " +
        f"(ideal ≤ $copies; constant per-customer depth)")
    }
  }

  /** The co-purchase graph family on [[PartShifted]]: the wedge-join
    * queries (triangle census, local cc) read far above N on the default
    * shape's densified graph and must probe ~linear here. */
  def graphProbe(spark: SparkSession, src: String, copies: Int): Unit = {
    val dst = PartShifted.dir(copies)
    replicate(spark, src, dst, copies, PartShifted)
    val qs = Seq("q_basket_pairs", "q_triangle_stats",
      "q_local_cc_hist", "q_copurchase_partners", "q_pagerank",
      "q_basket_components", "q_degree_dist")
    val (t1, tN) = pair(spark, src, dst)(timeCounts(spark, _, qs))
    header("scale-part", "query", copies,
      " (l_partkey shifted: constant per-part co-purchase degree)")
    qs.foreach(q => row("scale-part", q, t1(q), tN(q)))
  }

  /** Substring-ingest SPLIT probe: the production shape pays the index
    * build (census + cap join + bucketed write) ONCE per ingest, then each
    * increment check joins against the bucketed artifacts co-located.
    * `q_dedup_substring_inc` folds both into one query, so this times the
    * phases separately: the SAME 1× top-decile increment is checked
    * against a 1× and an N× index (index docs copied as in [[Documents]]),
    * so the check delta is pure index-side growth. Claim pinned: build
    * tracks corpus size; the check has NO corpus-sized shuffle. Then the
    * streamed ingest cycle and its per-phase split on [[Documents]]. */
  def ssProbe(spark: SparkSession, src: String, copies: Int): Unit = {
    import ops.{Dedup, TextOps}
    val docs = SourceReader.table(spark, src, "documents")
    val cut = docs.agg(expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)")
      .as("cutoff"))
    val tagged = docs.crossJoin(broadcast(cut))
    val idxDocs1 = tagged.where(col("doc_id") <= col("cutoff"))
      .drop("cutoff")
    // increment ids sit BELOW the shifted copies' id ranges (i*K), so
    // doc-disjointness holds at both scales
    val incDocs = tagged.where(col("doc_id") > col("cutoff")).drop("cutoff")
    // word-suffixed copies: cloned text would push every shingle over the
    // combined cap and the check would measure an empty-match degenerate
    val idxDocsN = copiesOf(idxDocs1, copies)(docCopy)
    val newPs = TextOps.posShinglesOf(
      TextOps.withWords(TextOps.normalize(incDocs)))
    def run(idxDocs: DataFrame): (Double, Double, Double, Long, Long) =
      inTempDir("graft_ssp") { root =>
        val wh = new Warehouse(spark, root)
        val ps = TextOps.posShinglesOf(
          TextOps.withWords(TextOps.normalize(idxDocs)))
        val build = secs {
          wh.bucketedOverwrite("ss", "census", Dedup.substringCensusOf(ps), "sh", 16)
          wh.bucketedOverwrite("ss", "index",
            Dedup.substringIndexOf(ps, wh.readTable("ss", "census")), "sh", 16)
        }
        val (n, check) = timed(Dedup.substringSpansIncOf(
          wh.readTable("ss", "index"), wh.readTable("ss", "census"), newPs).count())
        // the mask APPLY step off the same serving read (fixed increment vs
        // grown persisted index): match grain + per-doc merge scan — the
        // path q_span_mask_ranges_inc runs at ingest time
        val (nm, mask) = timed(Dedup.spanMaskRangesIncOf(
          wh.readTable("ss", "index"), wh.readTable("ss", "census"), newPs).count())
        (build, check, mask, n, nm)
      }
    val (one, many) = pair(spark, idxDocs1, idxDocsN)(run)
    for ((tag, (build, check, mask, n, nm)) <- Seq("1x" -> one, s"${copies}x" -> many))
      println(f"[scale-ss] $tag%-4s index build=$build%6.2fs  " +
        f"check=$check%6.2fs  mask=$mask%6.2fs  (pairs=$n, ranges=$nm)")
    // the committed shifted-adjudication rows: the serving path checks a
    // FIXED-size day of new docs against a grown index, the CHECK and mask
    // phases above; gen_index files them as probe_ratio_Nx_shifted
    row("scale-ss-q", "q_dedup_substring_inc", one._2, many._2)
    row("scale-ss-q", "q_span_mask_ranges_inc", one._3, many._3)
    // streamed ingest cycle (w_ss_ingest): a 3-batch AvailableNow drain
    // on a 1× vs N× corpus — index AND increments both grow, the honest
    // "ingest cost tracks corpus size" number for the stream path
    val dst = Documents.dir(copies)
    replicate(spark, src, dst, copies, Documents)
    val (d1, dN) = pair(spark, src, dst)(dir =>
      inTempDir("graft_ssi")(root => secs(ssIngestCycle(spark, dir, root))))
    row("scale-ss-w", "w_ss_ingest", d1, dN)
    // per-phase split of the same 3-batch cycle (direct ingestBatch with
    // the timer hook): shingling is expected linear (the payload IS N×
    // bigger), the check and the append/commit should stay far below it.
    // Also times the post-drain compaction (the nightly maintenance slot).
    def phases(dir: String): (Map[String, Double], Double) =
      inTempDir("graft_ssh") { root =>
        val wh = new Warehouse(spark, root)
        val acc = scala.collection.mutable.Map[String, Double]()
          .withDefaultValue(0.0)
        for ((b, i) <- thirds(SourceReader.table(spark, dir, "documents")).zipWithIndex)
          SubstringIngest.ingestBatch(wh, b, i.toLong,
            timer = (phase, sec) => acc(phase) += sec)
        (acc.toMap, secs(SubstringIngest.compactState(wh)))
      }
    val ((p1, k1), (pN, kN)) = pair(spark, src, dst)(phases)
    for (ph <- Seq("shingle", "check", "commit"))
      row("scale-ss-w", s"w_ss_ingest_$ph", p1(ph), pN(ph))
    row("scale-ss-w", "w_ss_compact", k1, kN)
  }

  /** Per-phase split of q_copurchase_partners on [[PartShifted]]: the
    * basket pair build (equi self-join on l_orderkey + partial-agg +
    * broadcast lift attach) and the per-part top-3 partner window. The
    * graph is N disjoint copies of the 1× graph, so BOTH phases should
    * probe ~linear; the pair list is persisted between the phases so the
    * window's timing doesn't re-pay the build. */
  def copurchaseSplit(spark: SparkSession, src: String, copies: Int): Unit = {
    val dst = PartShifted.dir(copies)
    replicate(spark, src, dst, copies, PartShifted)
    def run(dir: String): (Double, Double) = {
      val li = SourceReader.table(spark, dir, "lineitem")
      val (pairs, tPairs) = timed {
        val p = ops.Basket.partPairsOf(li).persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      }
      val tWin = secs(ops.Basket.topPartnersOfPairs(pairs, 3).count())
      pairs.unpersist()
      (tPairs, tWin)
    }
    val ((p1, w1), (pN, wN)) = pair(spark, src, dst)(run)
    row("scale-split", "q_copurchase_partners:pairs", p1, pN)
    row("scale-split", "q_copurchase_partners:window", w1, wN)
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
        SourceReader.table(spark, dir, "documents")
          .withColumn("text",
            when(col("doc_id") % 100 === 0, lit(boiler))
              .otherwise(col("text")))))
    def run(dir: String): String = {
      val bands = ops.Dedup.minhashBandsFastOf(seeded(dir))
        .persist(StorageLevel.MEMORY_AND_DISK)
      bands.count()
      val docsNorm = seeded(dir).select("doc_id", "norm")
      def measured(pairs: DataFrame): (Long, Double, Double) = {
        val (n, tp) = timed(pairs.persist().count())
        val tv = secs(ops.Dedup.minhashPairsEditVerifiedOf(pairs, docsNorm).count())
        pairs.unpersist()
        (n, tp, tv)
      }
      val (ng, tg, vg) = measured(ops.Dedup.minhashPairsOf(bands, 256))
      // denseGate off: this probe MEASURES the dense blowup the gate exists
      // to prevent — the seeded boilerplate bucket must be allowed to run
      val (nd, td, vd) = measured(
        ops.Dedup.minhashPairsOf(bands, Int.MaxValue, Int.MaxValue))
      bands.unpersist()
      f"guarded pairs=$ng%9d (${tg}%6.2fs, editdist ${vg}%6.2fs)  " +
        f"dense pairs=$nd%9d (${td}%6.2fs, editdist ${vd}%6.2fs)  " +
        f"dense/guarded=${nd.toDouble / ng}%6.1fx"
    }
    val (r1, rN) = pair(spark, src, dst)(run)
    for ((tag, r) <- Seq("1x" -> r1, s"${copies}x" -> rN))
      println(f"[guard] $tag%-4s $r")
  }
}
