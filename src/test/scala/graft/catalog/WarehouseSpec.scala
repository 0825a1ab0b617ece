package graft.catalog

import graft.SparkSpec
import graft.sources.{LocalFixtureClient, Poll}
import org.apache.spark.sql.functions._

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    tempDir("graft_wh")

  test("overwrite/append/read roundtrip + schema evolution by projection") {
    val wh = new Warehouse(spark, tmp())
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    wh.overwrite("staging", "t", df)
    assert(wh.read("staging", "t").count() == 2)
    wh.append("staging", "t", Seq((3, "c")).toDF("id", "v"))
    assert(wh.read("staging", "t").count() == 3)
    // S8/S9: full refresh replaces, not accumulates
    wh.overwrite("staging", "t", df)
    assert(wh.read("staging", "t").count() == 2)
    // S11: ALTER ADD COLUMN as projection
    wh.overwrite("staging", "t_v2",
      wh.read("staging", "t").withColumn("status", lit(null).cast("string")))
    assert(wh.read("staging", "t_v2").columns.contains("status"))
  }

  test("merge upserts by key and equals the rewrite-on-write result") {
    val wh = new Warehouse(spark, tmp())
    val hist = Seq((1L, "shipped", 10.0), (2L, "shipped", 20.0),
                   (3L, "shipped", 30.0)).toDF("id", "status", "amt")
    wh.overwrite("mart", "f", hist)
    val updates = Seq((2L, "refunded", 20.0), (4L, "shipped", 40.0))
      .toDF("id", "status", "amt")
    wh.merge("mart", "f", updates, Seq("id"))
    val got = wh.read("mart", "f").as[(Long, String, Double)].collect().toSet
    // rewrite-on-write equivalent: keep non-matched history, take updates
    val want = Set((1L, "shipped", 10.0), (3L, "shipped", 30.0),
                   (2L, "refunded", 20.0), (4L, "shipped", 40.0))
    assert(got == want)
    // merge into a missing table degenerates to create
    wh.merge("mart", "fresh", updates, Seq("id"))
    assert(wh.read("mart", "fresh").count() == 2)
  }

  test("merge recovers a table parked at .bak by a crash mid-swap") {
    import Warehouse.PartCol
    val root = tmp()
    val wh = new Warehouse(spark, root)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(name: String) = new org.apache.hadoop.fs.Path(s"$root/mart/$name")
    // simulate a crash between the swap's two renames: live path gone,
    // previous table parked at the .bak path
    def park(t: String): Unit = assert(fs.rename(p(t), p(s".${t}__swap_bak")))
    // flat table, flat merge
    wh.overwrite("mart", "f",
      Seq((1L, "shipped"), (2L, "shipped")).toDF("id", "status"))
    park("f")
    wh.merge("mart", "f", Seq((2L, "refunded")).toDF("id", "status"), Seq("id"))
    val got = wh.read("mart", "f").as[(Long, String)].collect().toSet
    // history row 1 survives — merge did NOT degrade to overwrite(updates)
    assert(got == Set((1L, "shipped"), (2L, "refunded")))
    assert(!fs.exists(p(".f__swap_bak")))
    // month-partitioned table, partitioned merge of one month
    val hist = Seq((1L, "2024-01", 1.0), (2L, "2024-01", 2.0),
                   (3L, "2024-02", 3.0), (4L, "2024-03", 4.0),
                   (5L, "2024-03", 5.0), (6L, "2024-04", 6.0))
    wh.overwritePartitioned("mart", "t", hist.toDF("id", PartCol, "amt"),
      PartCol)
    park("t")
    val update = Seq((7L, "2024-02", 7.0))
    assert(wh.mergePartitioned("mart", "t", update.toDF("id", PartCol, "amt"),
      Seq("id"), PartCol) == Seq("2024-02"))
    assert(wh.readPhysical("mart", "t").select("id", PartCol, "amt")
      .as[(Long, String, Double)].collect().toSet == (hist ++ update).toSet)
    assert(!fs.exists(p(".t__swap_bak")))
  }

  test("a swap whose write leaves no temp copy fails and keeps the original") {
    val root = tmp()
    val wh = new Warehouse(spark, root)
    val rows = Set((1L, "a"), (2L, "b"))
    wh.overwrite("mart", "s", rows.toSeq.toDF("id", "v"))
    def p(name: String) = new org.apache.hadoop.fs.Path(s"$root/mart/$name")
    val e = intercept[java.io.IOException] {
      wh.swap(p("s"), p(".s__swap_tmp"), p(".s__swap_bak"))(_ => ())
    }
    assert(e.getMessage.contains("left no temp copy") &&
           e.getMessage.contains("original restored"), e.getMessage)
    assert(wh.read("mart", "s").as[(Long, String)].collect().toSet == rows)
    assert(!new java.io.File(s"$root/mart/.s__swap_bak").exists())
  }

  test("overwrite replaces a table from a frame that reads it") {
    val wh = new Warehouse(spark, tmp())
    wh.overwrite("stg", "acc", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // replacement frame scans the live table — an in-place write would race
    val next = wh.read("stg", "acc")
      .unionByName(Seq((3L, "c")).toDF("id", "v"))
    wh.overwrite("stg", "acc", next)
    assert(wh.read("stg", "acc").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("partitioned merge rewrites only the partitions present in updates") {
    val root = tmp()
    val wh = new Warehouse(spark, root)
    val hist = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
                   (3L, "2024-01-02", 30.0)).toDF("id", "day", "amt")
    wh.mergePartitioned("mart", "fp", hist, Seq("id"), "day")
    def files(day: String): Set[String] =
      Option(new java.io.File(s"$root/mart/fp/day=$day").list())
        .map(_.toSet.filter(_.startsWith("part-"))).getOrElse(Set())
    val day1Before = files("2024-01-01")
    val updates = Seq((3L, "2024-01-02", 31.0), (4L, "2024-01-02", 40.0))
      .toDF("id", "day", "amt")
    wh.mergePartitioned("mart", "fp", updates, Seq("id"), "day")
    val got = wh.read("mart", "fp")
      .select("id", "day", "amt").as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
                      (3L, "2024-01-02", 31.0), (4L, "2024-01-02", 40.0)))
    // untouched partition keeps its exact files (never rewritten)
    assert(files("2024-01-01") == day1Before && day1Before.nonEmpty)
  }

  test("partitioned merge opens only the touched partition's files") {
    // 40 month directories — more than Spark's parallel-listing threshold
    // (32), the regime where a whole-table read lists every month in a job
    import Warehouse.PartCol
    val root = tmp()
    val wh = new Warehouse(spark, root)
    val months = (0 until 40).map(i => f"${2020 + i / 12}%d-${i % 12 + 1}%02d")
    val hist = months.zipWithIndex.flatMap { case (m, i) =>
      Seq((2L * i, m, 1.0), (2L * i + 1, m, 2.0)) }
    wh.overwritePartitioned("mart", "fp40",
      hist.toDF("id", PartCol, "amt"), PartCol)
    // a one-month increment, delivered as files like the daily cycle's
    val month = months(17)
    Seq((34L, month, 9.0), (1000L, month, 5.0)).toDF("id", PartCol, "amt")
      .repartition(2).write.parquet(s"$root/updates")
    val (touched, writes) = MergeScans.around(spark) { rec =>
      (wh.mergePartitioned("mart", "fp40", spark.read.parquet(s"$root/updates"),
         Seq("id"), PartCol),
       rec.take(spark))
    }
    assert(touched == Seq(month))
    assert(writes.size == 1, writes)
    val files = writes.head.files
    val (history, other) = files.partition(_.contains("/mart/fp40/"))
    assert(history.nonEmpty &&
           history.forall(_.contains(s"/$PartCol=$month/")), history)
    assert(other.nonEmpty && other.forall(_.contains("/updates/")), other)
    assert(writes.head.filesOpened == files.size, writes)
    assert(wh.read("mart", "fp40").count() == hist.size + 1)
  }

  test("a partition rewrite reads its temp copy back from a listed path") {
    // Spark's file listing ignores names starting with '.' or '_'; a
    // hidden temp copy was read back only because Spark lists an
    // explicitly named root anyway, warning "All paths were ignored"
    import Warehouse.PartCol
    val root = tmp()
    val wh = new Warehouse(spark, root)
    wh.overwritePartitioned("mart", "rt",
      Seq((1L, "2024-01", 1.0)).toDF("id", PartCol, "amt"), PartCol)
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rec = new org.apache.spark.sql.util.QueryExecutionListener
        with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        collect(qe.executedPlan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.relation.location.rootPaths
        }.flatten.foreach(p => roots.add(p.toString))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(rec)
    try {
      wh.mergePartitioned("mart", "rt",
        Seq((2L, "2024-01", 2.0)).toDF("id", PartCol, "amt"), Seq("id"),
        PartCol)
      org.apache.spark.SpecListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(rec)
    import scala.jdk.CollectionConverters._
    val copies = roots.asScala.toSeq.filter(_.contains("__merge_tmp"))
    assert(copies.nonEmpty, roots)
    val hidden = copies.filter(p => org.apache.spark.SpecFileListing
      .hidden(new org.apache.hadoop.fs.Path(p).getName))
    assert(hidden.isEmpty, s"temp copy read back from a hidden path: $hidden")
    // the copy is removed once the merge commits
    assert(!new java.io.File(s"$root/mart").list().exists(_.endsWith("_tmp")))
    assert(wh.read("mart", "rt").count() == 2)
  }

  /** Merge `updates` into a fresh month-partitioned table holding `hist`,
    * then check the read-back is kept ∪ updates over the touched
    * partitions (every other row untouched) and every untouched
    * partition's files are byte-identical. */
  private def mergeMatchesSemantics(hist: Seq[(Long, String, Double)],
                                    updates: Seq[(Long, String, Double)])
      : Unit = {
    import Warehouse.PartCol
    val root = tmp()
    val wh = new Warehouse(spark, root)
    wh.overwritePartitioned("mart", "e",
      hist.toDF("id", PartCol, "amt"), PartCol)
    val table = java.nio.file.Paths.get(root, "mart", "e")
    def files(part: String): Map[String, Seq[Byte]] = {
      val dir = table.resolve(
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(PartCol, part))
      val names = Option(dir.toFile.list()).toSeq.flatten
        .filter(_.startsWith("part-"))
      names.map(n =>
        n -> java.nio.file.Files.readAllBytes(dir.resolve(n)).toSeq).toMap
    }
    val touched = updates.map(_._2).distinct
    val untouched = hist.map(_._2).distinct.filterNot(touched.contains)
    val before = untouched.map(p => p -> files(p)).toMap
    val got = wh.mergePartitioned("mart", "e",
      updates.toDF("id", PartCol, "amt"), Seq("id"), PartCol)
    assert(got.toSet == touched.toSet)
    val upKeys = updates.map(_._1).toSet
    val want = hist.filterNot(r => touched.contains(r._2) && upKeys(r._1))
      .toSet ++ updates
    assert(wh.readPhysical("mart", "e").select("id", PartCol, "amt")
      .as[(Long, String, Double)].collect().toSet == want)
    for (p <- untouched)
      assert(files(p) == before(p) && before(p).nonEmpty, p)
  }

  test("partitioned merge into a partition with no directory yet") {
    // 2024-03 is new; id 3 also lives in the untouched 2024-02, which the
    // merge neither reads nor rewrites, so both rows remain
    mergeMatchesSemantics(
      Seq((1L, "2024-01", 1.0), (2L, "2024-01", 2.0), (3L, "2024-02", 3.0)),
      Seq((1L, "2024-01", 10.0), (3L, "2024-03", 30.0), (7L, "2024-03", 7.0)))
  }

  test("partitioned merge into a partition whose path is escaped") {
    mergeMatchesSemantics(
      Seq((1L, "2024-01 late:x", 1.0), (2L, "2024-01 late:x", 2.0),
          (3L, "2024-02", 3.0)),
      Seq((2L, "2024-01 late:x", 20.0), (4L, "2024-01 late:x", 4.0)))
  }

  test("partitioned merge into the null partition keeps its history") {
    mergeMatchesSemantics(
      Seq((1L, null, 1.0), (2L, null, 2.0), (3L, "2024-02", 3.0)),
      Seq((1L, null, 10.0), (5L, null, 5.0)))
  }

  test("DAG month-partitions the big facts; read() hides the layout column") {
    val root = tmp()
    val sf = "/root/testdata/sf0.001"
    PipelineRunner.run(spark, sf, root)
    val wh = new Warehouse(spark, root)
    // physical layout: one gp_month=YYYY-MM directory per month
    for (t <- Seq("staging/user_order_log_v2", "mart/f_sales",
                  "mart/f_sales_v2")) {
      val dirs = new java.io.File(s"$root/$t").list()
      assert(dirs != null && dirs.exists(_.startsWith("gp_month=")), t)
    }
    // logical schema: the layout column is invisible on read-back
    assert(!wh.read("mart", "f_sales_v2").columns.contains(Warehouse.PartCol))
    // base-overwrite + partitioned increment merge ≡ the monolithic frame
    val p = graft.etl.Pipeline.of(spark, sf)
    val cols = p.fSalesV2.columns.toIndexedSeq
    val want = p.fSalesV2.collect().toSet
    val got = wh.read("mart", "f_sales_v2")
      .select(cols.map(col): _*).collect().toSet
    assert(got == want && want.nonEmpty)
  }

  test("compact collapses small files, keeps rows and partition layout") {
    val root = tmp()
    val wh = new Warehouse(spark, root)
    def files(sub: String): Set[String] =
      Option(new java.io.File(s"$root/$sub").list())
        .map(_.toSet.filter(_.startsWith("part-"))).getOrElse(Set())
    // flat table: 3 appends x 4 files each -> 12 small files
    val mk = (o: Int) => (1 to 20).map(i => ((o * 100 + i).toLong, s"r$i"))
      .toDF("id", "v").repartition(4)
    wh.overwrite("staging", "cf", mk(0))
    wh.append("staging", "cf", mk(1)); wh.append("staging", "cf", mk(2))
    val before = wh.read("staging", "cf")
      .as[(Long, String)].collect().toSet
    assert(files("staging/cf").size == 12)
    wh.compact("staging", "cf")
    assert(files("staging/cf").size == 1)
    assert(wh.read("staging", "cf")
      .as[(Long, String)].collect().toSet == before)
    // partitioned table fragmented by an EXTERNAL writer (raw partitionBy,
    // one file per task per month — the shape overwritePartitioned no
    // longer produces itself): compact -> exactly one per month, partition
    // dirs (and so pruning) intact
    val part = (1 to 40).map(i =>
      (i.toLong, s"2024-0${i % 2 + 1}", i * 1.0))
      .toDF("id", Warehouse.PartCol, "amt").repartition(8)
    part.write.mode("overwrite").partitionBy(Warehouse.PartCol)
      .parquet(s"$root/mart/cp")
    assert(files(s"mart/cp/${Warehouse.PartCol}=2024-01").size > 1)
    val beforeP = wh.read("mart", "cp")
      .as[(Long, Double)].collect().toSet
    wh.compact("mart", "cp")
    for (m <- Seq("2024-01", "2024-02"))
      assert(files(s"mart/cp/${Warehouse.PartCol}=$m").size == 1, m)
    assert(wh.read("mart", "cp")
      .as[(Long, Double)].collect().toSet == beforeP)
    // bucketed tables are refused: a path-level rewrite would break the
    // bucket-id-in-filename layout behind the catalog's back
    wh.bucketedOverwrite("mart", "cb",
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), "id", 4)
    val e = intercept[IllegalArgumentException] { wh.compact("mart", "cb") }
    assert(e.getMessage.contains("bucket"))
    // ...and still refused when the catalog entry is gone (fresh session):
    // the bucket ids survive only in the file names, and the guard reads
    // them from there
    spark.sql(s"DROP TABLE ${wh.catalogName("mart", "cb")}")
    val e2 = intercept[IllegalArgumentException] { wh.compact("mart", "cb") }
    assert(e2.getMessage.contains("bucket"))
  }

  test("partitioned writes land one file per partition; merges keep it") {
    val root = tmp()
    val wh = new Warehouse(spark, root)
    def files(sub: String): Set[String] =
      Option(new java.io.File(s"$root/$sub").list())
        .map(_.toSet.filter(_.startsWith("part-"))).getOrElse(Set())
    val part = (1 to 40).map(i =>
      (i.toLong, s"2024-0${i % 2 + 1}", i * 1.0))
      .toDF("id", Warehouse.PartCol, "amt").repartition(8)
    wh.overwritePartitioned("mart", "p1", part, Warehouse.PartCol)
    for (m <- Seq("2024-01", "2024-02"))
      assert(files(s"mart/p1/${Warehouse.PartCol}=$m").size == 1, m)
    // three successive increments through the partitioned merge: the
    // touched month stays at ONE file (no small-file accumulation), rows
    // equal the rewrite-on-write result
    for (k <- 1 to 3)
      wh.mergePartitioned("mart", "p1",
        Seq((40L + k, "2024-02", 100.0 * k)).toDF(
          "id", Warehouse.PartCol, "amt").repartition(4),
        Seq("id"), Warehouse.PartCol)
    assert(files(s"mart/p1/${Warehouse.PartCol}=2024-02").size == 1)
    assert(wh.read("mart", "p1").count() == 43)
    assert(wh.read("mart", "p1").where(col("amt") === 300.0).count() == 1)
  }

  test("readRange prunes to the matching partition directories") {
    val wh = new Warehouse(spark, tmp())
    val part = (1 to 30).map(i =>
      (i.toLong, s"2024-0${i % 3 + 1}", i * 1.0))
      .toDF("id", Warehouse.PartCol, "amt")
    wh.overwritePartitioned("mart", "pr", part, Warehouse.PartCol)
    val pruned = wh.readRange("mart", "pr", Warehouse.PartCol,
                              "2024-02", "2024-02")
    // logical schema: layout column stripped, rows = that month only
    assert(!pruned.columns.contains(Warehouse.PartCol))
    assert(pruned.count() == 10)
    // physical: the scan's file listing covers ONE of the three partition
    // directories (partition filter, not a post-scan row filter)
    val files = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
    }.flatten
    assert(files.nonEmpty &&
           files.forall(_.contains(s"${Warehouse.PartCol}=2024-02")), files)
  }

  test("flat merge refuses a partitioned table (layout would be lost)") {
    val wh = new Warehouse(spark, tmp())
    val base = Seq((1L, "a", "2024-01"), (2L, "b", "2024-02"))
      .toDF("id", "v", Warehouse.PartCol)
    wh.overwritePartitioned("mart", "t", base, Warehouse.PartCol)
    val updates = Seq((2L, "b2", "2024-02")).toDF("id", "v", Warehouse.PartCol)
    val e = intercept[IllegalArgumentException] {
      wh.merge("mart", "t", updates.drop(Warehouse.PartCol), Seq("id"))
    }
    assert(e.getMessage.contains("mergePartitioned"))
    // the partitioned path handles the same update fine
    wh.mergePartitioned("mart", "t", updates, Seq("id"), Warehouse.PartCol)
    assert(wh.read("mart", "t").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b2")))
  }

  test("two warehouses with different roots bucket the same name independently") {
    // the session catalog is shared across Warehouse instances; before r8
    // the catalog entry was `${db}_$table`, so the SECOND instance's
    // bucketedOverwrite silently repointed the FIRST's table. The name now
    // carries the root hash: same (db, table) in two roots must coexist
    // and read back their own data.
    val whA = new Warehouse(spark, tmp())
    val whB = new Warehouse(spark, tmp())
    assert(whA.catalogName("mart", "sametab") !=
           whB.catalogName("mart", "sametab"))
    whA.bucketedOverwrite("mart", "sametab",
      (1 to 50).map(i => (i.toLong, "rootA")).toDF("id", "src"), "id", 4)
    whB.bucketedOverwrite("mart", "sametab",
      (1 to 70).map(i => (i.toLong, "rootB")).toDF("id", "src"), "id", 4)
    // A's table is untouched by B's write — counts AND contents distinct
    assert(whA.readTable("mart", "sametab").count() == 50)
    assert(whB.readTable("mart", "sametab").count() == 70)
    assert(whA.readTable("mart", "sametab")
      .select("src").distinct().as[String].collect().toSeq == Seq("rootA"))
    assert(whB.readTable("mart", "sametab")
      .select("src").distinct().as[String].collect().toSeq == Seq("rootB"))
    // appends route to their own instance's table too
    whA.bucketedAppend("mart", "sametab",
      Seq((51L, "rootA")).toDF("id", "src"), "id", 4)
    assert(whA.readTable("mart", "sametab").count() == 51)
    assert(whB.readTable("mart", "sametab").count() == 70)
  }

  test("compactPartitions refuses a partition holding bucketed files") {
    // the nested-bucketed-files false negative (r7 ADVICE): an external
    // writer bucketed files UNDER a partition dir — the top-level check
    // can't see them, but the per-partition listing must refuse the
    // rewrite instead of silently destroying the bucket layout
    val root = tmp()
    val wh = new Warehouse(spark, root)
    val base = (1 to 40).map(i => (i.toLong, s"2024-0${i % 2 + 1}", i * 1.0))
      .toDF("id", Warehouse.PartCol, "amt")
    wh.overwritePartitioned("mart", "nb", base, Warehouse.PartCol)
    // plant a bucket-named file inside one partition dir (the shape a
    // bucketed writer produces: part-…_00003.c000….parquet)
    val pdir = java.nio.file.Paths.get(
      s"$root/mart/nb/${Warehouse.PartCol}=2024-01")
    val donor = java.nio.file.Files.list(pdir).iterator().next()
    java.nio.file.Files.copy(donor, pdir.resolve(
      "part-00000-feedface_00003.c000.snappy.parquet"))
    val e = intercept[IllegalArgumentException] {
      wh.compactPartitions("mart", "nb", Warehouse.PartCol,
        Seq("2024-01", "2024-02"))
    }
    assert(e.getMessage.contains("bucketedOverwrite"))
    // whole-table compact's full-tree listing refuses it too
    val e2 = intercept[IllegalArgumentException] { wh.compact("mart", "nb") }
    assert(e2.getMessage.contains("bucket"))
  }

  test("poll utility: succeeds within budget, gives up after it") {
    val client = new LocalFixtureClient(spark, "/root/testdata/sf0.001",
                                        pendingPolls = 2)
    val task = client.generateReport()
    val got = Poll.until(attempts = 5, delayMs = 1)(client.getReport(task))
    assert(got.contains("report:/root/testdata/sf0.001"))
    val never = Poll.until(attempts = 3, delayMs = 1)(
      Option.empty[String])
    assert(never.isEmpty)
  }

  test("fixture client feeds have the reference schemas") {
    val client = new LocalFixtureClient(spark, "/root/testdata/sf0.001")
    val feeds = client.fetchReport("r")
    assert(feeds("user_order_log").columns.toSeq == Seq(
      "uniq_id", "date_time", "city_id", "city_name", "customer_id",
      "first_name", "last_name", "item_id", "item_name", "quantity",
      "payment_amount"))
    assert(feeds("price_log").columns.toSeq == Seq("prod_name", "price"))
    val inc = client.fetchIncrement("i")
    assert(inc("user_order_log_inc").columns.contains("status"))
  }

  test("fixture client feeds equal the DAG's staging frames (sf0.001)") {
    val sf = graft.VerifyMulti.SfDirs.head // the smallest testdata
    val client = new LocalFixtureClient(spark, sf)
    val p = graft.etl.Pipeline.of(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      (df.columns.toSeq, df.collect().groupBy(identity).view
        .mapValues(_.length).toMap)
    val report = client.fetchReport("r")
    val inc = client.fetchIncrement("i")
    for ((feed, staged) <- Seq(
           report("user_order_log") -> p.uol,
           report("user_activity_log") -> p.ual,
           report("customer_research") -> p.research,
           report("price_log") -> p.priceLog,
           inc("user_order_log_inc") -> p.uolTemp,
           inc("user_activity_log_inc") -> p.ualTemp,
           inc("customer_research_inc") -> p.researchTemp)) {
      val want = rows(staged)
      assert(want._2.nonEmpty && rows(feed) == want, staged.columns.toSeq)
    }
  }

  test("a partitioned merge reads its touched partitions without a " +
       "Spark job") {
    import Warehouse.PartCol
    import org.apache.spark.sql.types._
    val wh = new Warehouse(spark, tmp())
    val hist = Seq((1L, null, 1.0), (2L, "2024-01", 2.0),
                   (3L, "2024-02", 3.0), (4L, "2024-02", 4.0))
    wh.overwritePartitioned("mart", "m", hist.toDF("id", PartCol, "amt"),
      PartCol)
    // the null partition, a month on disk, and a month with no directory
    val touched = Seq(null, "2024-02", "2024-03")
    val (read, jobs) =
      jobsDuring(wh.readPartitions("mart", "m", PartCol, touched))
    assert(jobs == 0, s"$jobs jobs")
    assert(read.get.select("id", PartCol, "amt").as[(Long, String, Double)]
      .collect().toSet == Set((1L, null, 1.0), (3L, "2024-02", 3.0),
                              (4L, "2024-02", 4.0)))
    assert(wh.readPartitions("mart", "m", PartCol, Seq("2024-03")).isEmpty)
    val update = Seq((1L, null, 10.0), (4L, "2024-02", 40.0),
                     (5L, "2024-03", 5.0))
    assert(wh.mergePartitioned("mart", "m", update.toDF("id", PartCol, "amt"),
      Seq("id"), PartCol) == touched)
    val merged = wh.readPhysical("mart", "m")
    assert(merged.schema == StructType(Seq(StructField("id", LongType),
      StructField("amt", DoubleType), StructField(PartCol, StringType))))
    assert(merged.select("id", PartCol, "amt").as[(Long, String, Double)]
      .collect().toSet == Set((1L, null, 10.0), (2L, "2024-01", 2.0),
        (3L, "2024-02", 3.0), (4L, "2024-02", 40.0), (5L, "2024-03", 5.0)))
  }

  test("small control files: atomic replace, and a crash that parked the " +
       "old copy under .__bak heals on read") {
    val root = tmp()
    val wh = new Warehouse(spark, root)
    val p = s"$root/ctl/manifest"
    assert(wh.readSmallFile(p).isEmpty)
    wh.writeSmallFileAtomic(p, "gen:0\n0:a")
    assert(wh.readSmallFile(p).contains("gen:0\n0:a"))
    wh.writeSmallFileAtomic(p, "gen:0\n0:a\n1:b") // replace, not append
    assert(wh.readSmallFile(p).contains("gen:0\n0:a\n1:b"))
    // simulate a crash between live→bak and tmp→live: only .__bak exists
    java.nio.file.Files.move(java.nio.file.Paths.get(p),
      java.nio.file.Paths.get(p + ".__bak"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(wh.readSmallFile(p).contains("gen:0\n0:a\n1:b"),
      "read must heal from the parked backup")
    // healed IN PLACE: the live path is back
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
  }

  test("dropTable removes a bucketed table's catalog entry and files") {
    import spark.implicits._
    val root = tmp()
    val wh = new Warehouse(spark, root)
    wh.bucketedOverwrite("db", "t", Seq((1L, "x")).toDF("k", "v"), "k", 4)
    assert(wh.exists("db", "t"))
    wh.dropTable("db", "t")
    assert(!wh.exists("db", "t"))
    assert(!spark.catalog.tableExists(wh.catalogName("db", "t")))
    wh.dropTable("db", "t") // idempotent on a missing table
  }

  test("materializing runner is idempotent across re-runs (sf0.001)") {
    val root = tmp()
    val sf = "/root/testdata/sf0.001"
    PipelineRunner.run(spark, sf, root)
    val first = new Warehouse(spark, root)
      .read("mart", "retention_compact").collect().toSet
    PipelineRunner.run(spark, sf, root) // re-run over same warehouse
    val second = new Warehouse(spark, root)
      .read("mart", "retention_compact").collect().toSet
    assert(first == second && first.nonEmpty)
    // exactly the DAG's tables, and nothing else (no leftover temp copy)
    for ((db, tables) <- Seq("staging" -> PipelineRunner.stagingTables,
                             "mart" -> PipelineRunner.martTables)) {
      for (t <- tables)
        assert(new Warehouse(spark, root).exists(db, t), s"$db.$t")
      assert(new java.io.File(s"$root/$db").list().toSet == tables.toSet, db)
    }
  }
}
