package graft.streaming

import graft.SparkSpec
import graft.etl.Feeds
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def stage(src: String): String = {
    val d = tempDir("graft_stream")
    val name = new java.io.File(src).getName
    java.nio.file.Files.copy(java.nio.file.Paths.get(src),
      java.nio.file.Paths.get(d, name))
    d
  }

  test("file-source increment stream matches the batch feed projection") {
    val dir = "/root/testdata/sf0.001"
    val watch = stage(s"$dir/lineitem.parquet")
    val q = IncrementStream.orderLogStream(spark, dir, watch)
      .writeStream.format("memory").queryName("inc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("inc_stream")
      val batch = Feeds.orderFeed(spark, dir)
        .withColumn("uniq_id", // stream variant has no dedup line_seq suffix
          expr("substring_index(uniq_id, '-', 2)"))
      assert(streamed.count() == batch.count())
      // spot-check full-row equality modulo the uniq_id suffix
      val a = streamed.groupBy("status").agg(
        sum("payment_amount").as("amt"), count(lit(1)).as("n"))
      val b = batch.groupBy("status").agg(
        sum("payment_amount").as("amt"), count(lit(1)).as("n"))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    } finally q.stop()
  }

  test("AvailableNow drains deliveries incrementally and matches batch") {
    val dir = "/root/testdata/sf0.001"
    val watch = tempDir("graft_anw")
    val sink = tempDir("graft_ans")
    val ckpt = tempDir("graft_anc")
    def deliver(name: String): Unit =
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/lineitem.parquet"),
        java.nio.file.Paths.get(watch, name))
    val batchN = Feeds.orderFeed(spark, dir).count()
    // day 1: one increment file → drain terminates on its own, sink == batch
    deliver("inc_day1.parquet")
    IncrementStream.runIncrementAvailableNow(spark, dir, watch, sink, ckpt)
    assert(spark.read.parquet(sink).count() == batchN)
    // day 2: second delivery; same checkpoint picks up ONLY the new file
    deliver("inc_day2.parquet")
    IncrementStream.runIncrementAvailableNow(spark, dir, watch, sink, ckpt)
    assert(spark.read.parquet(sink).count() == 2 * batchN)
    // semantic equality with the batch projection (modulo dedup suffix)
    val streamed = spark.read.parquet(sink)
      .groupBy("status").agg(sum("payment_amount").as("amt"))
    val batch = Feeds.orderFeed(spark, dir)
      .groupBy("status").agg((sum("payment_amount") * 2).as("amt"))
    assert(streamed.exceptAll(batch).isEmpty &&
           batch.exceptAll(streamed).isEmpty)
  }

  test("streamed increments merged into the warehouse reproduce batch marts") {
    val dir = "/root/testdata/sf0.001"
    val watch = tempDir("graft_e2w")
    val sink = tempDir("graft_e2s")
    val ckpt = tempDir("graft_e2c")
    val root = tempDir("graft_e2wh")
    val wh = new graft.catalog.Warehouse(spark, root)
    // two DISJOINT daily increments: lineitem split by orderkey parity
    def deliver(name: String, parity: Int): Unit = {
      val tmp = tempDir("graft_e2d")
      spark.read.parquet(s"$dir/lineitem.parquet")
        .where(pmod(col("l_orderkey"), lit(2)) === parity)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name))
    }
    // the daily cycle, twice: drain the day's delivery, merge the sink
    // snapshot into the warehouse by key — the reference's daily
    // reconciliation as stream + MERGE
    for ((parity, day) <- Seq(0 -> "d1", 1 -> "d2")) {
      deliver(s"inc_$day.parquet", parity)
      IncrementStream.runIncrementAvailableNow(spark, dir, watch, sink, ckpt)
      wh.merge("staging", "uol_stream", spark.read.parquet(sink),
        Seq("uniq_id"))
    }
    val batch = Feeds.orderFeed(spark, dir)
    assert(wh.read("staging", "uol_stream").count() == batch.count())
    // at-least-once: re-merging the full accumulated snapshot is a no-op
    wh.merge("staging", "uol_stream", spark.read.parquet(sink), Seq("uniq_id"))
    val merged = wh.read("staging", "uol_stream")
    assert(merged.count() == batch.count())
    // mart-level equality: revenue/count rollup by (date, status) matches
    // the batch projection exactly (uniq_id differs only in the dedup
    // suffix, which the rollup is insensitive to)
    val a = merged.groupBy("date_time", "status")
      .agg(sum("payment_amount").as("amt"), count(lit(1)).as("n"))
    val b = batch.groupBy("date_time", "status")
      .agg(sum("payment_amount").as("amt"), count(lit(1)).as("n"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("daily cycle: 3 increments leave <=1 file per touched partition") {
    val dir = "/root/testdata/sf0.001"
    val watch = tempDir("graft_dcw")
    val ckpt = tempDir("graft_dcc")
    val root = tempDir("graft_dcwh")
    val wh = new graft.catalog.Warehouse(spark, root)
    import graft.catalog.Warehouse.PartCol
    def deliver(name: String, rem: Int): Unit = {
      val tmp = tempDir("graft_dcd")
      spark.read.parquet(s"$dir/lineitem.parquet")
        .where(pmod(col("l_orderkey"), lit(3)) === rem)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name))
    }
    // three daily cycles over disjoint thirds of the feed: each drains
    // the new delivery (shared sink + checkpoint, the day's rows = the
    // drain's file delta), merges into the month-partitioned fact and
    // compacts the touched months
    val sink = tempDir("graft_dcs")
    var allTouched = Set[String]()
    for (day <- 0 to 2) {
      deliver(s"inc_day$day.parquet", day)
      allTouched ++= IncrementStream.runDailyCycle(
        spark, dir, watch, sink, ckpt, wh, "mart", "uol_part")
    }
    // no small-file accumulation: every touched month holds exactly 1 file
    assert(allTouched.nonEmpty)
    for (m <- allTouched) {
      val files = Option(
        new java.io.File(s"$root/mart/uol_part/$PartCol=$m").list())
        .map(_.count(_.startsWith("part-"))).getOrElse(0)
      assert(files == 1, s"month $m has $files files")
    }
    // contents: the three cycles reassemble the full batch projection
    // (rollup is insensitive to the stream path's uniq_id dedup suffix)
    val merged = wh.read("mart", "uol_part")
    val batch = Feeds.orderFeed(spark, dir)
    assert(merged.count() == batch.count())
    val a = merged.groupBy("date_time", "status")
      .agg(sum("payment_amount").as("amt"), count(lit(1)).as("n"))
    val b = batch.groupBy("date_time", "status")
      .agg(sum("payment_amount").as("amt"), count(lit(1)).as("n"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // an empty 4th cycle (no new deliveries) is a clean no-op
    assert(IncrementStream.runDailyCycle(
      spark, dir, watch, sink, ckpt, wh, "mart", "uol_part").isEmpty)
    assert(wh.read("mart", "uol_part").count() == batch.count())
    // fragmentation healing: an external appender drops 3 extra files into
    // one month; compactPartitions rewrites ONLY that month back to 1 file
    val month = allTouched.head
    val rows = wh.readPhysical("mart", "uol_part")
      .where(col(PartCol) === month)
    val extra = rows.limit(5).drop(PartCol)
    for (_ <- 1 to 3)
      extra.coalesce(1).write.mode("append")
        .parquet(s"$root/mart/uol_part/$PartCol=$month")
    val before = wh.read("mart", "uol_part").count()
    val healed = wh.compactPartitions("mart", "uol_part", PartCol,
      allTouched.toSeq.sorted)
    assert(healed == Seq(month))
    assert(Option(new java.io.File(s"$root/mart/uol_part/$PartCol=$month")
      .list()).map(_.count(_.startsWith("part-"))).getOrElse(0) == 1)
    assert(wh.read("mart", "uol_part").count() == before)
  }

  test("30-day daily-cycle soak: no file debt, flat per-cycle cost") {
    // the long-horizon form of the 3-increment test above: ~30 synthetic
    // days through the SAME sink/checkpoint/fact, each day = one calendar
    // month's orders' lineitems (date_time = o_orderdate, so each cycle
    // touches ~1 partition — the production shape). Asserts the two
    // 100 TB-operations claims a 3-cycle spec can't: (a) ≤1 file per
    // touched partition after EVERY cycle (small-file debt cannot creep in
    // at any horizon), and (b) per-cycle wall time stays flat as the
    // table's history grows 30× (the cycle costs the day + its touched
    // months, not the history), and (c) the count form of (b): the files
    // each cycle's merge reads from history stay bounded by its touched
    // months.
    val dir = "/root/testdata/sf0.001"
    val watch = tempDir("graft_skw")
    val ckpt = tempDir("graft_skc")
    val sink = tempDir("graft_sks")
    val root = tempDir("graft_skwh")
    val wh = new graft.catalog.Warehouse(spark, root)
    import graft.catalog.Warehouse.PartCol
    val months = spark.read.parquet(s"$dir/orders.parquet")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
      .distinct().orderBy("m").as[String].collect().take(30)
    assert(months.length == 30, s"only ${months.length} months in the feed")
    def deliver(name: String, month: String): Unit = {
      val tmp = tempDir("graft_skd")
      spark.read.parquet(s"$dir/lineitem.parquet")
        .join(spark.read.parquet(s"$dir/orders.parquet")
            .where(date_format(col("o_orderdate"), "yyyy-MM") === month)
            .select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, name))
    }
    def filesIn(m: String): Int = Option(
      new java.io.File(s"$root/mart/uol_soak/$PartCol=$m").list())
      .map(_.count(_.startsWith("part-"))).getOrElse(0)
    var allTouched = Set[String]()
    val times = new Array[Double](months.length)
    val historyRead = new Array[Int](months.length)
    graft.catalog.MergeScans.around(spark) { rec =>
      for ((month, day) <- months.zipWithIndex) {
        deliver(f"inc_day$day%02d.parquet", month)
        val t0 = System.nanoTime()
        val touched = IncrementStream.runDailyCycle(
          spark, dir, watch, sink, ckpt, wh, "mart", "uol_soak")
        times(day) = (System.nanoTime() - t0) / 1e9
        assert(touched.contains(month), s"day $day missed month $month")
        allTouched ++= touched
        // (a) after EVERY cycle: no partition ever holds more than 1 file
        for (m <- allTouched)
          assert(filesIn(m) <= 1, s"day $day: month $m has ${filesIn(m)} files")
        historyRead(day) = rec.take(spark).flatMap(_.files)
          .count(_.contains("/mart/uol_soak/"))
      }
    }
    // the 30 days reassemble the 30 months' worth of the batch feed
    val batchN = Feeds.orderFeed(spark, dir)
      .where(date_format(col("date_time"), "yyyy-MM").isin(months: _*))
      .count()
    assert(wh.read("mart", "uol_soak").count() == batchN)
    // (c) flat read set, count-based: each cycle's merge opens at most one
    // history file per month it touched (one month a day here) — the
    // count does not grow while history grows 30×
    assert(historyRead.forall(_ <= 1),
      s"merge history files read per cycle: ${historyRead.mkString(", ")}")
    // (b) flat cost: the median of the last 10 cycles must not exceed the
    // median of cycles 1-10 (day 0 pays stream setup) by more than the
    // shared-JVM noise allowance — linear-in-history growth would show as
    // a multiple, not a factor-2.5 wobble
    def med(a: Seq[Double]): Double = a.sorted.apply(a.length / 2)
    val early = med(times.slice(1, 11).toSeq)
    val late = med(times.slice(months.length - 10, months.length).toSeq)
    assert(late < 2.5 * early,
      s"cycle cost grew with history: early median $early s, " +
      s"late median $late s (${times.mkString(", ")})")
  }

  test("watermarked daily event aggregation matches batch rollup") {
    val dir = "/root/testdata/sf0.001"
    val ev = Feeds.events(spark, dir)
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // the stream read applies the same ts normalization as the batch path
    // (nanos-as-long or micros-NTZ, whichever vintage the files carry)
    val evStream = Feeds.normalizeEventTs(spark.readStream
      .schema(rawSchema).parquet(stage(s"$dir/events.parquet")))
    val q = IncrementStream.dailyEventAgg(evStream)
      .writeStream.format("memory").queryName("daily_agg")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("daily_agg")
      val want = ev.groupBy(date_trunc("day", col("ts")).as("day_start"),
                            col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(expr("CAST(floor(value) AS BIGINT)")).as("value_sum"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val input = MemoryStream[(String, Timestamp, Double)]
    val q = IncrementStream.dedupStream(
        input.toDS().toDF("uniq_id", "date_time", "amt"),
        "uniq_id", "date_time")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(("a", ts(0), 1.0), ("b", ts(1), 2.0))
      q.processAllAvailable()
      // re-deliver "a" (same key, later batch) + one new key
      input.addData(("a", ts(2), 1.0), ("c", ts(3), 3.0))
      q.processAllAvailable()
      val got = spark.table("dedup_stream").select("uniq_id")
        .as[String].collect().sorted.toSeq
      assert(got == Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("stateful sessionization closes sessions across micro-batches") {
    import Sessionize._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts(0), 1.0), Event(1L, ts(5), 2.0),
                    Event(2L, ts(0), 5.0))
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // all sessions still open
      input.addData(Event(1L, ts(60), 3.0)) // gap > 30min closes session 1
      q.processAllAvailable()
      val closed = spark.table("sessions")
        .as[Session].collect()
      assert(closed.length == 1)
      val s = closed.head
      assert(s.user_id == 1L && s.n_events == 2L && s.value_sum == 3.0)
      assert(s.session_start == ts(0) && s.session_end == ts(5))
    } finally q.stop()
  }

  test("idle session closes via event-time timeout without a newer event") {
    import Sessionize._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_timeout")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts(0), 1.0), Event(1L, ts(5), 2.0))
      q.processAllAvailable() // user 1 session open; watermark = ts(5) - 30m
      assert(spark.table("sessions_timeout").count() == 0)
      // advance the watermark far past ts(5)+30m via OTHER users' events —
      // user 1 never gets another event
      input.addData(Event(2L, ts(120), 5.0))
      q.processAllAvailable() // watermark -> ts(90) after this batch
      input.addData(Event(3L, ts(121), 6.0))
      q.processAllAvailable() // timeout for user 1 fires in this batch
      val closed = spark.table("sessions_timeout").as[Session].collect()
        .filter(_.user_id == 1L)
      assert(closed.length == 1)
      val s = closed.head
      assert(s.n_events == 2L && s.value_sum == 3.0)
      assert(s.session_start == ts(0) && s.session_end == ts(5))
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join, bounds state") {
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      (1L, 10L, ts("2024-01-10 12:00:00")), // orders 100 (in window), not 101
      (2L, 10L, ts("2024-01-20 12:00:00")), // order 102 same-day
      (3L, 20L, ts("2024-01-10 12:00:00")), // other user's orders: no match
      (4L, 30L, ts("2024-01-10 12:00:00"))) // no orders at all
      .toDF("event_id", "user_id", "ts")
    val orders = Seq(
      (100L, 10L, ts("2024-01-05 00:00:00")), // 5.5 days before event 1
      (101L, 10L, ts("2024-01-12 00:00:00")), // AFTER event 1, >7d before 2
      (102L, 10L, ts("2024-01-20 00:00:00")), // same day as event 2
      (103L, 20L, ts("2023-12-01 00:00:00"))) // >7 days before event 3
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val evDir = tempDir("graft_ssj_e")
    val ordDir = tempDir("graft_ssj_o")
    events.write.mode("overwrite").parquet(evDir)
    orders.write.mode("overwrite").parquet(ordDir)
    val q = IncrementStream.eventOrderJoin(
        spark.readStream.schema(events.schema).parquet(evDir),
        spark.readStream.schema(orders.schema).parquet(ordDir))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ss_join").select("event_id", "o_orderkey")
        .as[(Long, Long)].collect().sorted.toSeq
      // the same function, batch mode (watermarks no-op): must agree
      val batch = IncrementStream.eventOrderJoin(events, orders)
        .select("event_id", "o_orderkey")
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got == Seq((1L, 100L), (2L, 102L)))
      assert(got == batch)
      // both inputs carry event-time watermarks (bounded join state)
      val plan = IncrementStream.eventOrderJoin(
          spark.readStream.schema(events.schema).parquet(evDir),
          spark.readStream.schema(orders.schema).parquet(ordDir))
        .queryExecution.analyzed.toString
      assert("EventTimeWatermark".r.findAllMatchIn(plan).size == 2, plan)
    } finally q.stop()
  }
}
