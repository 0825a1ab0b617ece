package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.Caches
import graft.catalog.{PipelineRunner, Warehouse}
import graft.sources.TestdataContract
import graft.streaming.IncrementStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One benchmark run in one JVM, driven by a single closed-loop caller: set
  * up, run the workload's cold phase, then its warm ops until the time
  * budget is spent, check every op's output outside its timed region, and
  * write a JSON record of what was measured.
  *
  *   Main <plan-file> <out-file>
  *
  * The plan file (`key=value` lines, written by run.py from the seed) holds
  * everything the seed selects; this program sees nothing else. */
object Main {

  /** One op; `ok` is false when it threw or its output failed its check. */
  final case class Op(kind: String, seconds: Double, ok: Boolean,
                      traced: Boolean, name: String = "", family: String = "",
                      error: String = "")

  final class Run(val plan: Map[String, String]) {
    def apply(k: String): String = plan(k)
    def list(k: String): Seq[String] =
      plan.get(k).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val workload: String = plan("workload")
    val seconds: Double = plan("seconds").toDouble
    val cores: Int = plan("cores").toInt
    val data: String = plan("data")
    val work: String = plan("work")
    val ops = mutable.ArrayBuffer.empty[Op]
    var sessionSeconds = 0.0
    var preflightSeconds = 0.0
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  private def treeBytes(p: String): Long = {
    val s = Files.walk(Paths.get(p))
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum
    finally s.close()
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
      .take(300).replace('\n', ' ')

  /** Writes `df` as one parquet file named `name` inside `dir`: a delivery
    * of the kind a feed drops into a watched directory. */
  private def deliverFile(df: DataFrame, staging: String, dir: String,
                          name: String): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(dir))
    Files.move(part.toPath, Paths.get(dir, name),
      StandardCopyOption.ATOMIC_MOVE)
    deleteTree(staging)
  }

  private def session(run: Run): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${run.cores}]")
      .config("spark.sql.shuffle.partitions", run.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${run.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val plan = scala.io.Source.fromFile(args(0)).getLines()
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val run = new Run(plan)
    if (run.workload == "pin" || run.workload == "base") {
      val spark = session(run)
      if (run.workload == "pin")
        Files.writeString(Paths.get(run("pinned")), pin(spark, run))
      Files.writeString(Paths.get(args(1)),
        if (run.workload == "base") base(spark, run) else "{}")
      spark.stop()
      return
    }
    // set-up = a Spark session plus the input contract preflight
    val (spark, sessionS) = timed(session(run))
    val (drift, preflightS) =
      timed(TestdataContract.preflightLoud(spark, run.data))
    require(drift.isEmpty, s"input contract drift: $drift")
    run.sessionSeconds = sessionS
    run.preflightSeconds = preflightS
    val trace = new Trace(spark, run("trace") == "1")
    val pinned = Pinned.load(run("pinned"))
    val workload: Workload = run.workload match {
      case "daily_increment" => new DailyIncrement(spark, run, trace)
      case "registry_mix" => new RegistryMix(spark, run, trace, pinned)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    var fatal = ""
    try {
      workload.cold()
      workload.measure()
    } catch {
      case e: OutOfMemoryError => fatal = errorText(e)
      case NonFatal(e) => fatal = errorText(e)
    }
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val summary = trace.summary(run.cores, s"op.${workload.warmKind}")
    val coldSummary = trace.summary(run.cores, s"op.${workload.coldKind}")
    // collections a few apart, so objects Spark's cleaner releases only
    // after the first one are gone by the last
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage
    Files.writeString(Paths.get(args(1)), Json.result(run, summary,
      coldSummary, fatal, storageMb, heap.getUsed / 1048576.0,
      heap.getMax / 1048576.0))
    if (summary.spans.nonEmpty)
      Files.writeString(Paths.get(args(1) + ".spans.jsonl"),
        summary.spans.map(Json.span).mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Digests of every staging and mart table the reference DAG writes. */
  private def dagDigests(wh: Warehouse): Seq[(String, String)] =
    Digest.all(for ((db, ts) <- Seq("staging" -> PipelineRunner.stagingTables,
                                    "mart" -> PipelineRunner.martTables);
                    t <- ts) yield s"$db.$t" -> wh.read(db, t))

  /** The base warehouse the daily workload starts from: the full reference
    * DAG (staging, dims, facts, retention marts) materialized from a fresh
    * session into `run("base")`. Checked: every table's digest equals the
    * pinned one. Returns its time and check as JSON. */
  private def base(spark: SparkSession, run: Run): String = {
    val pinned = Pinned.load(run("pinned"))
    val (wh, s) = timed(PipelineRunner.run(spark, run.data, run("base")))
    val bad = dagDigests(wh).collect {
      case (t, got) if !pinned.dag.get(t).contains(got) => t }
    Json.obj(Seq("dag_s" -> Json.num(s),
      "wh_bytes_per_input_byte" ->
        Json.num(treeBytes(run("base")).toDouble / treeBytes(run.data)),
      "bad" -> Json.arr(bad.map(Json.str))))
  }

  /** The expected outputs, recomputed from the current engine: the table
    * digests of one reference-DAG run, and every registry query's digest,
    * computed twice; a query whose two digests differ is left out as
    * nondeterministic. */
  private def pin(spark: SparkSession, run: Run): String = {
    val out = mutable.ArrayBuffer("# Expected outputs of the benchmark's " +
      "checks; regenerate with: python3 perfbench/run.py --pin")
    val root = s"${run.work}/pin"
    out ++= dagDigests(PipelineRunner.run(spark, run.data, s"$root/wh"))
      .map { case (t, d) => s"dag.$t=$d" }
    deleteTree(root)
    val families = run.list("families").map { f =>
      val i = f.indexOf(':'); f.take(i) -> f.drop(i + 1) }.toMap
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      val a = Digest.of(fn(spark, run.data))
      val b = Digest.of(fn(spark, run.data))
      out += (if (a == b) s"registry.$name=${families(name)}:$a"
              else s"# nondeterministic: $name")
    }
    out.mkString("", "\n", "\n")
  }

  /** A workload: a cold phase run once, then warm ops until the run's
    * seconds are spent, in whole passes of `passSize` ops. */
  abstract class Workload(run: Run, trace: Trace) {
    /** Op kinds of the cold phase and of the warm ops; an op's top-level
      * span is `op.<kind>`, and the per-layer figures are means over them. */
    val coldKind: String
    val warmKind: String
    val passSize: Int = 1
    /** Warm passes every run makes, however long they take. */
    val minPasses: Int = 1
    def cold(): Unit
    def warmOp(i: Int): Op

    /** Runs `body` as one op of `kind`; an exception, heap exhaustion
      * included, is a failed op. */
    protected def attempt(kind: String)(body: => Op): Op = {
      val rec =
        try body
        catch {
          case e: OutOfMemoryError =>
            Op(kind, 0.0, ok = false, trace.on, error = errorText(e))
          case NonFatal(e) =>
            Op(kind, 0.0, ok = false, trace.on, error = errorText(e))
        }
      run.ops += rec
      rec
    }

    /** Checks run untraced, so the trace holds only the timed work. */
    protected def untraced[T](body: => T): T = {
      val was = trace.on
      trace.on = false
      try body finally trace.on = was
    }

    def measure(): Unit = {
      val t0 = System.nanoTime()
      // in a traced run every other op runs untraced, the gap between the
      // two being the tracing overhead, so it runs at least two passes
      val minOps = passSize *
        (if (trace.enabled) math.max(2, minPasses) else minPasses)
      var i = 0
      while ((System.nanoTime() - t0) / 1e9 < run.seconds ||
             i % passSize != 0 || i < minOps) {
        trace.on = trace.enabled && i % 2 == 0
        trace.beginOp(i)
        warmOp(i)
        i += 1
      }
      trace.on = trace.enabled
    }
  }

  /** The warehouse's daily work in one long-lived session, on a copy of
    * the base warehouse the reference DAG materialized. One op is one day:
    * one delivered week of orders drained through the daily increment
    * cycle (merge into the month-partitioned order log, compaction of the
    * touched months). The first day of the session is the cold phase.
    * Checked: the order log grew by exactly the delivered rows. */
  final class DailyIncrement(spark: SparkSession, run: Run, trace: Trace)
      extends Workload(run, trace) {
    val coldKind = "first_day"
    val warmKind = "day"
    private val root = run.work
    private val wh = new Warehouse(spark, run("warehouse"))
    private val weeks = run.list("weeks").map { w =>
      val Array(lo, hi) = w.split('~'); (lo, hi) }
    private var rows = 0L

    private def orderLog = wh.read("staging", "user_order_log_v2")

    def cold(): Unit = {
      rows = orderLog.count()
      oneDay(coldKind, 0)
    }

    def warmOp(i: Int): Op = oneDay(warmKind, i + 1)

    /** Day `i` of the session. */
    private def oneDay(kind: String, i: Int): Op = attempt(kind) {
      val (lo, hi) = weeks(i % weeks.size)
      val delivered = untraced {
        val li = spark.read.parquet(s"${run.data}/lineitem.parquet")
        val orders = spark.read.parquet(s"${run.data}/orders.parquet")
          .where(col("o_orderdate").between(lo, hi)).select("o_orderkey")
        val week = li.join(orders, col("l_orderkey") === col("o_orderkey"),
          "left_semi")
        deliverFile(week, s"$root/staging", s"$root/watch", s"day_$i.parquet")
        week.count()
      }
      val (_, s) = timed(trace.span(s"op.$kind") {
        trace.span("streaming.daily_cycle") {
          IncrementStream.runDailyCycle(spark, run.data, s"$root/watch",
            s"$root/sink", s"$root/ckpt", wh, "staging", "user_order_log_v2")
        }
      })
      val traced = trace.on
      untraced {
        val grown = orderLog.count() - rows
        rows += grown
        Op(kind, s, grown == delivered, traced, error =
          if (grown == delivered) ""
          else s"order log grew $grown, delivered $delivered")
      }
    }
  }

  /** The analysts' surface: a module-stratified panel of the query registry
    * in one long-lived session. Every memo is dropped, then one cold pass
    * over the panel and warm passes, each in a seeded order; one op = one
    * query producing its full result (a `noop` write, not `count()`).
    * Checked: every result's digest equals the pinned one. */
  final class RegistryMix(spark: SparkSession, run: Run, trace: Trace,
                          pinned: Pinned) extends Workload(run, trace) {
    val coldKind = "cold"
    val warmKind = "warm"
    private val queries = graft.SparkEntry.queries
    private val panel = run.list("queries").toIndexedSeq
    private val warmOrder = run.list("warm").map(_.toInt).toIndexedSeq
    override val passSize: Int = panel.size
    // warm_s takes each query's best of its warm runs
    override val minPasses: Int = 2

    private def query(kind: String, name: String): Op = attempt(kind) {
      val (df, s) = timed(trace.span(s"op.$kind") {
        val df = trace.span("etl.construct")(queries(name)(spark, run.data))
        trace.constructAnalysis(df.queryExecution)
        trace.span("exec.noop_write") {
          df.write.format("noop").mode("overwrite").save()
        }
        df
      })
      val traced = trace.on
      val want = pinned.registry(name)
      val got = untraced(Digest.of(df))
      Op(kind, s, got == want.digest, traced, name = name,
         family = want.family,
         error = if (got == want.digest) "" else s"$name digest $got")
    }

    def cold(): Unit = {
      Caches.invalidateAll(spark)
      spark.catalog.clearCache()
      panel.foreach(query("cold", _))
    }

    def warmOp(i: Int): Op = query("warm", panel(warmOrder(i % warmOrder.size)))
  }
}
