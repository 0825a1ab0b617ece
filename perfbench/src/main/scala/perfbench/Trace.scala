package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's tracer. It records a span around each call the harness
  * makes into a layer of the engine (name, start, end, parent, op id) and
  * collects Spark's own listener events: jobs and their tasks (attributed to
  * the span whose id the job's local properties carry), query executions
  * (Catalyst phase times and warehouse writes, attributed by time) and
  * streaming progress (attributed by time). Everything stays in memory until
  * [[summary]] is asked for at the end of the run.
  *
  * With `enabled = false` the harness calls run untouched: no span, no job
  * property, and the listeners are never registered. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opId = -1
  /** Set per op by the harness: ops run with `on = false` record nothing,
    * which gives the traced run an untraced comparison of its own. */
  var on: Boolean = enabled

  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[ProgressRec]
  private val constructAnalysisMs = mutable.Map.empty[Int, Long]

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .foreach { id =>
          val rec = new JobRec(id.toInt, e.time)
          jobs.put(e.jobId, rec)
          e.stageIds.foreach(stageJob.put(_, rec))
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (rec != null && m != null) {
        rec.tasks += 1
        rec.runMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        rec.scanBytes += m.inputMetrics.bytesRead
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        rec.spill += m.diskBytesSpilled
      }
    }
  }

  private object QueryListener extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private def metric(p: SparkPlan, name: String): Long =
      p.metrics.get(name).map(_.value).getOrElse(0L)
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(s => s.endTimeMs - s.startTimeMs)
        .getOrElse(0L)
      val anchor = ph.get("planning").orElse(ph.get("analysis"))
        .map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      val writes = collect(qe.executedPlan) {
        case w: DataWritingCommandExec =>
          val path = w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
            case other => other.nodeName
          }
          val filesRead = collect(w.child) {
            case s: FileSourceScanExec => metric(s, "numFiles")
          }.sum
          WriteRec(path, metric(w, "numOutputBytes"), metric(w, "numFiles"),
                   filesRead)
      }
      queries.add(QeRec(anchor, ms("analysis"), ms("optimization"),
        ms("planning"), durationNs, writes))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        progress.add(ProgressRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, p.batchDuration))
    }
  }

  if (enabled) {
    sc.addSparkListener(JobListener)
    spark.listenerManager.register(QueryListener)
    spark.streams.addListener(StreamListener)
  }

  /** Starts op `id`: spans opened until the next call belong to it. */
  def beginOp(id: Int): Unit = opId = id

  /** Runs `body` inside a span named `name` ("layer.call"). Jobs submitted
    * meanwhile, from this thread or threads it starts, carry the span id
    * and the name as their job description. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, name, parent, opId, System.currentTimeMillis())
      spans += s
      stack = s :: stack
      val prevId = sc.getLocalProperty(SpanKey)
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setLocalProperty(SpanKey, s.id.toString)
      sc.setJobDescription(s"$name#${s.op}")
      val t0 = System.nanoTime()
      try body
      finally {
        s.seconds = (System.nanoTime() - t0) / 1e9
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prevId)
        sc.setJobDescription(prevDesc)
      }
    }

  /** Analysis a DataFrame paid while it was built: Spark analyzes eagerly,
    * so this part of Catalyst's work never reaches the query listener. A
    * memoized DataFrame handed out again was analyzed before this op began
    * and counts nothing. */
  def constructAnalysis(qe: QueryExecution): Unit =
    if (on) stack.headOption.foreach { s =>
      qe.tracker.phases.get("analysis").filter(_.startTimeMs >= s.startMs)
        .foreach { p =>
          constructAnalysisMs(s.id) = constructAnalysisMs.getOrElse(s.id, 0L) +
            p.endTimeMs - p.startTimeMs
        }
    }

  /** Per-layer figures over the traced ops whose top-level span is named
    * `opSpan`, each a mean per op unless it is a fraction. */
  def summary(cores: Int, opSpan: String): Summary = {
    if (enabled) org.apache.spark.ListenerBusDrain(sc)
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span =
      if (s.parent < 0) s else root(byId(s.parent))
    val opSpans = spans.filter(s => s.parent < 0 && s.name == opSpan)
    val opIds = opSpans.map(_.id).toSet
    def inOp(s: Span) = opIds(root(s).id)
    // innermost span covering a wall-clock instant, for events that carry
    // a time but no span id
    val traced = spans.filter(inOp)
    def at(ms: Long): Option[Span] =
      traced.filter(s => s.startMs <= ms && ms <= s.endMs)
        .minByOption(s => s.endMs - s.startMs)
    val n = math.max(1, opSpans.size).toDouble
    val opJobs = jobs.values.asScala.toSeq.filter(j =>
      byId.get(j.span).exists(inOp))
    val jobsBySpan = opJobs.groupBy(_.span)
    val qes = queries.asScala.toSeq.flatMap(q => at(q.anchorMs).map(_ -> q))
    val prog = progress.asScala.toSeq.filter(p => at(p.tsMs).isDefined)
    val writes = qes.flatMap(_._2.writes)
    def spansNamed(name: String) = spans.filter(s => s.name == name && inOp(s))
    def jobUnionMs(js: Seq[JobRec]): Long = {
      var covered = 0L
      var end = Long.MinValue
      js.filter(_.endMs >= 0).sortBy(_.startMs).foreach { j =>
        val s = math.max(j.startMs, end)
        if (j.endMs > s) covered += j.endMs - s
        end = math.max(end, j.endMs)
      }
      covered
    }
    val mb = 1024.0 * 1024.0
    val constructs = spansNamed("etl.construct")
    val mergeWrites = writes.filter(_.path.contains("__merge_tmp"))
    val opWallMs = opSpans.map(s => s.seconds * 1000).sum
    val layers = mutable.LinkedHashMap[String, Double](
      "etl.construct_s" -> constructs.map(_.seconds).sum / n,
      "etl.construct_jobs" ->
        constructs.map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum / n,
      // ops whose DataFrame construction ran no Spark job: everything it
      // needed was already built
      "memo.reuse_frac" -> opSpans.count(o => constructs.exists(c =>
        c.parent == o.id) && !constructs.exists(c => c.parent == o.id &&
        jobsBySpan.contains(c.id))) / n,
      "catalyst.analysis_s" -> (qes.map(_._2.analysisMs).sum +
        constructAnalysisMs.filter(e => byId.get(e._1).exists(inOp))
          .values.sum) / 1000.0 / n,
      "catalyst.optimization_s" -> qes.map(_._2.optimizationMs).sum / 1000.0 / n,
      "catalyst.planning_s" -> qes.map(_._2.planningMs).sum / 1000.0 / n,
      "exec.run_s" -> opSpans.map(o => jobUnionMs(opJobs.filter(j =>
        root(byId(j.span)).id == o.id))).sum / 1000.0 / n,
      "exec.jobs" -> opJobs.size / n,
      "exec.tasks" -> opJobs.map(_.tasks).sum / n,
      "exec.executor_cpu_s" -> opJobs.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_s" -> opJobs.map(_.gcMs).sum / 1000.0 / n,
      "exec.busy_frac" ->
        (if (opWallMs > 0) opJobs.map(_.runMs).sum / (opWallMs * cores) else 0.0),
      "exec.scan_mb" -> opJobs.map(_.scanBytes).sum / mb / n,
      "exec.shuffle_write_mb" -> opJobs.map(_.shuffleWrite).sum / mb / n,
      "exec.shuffle_read_mb" -> opJobs.map(_.shuffleRead).sum / mb / n,
      "exec.spill_mb" -> opJobs.map(_.spill).sum / mb / n,
      "catalog.write_s" -> qes.filter(_._2.writes.nonEmpty)
        .map(_._2.durationNs).sum / 1e9 / n,
      "catalog.bytes_written_mb" -> writes.map(_.bytes).sum / mb / n,
      "catalog.files_written" -> writes.map(_.files).sum / n,
      "catalog.merge_files_read" -> mergeWrites.map(_.filesRead).sum / n,
      "catalog.merge_bytes_rewritten_mb" -> mergeWrites.map(_.bytes).sum / mb / n,
      "catalog.compact_s" ->
        qes.filter(_._2.writes.exists(_.path.contains("__compact_tmp")))
          .map(_._2.durationNs / 1e9).sum / n,
      "streaming.drain_s" -> prog.map(_.batchMs).sum / 1000.0 / n,
      "streaming.rows_in" -> prog.map(_.rows).sum / n,
      "streaming.batches" -> prog.size / n)
    // self time per layer: each span's duration minus its children's
    val children = spans.groupBy(_.parent)
    val self = spans.filter(inOp).groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, ss) =>
        layer -> ss.map(s => s.seconds -
          children.getOrElse(s.id, Nil).map(_.seconds).sum).sum / n }
    Summary(opSpans.size, layers.toMap, self, spans.toSeq)
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startMs: Long) {
    var endMs: Long = Long.MaxValue
    var seconds: Double = 0.0
  }

  final class JobRec(val span: Int, val startMs: Long) {
    var endMs = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var scanBytes = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  final case class WriteRec(path: String, bytes: Long, files: Long,
                            filesRead: Long)
  final case class QeRec(anchorMs: Long, analysisMs: Long,
                         optimizationMs: Long, planningMs: Long,
                         durationNs: Long, writes: Seq[WriteRec])
  final case class ProgressRec(tsMs: Long, rows: Long, batchMs: Long)

  final case class Summary(tracedOps: Int, layers: Map[String, Double],
                           selfSeconds: Map[String, Double], spans: Seq[Span])
}
