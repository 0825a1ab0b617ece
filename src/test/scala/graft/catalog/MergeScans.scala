package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** What [[Warehouse.mergePartitioned]] read: for every write into a
  * `__merge_tmp` path, the files its `FileSourceScanExec`s opened (the
  * scan's `numFiles` metric) and listed. Register with [[MergeScans.around]]. */
final class MergeScans extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val writes =
    new java.util.concurrent.ConcurrentLinkedQueue[MergeScans.Write]()

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    collect(qe.executedPlan) {
      case w: DataWritingCommandExec if (w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            i.outputPath.toString.contains("__merge_tmp")
          case _ => false
        }) =>
        val scans = collect(w.child) { case s: FileSourceScanExec => s }
        MergeScans.Write(
          scans.map(_.metrics.get("numFiles").fold(0L)(_.value)).sum,
          scans.flatMap(s => s.relation.location
            .listFiles(s.partitionFilters, s.dataFilters)
            .flatMap(_.files.map(_.getPath.toString))))
    }.foreach(writes.add)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** The merge writes recorded since the last call, oldest first. */
  def take(spark: SparkSession): Seq[MergeScans.Write] = {
    org.apache.spark.SpecListenerBus.drain(spark.sparkContext)
    Iterator.continually(writes.poll()).takeWhile(_ != null).toSeq
  }
}

object MergeScans {
  /** One `__merge_tmp` write: files its scans opened, and their paths. */
  final case class Write(filesOpened: Long, files: Seq[String])

  /** Runs `body` with a fresh recorder registered on the session. */
  def around[T](spark: SparkSession)(body: MergeScans => T): T = {
    val rec = new MergeScans
    spark.listenerManager.register(rec)
    try body(rec) finally spark.listenerManager.unregister(rec)
  }
}
