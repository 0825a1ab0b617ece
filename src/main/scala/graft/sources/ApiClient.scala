package graft.sources

import graft.etl.Feeds
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's report-API handshake (SURVEY §2.1 S1-S3), out of Spark's
  * scope by design: POST /generate_report → task_id
  * (/root/reference/src/dags/ETL_logs_inc.py:58-65), poll /get_report ≤20×10s
  * → report_id (:69-93), GET /get_increment?date= → increment_id (:95-109).
  * The engine depends only on this trait; HTTP lives behind an
  * implementation the tests replace with [[LocalFixtureClient]].
  */
trait ApiClient {
  /** S1: kick off server-side report generation; returns task_id. */
  def generateReport(): String
  /** S2: one poll attempt; Some(report_id) once the report is SUCCESS. */
  def getReport(taskId: String): Option[String]
  /** S3: resolve the increment for a business date (reference: today-1). */
  def getIncrement(reportId: String, businessDate: java.time.LocalDate): Option[String]
}

object Poll {
  /** Retry-with-budget utility mirroring the reference's poll loop
    * (≤`attempts` tries, `delayMs` apart — ETL_logs_inc.py:76-89). */
  def until[T](attempts: Int, delayMs: Long)(f: => Option[T]): Option[T] = {
    var i = 0
    while (i < attempts) {
      f match {
        case some @ Some(_) => return some
        case None =>
          i += 1
          if (i < attempts) Thread.sleep(delayMs)
      }
    }
    None
  }
}

/** Deterministic local implementation: "reports" are the driver's sf-dir
  * parquet tables; readiness is immediate after a configurable number of
  * pending polls (to exercise the retry path). */
class LocalFixtureClient(spark: SparkSession, dir: String,
                         pendingPolls: Int = 0) extends ApiClient {
  private var polls = 0

  override def generateReport(): String = s"task:$dir"

  override def getReport(taskId: String): Option[String] = {
    polls += 1
    if (polls > pendingPolls) Some(s"report:$dir") else None
  }

  override def getIncrement(reportId: String,
                            businessDate: java.time.LocalDate): Option[String] =
    Some(s"increment:$dir:$businessDate")

  /** S4-S6: the four feeds of the full report (the reference's CSV
    * downloads, here schema-first parquet-derived frames). */
  def fetchReport(reportId: String): Map[String, DataFrame] = Map(
    "user_order_log" -> Feeds.orderLog(spark, dir).history,
    "user_activity_log" -> Feeds.activityLog(spark, dir).history,
    "customer_research" -> Feeds.researchLog(spark, dir).history,
    "price_log" -> Feeds.priceLog(spark, dir))

  /** The increment feeds (`*_inc.csv` in the reference). */
  def fetchIncrement(incrementId: String): Map[String, DataFrame] = Map(
    "user_order_log_inc" -> Feeds.orderLog(spark, dir).increment,
    "user_activity_log_inc" -> Feeds.activityLog(spark, dir).increment,
    "customer_research_inc" -> Feeds.researchLog(spark, dir).increment)
}
