package graft.catalog

import graft.etl.{Dims, Pipeline}
import graft.ops.Analytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, date_format, lit}

/** End-to-end materializing run of the reference DAG (§3): staging feeds →
  * dims → facts → retention marts, each layer persisted to the warehouse
  * exactly where the reference materializes a table. Running it twice is a
  * no-op on the mart contents (reference README.md:20-22 idempotency
  * property — every table is an overwrite of a deterministic input).
  *
  * The DAG is one ordered list of [[Step]]s, the analog of the reference
  * Airflow DAG's task chain: each names its table, its wave and its write
  * once, and the table lists below are derived from it.
  */
object PipelineRunner {

  /** How a step writes its frame: flat, or partitioned by the month of
    * its `date_time`, or by the month of its `date_id` in the calendar
    * dimension. [[HistoryThenIncrement]] is the incremental path the
    * reference's daily DAG implies: the frame (the history) is laid down
    * [[ByCalMonth]], then the day's increment (`Pipeline.fSalesTemp`)
    * merges in, rewriting ONLY the months it touches — equal to an
    * overwrite with `Pipeline.fSalesV2`, as the ids are disjoint. One
    * task, as overwrite → merge is a same-table dependency. */
  private sealed trait Write
  private case object Flat extends Write
  private case object ByMonth extends Write
  private case object ByCalMonth extends Write
  private case object HistoryThenIncrement extends Write

  /** One table of the DAG. Waves run in order, and the steps of one wave
    * concurrently: wave 1 writes the staging frames the dims read, wave 2
    * the dims the facts read, wave 3 the facts and marts. A `prebuilt`
    * step's frame (a Pipeline lazy val, incl. its Ids.dense two-phase
    * actions) is built on the calling thread before the first wave, so
    * the per-instance lazy-val monitor never serializes the pool; the
    * other steps' frames are built on the pool. */
  private final case class Step(db: String, table: String, wave: Int,
                                frame: Pipeline => DataFrame,
                                write: Write = Flat, prebuilt: Boolean = true)

  /** A wave-3 mart overwritten from a frame built on the pool. */
  private def mart(table: String)(frame: Pipeline => DataFrame) =
    Step("mart", table, 3, frame, prebuilt = false)

  private val steps: Seq[Step] = Seq(
    Step("staging", "user_order_log", 1, _.uol),
    Step("staging", "user_order_log_temp", 1, _.uolTemp),
    Step("staging", "user_order_log_v2", 1, _.uolV2, ByMonth),
    Step("staging", "user_activity_log", 1, _.ual),
    Step("staging", "user_activity_log_temp", 1, _.ualTemp),
    Step("staging", "customer_research", 1, _.research),
    Step("staging", "customer_research_temp", 1, _.researchTemp),
    Step("staging", "price_log", 1, _.priceLog),
    Step("mart", "d_calendar", 2, _.dCalendar),
    Step("mart", "d_calendar_temp", 2, _.dCalendarTemp),
    Step("mart", "d_customer", 2, _.dCustomer),
    Step("mart", "d_item", 2, _.dItem),
    Step("mart", "f_sales", 3, _.fSales, ByCalMonth),
    Step("mart", "f_sales_temp", 3, _.fSalesTemp),
    Step("mart", "f_sales_v2", 3,
      _.fSales.withColumn("status", lit("shipped")), HistoryThenIncrement,
      prebuilt = false),
    Step("mart", "d_calendar_weeks", 2, _.weeks),
    mart("new_cust")(_.newCust(true)),
    mart("new_cust_compact")(_.newCust(false)),
    mart("returned_cust")(_.returnedCust(true)),
    mart("returned_cust_compact")(_.returnedCust(false)),
    mart("refunded_cust")(_.refundedCust(true)),
    mart("refunded_cust_compact")(_.refundedCust(false)),
    mart("retention_compact")(_.retentionCompact),
    mart("f_customer_retention")(_.fCustomerRetention),
    // beyond-reference marts: SCD2 history, rolling revenue, top-k,
    // pivot and rollup — the round-4 analytics layer, materialized in
    // the same overwrite-idempotent style
    mart("d_customer_scd")(p => Dims.dCustomerScd(p.uolV2)),
    mart("sales_rolling_7d")(p => Analytics.rollingSales7dOf(p.uol)),
    mart("top_items_city")(p => Analytics.topItemsPerCityOf(p.uol)),
    mart("sales_pivot")(p => Analytics.salesStatusPivotOf(p.uolV2)),
    mart("sales_rollup")(p => Analytics.salesRollupOf(p.uol, p.registerCached)))

  val stagingTables: Seq[String] = steps.filter(_.db == "staging").map(_.table)
  val martTables: Seq[String] = steps.filter(_.db == "mart").map(_.table)

  // month layout column for the big time-keyed tables: one directory per
  // month so the daily-increment merge and time-range scans prune at the
  // file-listing level (Warehouse.read strips it back off)
  private def byMonth(df: DataFrame) =
    df.withColumn(Warehouse.PartCol, date_format(col("date_time"), "yyyy-MM"))

  // the facts carry only the date surrogate; recover the month from the
  // calendar dimension (broadcast-sized join, no extra shuffle)
  private def byCalMonth(df: DataFrame, cal: DataFrame) =
    df.join(broadcast(cal.select(col("date_id"),
      date_format(col("fact_date"), "yyyy-MM").as(Warehouse.PartCol))),
      "date_id")
      .select((df.columns :+ Warehouse.PartCol).map(col).toIndexedSeq: _*)

  private def runStep(wh: Warehouse, p: Pipeline, s: Step): Unit = {
    import Warehouse.PartCol
    val df = s.frame(p)
    s.write match {
      case Flat => wh.overwrite(s.db, s.table, df)
      case ByMonth =>
        wh.overwritePartitioned(s.db, s.table, byMonth(df), PartCol)
      case ByCalMonth =>
        wh.overwritePartitioned(s.db, s.table, byCalMonth(df, p.dCalendar),
          PartCol)
      case HistoryThenIncrement =>
        wh.overwritePartitioned(s.db, s.table, byCalMonth(df, p.dCalendar),
          PartCol)
        wh.mergePartitioned(s.db, s.table,
          byCalMonth(p.fSalesTemp, p.dCalendarTemp), Seq("id"), PartCol)
    }
  }

  /** Run `tasks` concurrently on a bounded pool and propagate the first
    * failure. Spark job submission is thread-safe; the writes in one batch
    * target DISTINCT tables whose plans share only already-persisted
    * frames, so concurrency changes wall-clock, not results. Bounded at 8:
    * enough to hide per-job scheduling gaps on local[32] (and small enough
    * that a real cluster's driver isn't juggling dozens of concurrent
    * stages). */
  private def inParallel(tasks: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, tasks.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // Each task is Try-wrapped so the Await drains the WHOLE wave even
    // when one write fails: a fail-fast Future.sequence would rethrow
    // while sibling overwrite jobs keep mutating the warehouse in the
    // background — a caller that catches and retries would race those
    // zombie writes. The first failure is rethrown only after every
    // submitted task has completed (pool.shutdown() alone neither cancels
    // nor waits).
    try {
      val results = Await.result(
        Future.sequence(tasks.map(t => Future(Try(t())))), Duration.Inf)
      results.collectFirst { case Failure(e) => e }.foreach(throw _)
    } finally pool.shutdown()
  }

  def run(spark: SparkSession, sfDir: String, warehouseRoot: String): Warehouse = {
    val wh = new Warehouse(spark, warehouseRoot)
    // The SHARED memoized instance, not a private `new Pipeline`: the
    // Ids.dense plans are RDD-backed, so a second instance's id frames never
    // canonicalize equal to the first's and CacheManager would cache every
    // staging/dim/fact subplan twice — measurable memory pressure when a
    // bench run materializes the warehouse after the query series has
    // already populated the shared instance (the r4 w_* read-back drag).
    val p = Pipeline.of(spark, sfDir)
    // concurrent waves: the fully sequential series paid one job-scheduling
    // gap per table (r12)
    steps.filter(_.prebuilt).foreach(_.frame(p))
    for (wave <- steps.map(_.wave).distinct.sorted)
      inParallel(steps.filter(_.wave == wave).map(s => () => runStep(wh, p, s)))
    wh
  }
}
