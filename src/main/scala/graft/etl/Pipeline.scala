package graft.etl

import graft.{Caches, Memo}
import graft.Memo.TruncateOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wires the §3 DAG as plain function composition: feeds → dims → facts →
  * retention. Each step is a lazy DataFrame; actions happen only at the
  * caller's sink (Verify writes parquet, perfbench and Probe noop).
  *
  * Incremental id continuation (PG sequences living across statements)
  * requires the previous table's cardinality; those are the only driver-side
  * scalars (`count()` of a dimension-sized plan).
  */
object Pipeline {

  /** One shared Pipeline per (session, sf-dir), memoized in
    * [[graft.Caches]] with every frame it pins: its lazy DataFrames are
    * the in-session materialized staging layer. Sharing the INSTANCE
    * matters since Ids.dense — the two-phase id assignment is RDD-backed,
    * so two instances' id plans never canonicalize equal and would each
    * re-cache their own copy. Same stale-read contract as every grain:
    * call `Caches.invalidate(spark, dir)` after rewriting `dir`. */
  def of(spark: SparkSession, dir: String): Pipeline =
    Caches.grain(spark, dir, "etl.pipeline")(new Pipeline(spark, dir))
}

class Pipeline(spark: SparkSession, dir: String) {

  /** A staging frame: truncated and persisted ([[graft.Memo.stage]] —
    * the in-session equivalent of the reference's staging tables), one
    * grain per (session, dir, name). */
  private def materialized(name: String)(df: => DataFrame): DataFrame =
    Caches.grain(spark, dir, s"etl.$name")(df.staged)

  /** Register an externally-built shared subplan for release with this
    * pipeline's dir (operators like Analytics.salesCubeOf take this as
    * their `share` hook instead of persisting unilaterally). A persist,
    * not a checkpoint: CacheManager dedupes by canonicalized plan, so
    * repeated registration of the same derived frame caches its data
    * only once. */
  def registerCached(df: DataFrame): DataFrame = Memo.pin(df, dir)

  /** Shared subplans consumed more than once within a single query are
    * persisted (spill-safe MEMORY_AND_DISK): the synthesized order feed
    * (scanned by history + increment + v2 branches) and the period-tagged
    * v2 log (scanned by all three retention classes). At cluster scale
    * these correspond to materialized staging tables; in-memory caching is
    * the single-job equivalent. */
  private lazy val orderLog: Feeds.Split = Feeds.orderLog(
    materialized("feed")(Feeds.orderFeed(spark, dir)),
    Feeds.ordersCutoff(spark, dir))
  private lazy val activityLog: Feeds.Split = Feeds.activityLog(spark, dir)
  private lazy val researchLog: Feeds.Split = Feeds.researchLog(spark, dir)

  lazy val uol: DataFrame = orderLog.history
  lazy val uolTemp: DataFrame = orderLog.increment
  lazy val uolV2: DataFrame = Feeds.orderLogV2(orderLog)
  lazy val ual: DataFrame = activityLog.history
  lazy val ualTemp: DataFrame = activityLog.increment
  lazy val research: DataFrame = researchLog.history
  lazy val researchTemp: DataFrame = researchLog.increment
  lazy val priceLog: DataFrame = Feeds.priceLog(spark, dir)

  lazy val calDates: DataFrame =
    materialized("cal-dates")(Calendar.dates(research, ual, uol))
  // Frames that pin storage are registry grains, not per-instance state —
  // the dense-id frames too: their Ids.dense sort persist is tracked with
  // the grain, so per-dir invalidation releases it
  lazy val dCalendar: DataFrame =
    Caches.grain(spark, dir, "etl.d-calendar")(Calendar.attrs(calDates))
  /** |d_calendar| — offset for the incremental calendar ids. */
  lazy val calCount: Long = calDates.count()
  lazy val dCalendarTemp: DataFrame =
    Caches.grain(spark, dir, "etl.d-calendar-temp")(Calendar.attrs(
      Calendar.dates(researchTemp, ualTemp, uolTemp), calCount))
  lazy val dCalendarFull: DataFrame = dCalendar.unionAll(dCalendarTemp)

  lazy val dCustomer: DataFrame =
    Caches.grain(spark, dir, "etl.d-customer")(Dims.dCustomer(uol))
  lazy val dItem: DataFrame =
    Caches.grain(spark, dir, "etl.d-item")(Dims.dItem(uol))

  lazy val fSales: DataFrame =
    Caches.grain(spark, dir, "etl.f-sales")(Sales.fSales(uol, dCalendar))
  /** |f_sales| = |uol| (every order date is a calendar date) — cheaper count. */
  lazy val fSalesCount: Long = uol.count()
  lazy val fSalesTemp: DataFrame =
    Caches.grain(spark, dir, "etl.f-sales-temp")(
      Sales.fSalesTemp(uolTemp, dCalendarTemp, fSalesCount))
  lazy val fSalesV2: DataFrame = Sales.fSalesV2(fSales, fSalesTemp)

  lazy val weeks: DataFrame = Retention.weeks(dCalendarFull)
  lazy val uolvPeriod: DataFrame =
    materialized("uolv-period")(Retention.withPeriod(uolV2, weeks))

  /** Level-1 retention aggregates, shared across the whole family: 8 of the
    * SparkEntry queries (3 classes × 2 grains + compact mart + 2 full marts)
    * re-derive these same per-(customer, date, period[, item]) rollups; the
    * `shipped` one even feeds two classes (HAVING =1 vs >1) inside a single
    * query. One persisted copy per (status, grain) — each is a small
    * aggregate, far below the staging frames it derives from. */
  private def level1(status: String, includeItem: Boolean): DataFrame =
    synchronized { // PipelineRunner's parallel mart wave: one build each
      materialized(s"level1/$status/$includeItem")(
        Retention.level1(uolvPeriod, status, includeItem))
    }

  def newCust(includeItem: Boolean): DataFrame =
    Retention.newCustFromL1(level1("shipped", includeItem), includeItem)
  def returnedCust(includeItem: Boolean): DataFrame =
    Retention.returnedCustFromL1(level1("shipped", includeItem), includeItem)
  def refundedCust(includeItem: Boolean): DataFrame =
    Retention.refundedCustFromL1(level1("refunded", includeItem), includeItem)

  /** r18: the SCD2 dimension builds, memoized per source feed — four
    * query forms (the SCD itself, its incremental merge's base, the
    * point-in-time join, the change-rate monitor) each re-ran the
    * repartition + double-window compress per call; production
    * materializes the dimension once per load. */
  lazy val dCustomerScdV2: DataFrame =
    materialized("scd-v2")(Dims.dCustomerScd(uolV2))
  lazy val dCustomerScdHist: DataFrame =
    materialized("scd-hist")(Dims.dCustomerScd(uol))

  lazy val retentionCompact: DataFrame =
    Retention.retentionCompact(newCust(false), returnedCust(false),
                               refundedCust(false))
  lazy val fCustomerRetention: DataFrame =
    Retention.fCustomerRetention(newCust(true), returnedCust(true),
                                 refundedCust(true))
  lazy val fCustomerRetentionGrain: DataFrame =
    Retention.fCustomerRetentionGrain(newCust(true), returnedCust(true),
                                      refundedCust(true))
}
