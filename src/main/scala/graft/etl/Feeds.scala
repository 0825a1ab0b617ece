package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** Synthesizes the reference's staging feeds from the driver's TPC-H-ish
  * parquet test tables (/root/repo/FIXTURES.md §B).
  *
  * Reference shapes (SURVEY.md §1.2):
  *  - `staging.user_order_log` (+ `_temp` with `status`) —
  *    /root/reference/src/dags/sql/staging.create_user_order_log.sql:2-16,
  *    create_stage_inc_tables.sql:13-28
  *  - `staging.user_activity_log` — staging.create_user_activity_log.sql:2-10
  *  - `staging.customer_research` — staging.create_customer_research.sql:2-10
  *
  * The "increment" split (reference: a dated `_inc` CSV per business day,
  * ETL_logs_inc.py:95-109) is modeled as a deterministic recency cut: the
  * last 60 days of order dates / last 7 days of events. The cut is computed
  * as a 1-row aggregate broadcast-crossjoined into the filter, so the plan
  * stays fully lazy and distributed (no driver collect).
  */
object Feeds {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The generator has shipped `events.ts` as parquet TIMESTAMP(NANOS)
    * (rounds 1-7) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (round 8+), so the reader adapts to whichever physical type the files
    * carry instead of assuming one. All three arms normalize to a
    * session-zoned TimestampType `ts` with microsecond precision — the
    * exact frame every downstream consumer has always seen:
    *  - NANOS: Spark's parquet reader rejects it outright
    *    ([PARQUET_TYPE_ILLEGAL]); read nanos as raw longs and truncate to
    *    micros, the same truncation DuckDB applies casting TIMESTAMP_NS →
    *    TIMESTAMP, keeping the oracle comparable.
    *  - MICROS without UTC adjust arrives as TIMESTAMP_NTZ; the session
    *    zone is pinned UTC everywhere (mains/perfbench/specs), so the cast to
    *    TimestampType is wall-clock-identity and matches DuckDB reading
    *    the same column as naive TIMESTAMP.
    *  - MICROS with UTC adjust arrives as TimestampType already. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(spark, dir, "events"))
  }

  /** Normalize an events frame's `ts` to microsecond TimestampType (see
    * [[events]]); shared with the streaming read in StreamingSpec. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // The LongType arm assumes epoch-NANOS. A future vintage shipping
      // plain INT64 micros (or millis) would also arrive as LongType and
      // the div-1000 would silently shift every timestamp ~1000× toward
      // 1970 — TestdataSchemaSpec pins types, not magnitudes. So the
      // magnitude is checked per-row IN the plan (codegen'd CASE, no
      // driver-side sample job) against the shared
      // TestdataContract.EventsNanosFloor (1e17 ≈ 1973-03-03): plausible
      // epoch-nanos for the pinned 1990-2035 window exceed it, while the
      // same dates in micros (~1e15) or millis (~1e12) fall far below —
      // those fail loud, like the unknown-type arm. Pre-Mar-1973 instants
      // are rejected too; the floor's validity range is documented next
      // to the eventsTs pin in TestdataContract.
      case LongType => df.withColumn("ts", expr(
        s"""timestamp_micros(CASE
          |  WHEN ts IS NULL THEN NULL
          |  WHEN ts >= ${graft.sources.TestdataContract.EventsNanosFloor}
          |    THEN ts div 1000
          |  ELSE raise_error(concat('events.ts: long value ', ts,
          |    ' is too small for epoch-nanos (micros/millis vintage?) — ',
          |    'adapt Feeds.normalizeEventTs'))
          |END)""".stripMargin))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"events.ts: expected nanos-as-long, TIMESTAMP_NTZ or TIMESTAMP, got $other")
    }

  /** Unified order feed (all rows, with derived status) before the
    * history/increment split. One row per lineitem.
    *
    * `uniq_id` determinism: the test generator emits duplicate
    * (l_orderkey, l_linenumber) pairs, so a per-pair `row_number` (ordered by
    * the remaining attributes) disambiguates. Rows identical in ALL those
    * attributes may swap sequence numbers, which is output-invariant. The
    * window is partitioned (no global sort) — scales. */
  def orderFeed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dedupW = Window
      .partitionBy("l_orderkey", "l_linenumber")
      .orderBy("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity",
               "l_discount")
    orderFeedOf(spark, dir,
      table(spark, dir, "lineitem").withColumn("line_seq",
        row_number().over(dedupW)),
      "l_orderkey", "l_linenumber", "line_seq")
  }

  /** The order-feed projection of a (possibly streaming) lineitem frame
    * `li`: joined to the dimension tables and projected into the
    * `user_order_log_temp` shape, `uniq_id` being `idParts` joined by `-`.
    * One implementation, two execution modes: [[orderFeed]] keys by
    * (orderkey, linenumber, line_seq); the increment stream
    * (`streaming.IncrementStream`) has no partitioned window to number
    * lines with and keys by (orderkey, linenumber) only. */
  def orderFeedOf(spark: SparkSession, dir: String, li: DataFrame,
                  idParts: String*): DataFrame = {
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    val n = table(spark, dir, "nation")
    val p = table(spark, dir, "part")
    // nation is O(25) rows — always broadcast; customer/part are left to
    // AQE/auto-broadcast (they are dimension-sized at test SFs but could be
    // large in production).
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .select(
        concat_ws("-", idParts.map(col(_).cast("string")): _*).as("uniq_id"),
        col("o_orderdate").as("date_time"),
        col("c_nationkey").cast("int").as("city_id"),
        col("n_name").as("city_name"),
        col("o_custkey").cast("long").as("customer_id"),
        substring(col("c_name"), 1, 8).as("first_name"),
        expr("substring(c_name, 10)").as("last_name"),
        col("l_partkey").cast("int").as("item_id"),
        col("p_name").as("item_name"),
        floor(col("l_quantity")).cast("long").as("quantity"),
        col("l_extendedprice").cast(DecimalType(14, 2)).as("payment_amount"),
        when(col("l_returnflag") === "R", "refunded")
          .otherwise("shipped").as("status"))
  }

  /** 1-row DataFrame with the order-feed increment cutoff. */
  def ordersCutoff(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .agg(expr("max(o_orderdate) - INTERVAL '60' DAY").as("cutoff"))

  /** 1-row DataFrame with the events increment cutoff. */
  def eventsCutoff(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .agg(expr("max(ts) - INTERVAL '7' DAY").as("cutoff"))

  private[etl] def splitLe(df: DataFrame, cut: DataFrame, tsCol: String): DataFrame =
    df.crossJoin(broadcast(cut)).where(col(tsCol) <= col("cutoff")).drop("cutoff")

  private[etl] def splitGt(df: DataFrame, cut: DataFrame, tsCol: String): DataFrame =
    df.crossJoin(broadcast(cut)).where(col(tsCol) > col("cutoff")).drop("cutoff")

  /** `staging.user_order_log` — the full-history feed (no status column). */
  def uol(spark: SparkSession, dir: String): DataFrame =
    splitLe(orderFeed(spark, dir), ordersCutoff(spark, dir), "date_time")
      .drop("status")

  /** `staging.user_order_log_temp` — the increment feed (carries status). */
  def uolTemp(spark: SparkSession, dir: String): DataFrame =
    splitGt(orderFeed(spark, dir), ordersCutoff(spark, dir), "date_time")

  /** `staging.user_order_log_v2` — history backfilled with status='shipped'
    * plus the increment with its real status
    * (/root/reference/src/dags/sql/date_periods.sql:17-26: CTAS + ALTER ADD
    * COLUMN + UPDATE SET status + INSERT SELECT, re-expressed as a pure
    * projection + unionByName — Spark has no in-place UPDATE; SURVEY §7.4 H2). */
  def uolV2(spark: SparkSession, dir: String): DataFrame =
    uol(spark, dir).withColumn("status", lit("shipped"))
      .unionByName(uolTemp(spark, dir))

  private def actionId(c: Column): Column =
    when(c === "click", 1).when(c === "view", 2).when(c === "purchase", 3)
      .when(c === "signup", 4).otherwise(5).cast("long")

  private def activityAll(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id").cast("string").as("uniq_id"),
      date_trunc("second", col("ts")).as("date_time"),
      actionId(col("event_type")).as("action_id"),
      col("user_id").cast("long").as("customer_id"),
      floor(col("value")).cast("long").as("quantity"))

  /** `staging.user_activity_log`. */
  def ual(spark: SparkSession, dir: String): DataFrame =
    splitLe(activityAll(spark, dir), eventsCutoff(spark, dir), "date_time")

  /** `staging.user_activity_log_temp`. */
  def ualTemp(spark: SparkSession, dir: String): DataFrame =
    splitGt(activityAll(spark, dir), eventsCutoff(spark, dir), "date_time")

  private def researchAll(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(
        date_trunc("day", col("ts")).as("date_id"),
        actionId(col("event_type")).cast("int").as("category_id"))
      .agg(
        min(col("user_id") % 25).cast("int").as("geo_id"),
        count(lit(1)).cast("int").as("sales_qty"),
        sum(floor(col("value")).cast("long")).cast(DecimalType(14, 2))
          .as("sales_amt"),
        max(col("ts")).as("max_ts"))

  /** `staging.customer_research` — daily/category sales rollup of events. */
  def research(spark: SparkSession, dir: String): DataFrame =
    splitLe(researchAll(spark, dir), eventsCutoff(spark, dir), "max_ts")
      .drop("max_ts")

  /** `staging.customer_research_temp`. */
  def researchTemp(spark: SparkSession, dir: String): DataFrame =
    splitGt(researchAll(spark, dir), eventsCutoff(spark, dir), "max_ts")
      .drop("max_ts")

  /** `staging.price_log` — headerless CSV in the reference
    * (ETL_logs_inc.py:126: names=['prod_name','price']); synthesized from
    * part. Loaded-but-unused downstream in the reference; kept for parity. */
  def priceLog(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part").select(
      col("p_name").as("prod_name"),
      round(col("p_retailprice")).cast("int").as("price"))
}
