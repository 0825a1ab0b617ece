package graft.ops

import graft.etl.Feeds
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Classic analytical aggregates over the raw TPC-H-ish tables — familiar
  * perf/correctness anchors alongside the reference-derived queries.
  * Monetary math in DECIMAL for exact, engine-independent sums; DOUBLE only
  * at output (see Oracle scaladoc). */
object Analytics {

  private val one = lit(java.math.BigDecimal.ONE).cast(DecimalType(14, 2))
  private def discPrice = (col("l_extendedprice").cast(DecimalType(14, 2)) *
    (one - col("l_discount").cast(DecimalType(14, 2)))).cast(DecimalType(24, 4))

  /** Pricing summary (TPC-H Q1 shape): wide partial-aggregatable groupBy. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Feeds.table(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(14, 2))).cast("double")
          .as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** Shipping-priority shape (TPC-H Q3): selective join + date predicates,
    * aggregated revenue per order. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1996-01-01").cast("timestamp")
    val o = Feeds.table(spark, dir, "orders").where(col("o_orderdate") < cutoff)
    val li = Feeds.table(spark, dir, "lineitem").where(col("l_shipdate") > cutoff)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(discPrice).cast("double").as("revenue"))
  }

  /** Top-k customers by revenue through the [[topKHead]] (TakeOrdered, no
    * global sort; the rank window runs over k rows). */
  def topCustomers(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val rev = Feeds.table(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(DecimalType(14, 2))).as("revenue"))
    val top = topKHead(rev, k, "rnk")(col("revenue").desc, col("o_custkey"))
    val c = Feeds.table(spark, dir, "customer")
    top.join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey").as("custkey"), col("c_name"),
              col("revenue").cast("double").as("revenue"), col("rnk"))
  }

  /** Trailing-7-day rolling revenue per item over the order feed — the
    * moving-average mart shape. Aggregate to DAILY grain first, then run
    * the RANGE frame over daily rows: the window state is ≤7 rows per
    * item-day instead of every raw sale, and the window reuses the daily
    * groupBy's (item) partitioning — one shuffle end to end. The frame
    * bounds are day-integers (datediff from epoch), identical to the
    * oracle's `RANGE BETWEEN INTERVAL 6 DAY PRECEDING` over timestamps.
    * Revenue stays exact DECIMAL through both sums; DOUBLE only at
    * output. */
  def rollingSales7dOf(uol: DataFrame): DataFrame = {
    // Pre-partition by item_id ALONE: HashPartitioning(item) satisfies the
    // daily groupBy's (item, date) clustering AND the window's (item)
    // requirement, so the whole query runs on ONE exchange (the default
    // plan shuffles twice: full-key hash for the agg, item for the window).
    val daily = uol.repartition(col("item_id"))
      .groupBy(col("item_id"), col("date_time").as("sale_date"))
      .agg(sum(col("payment_amount")).as("day_revenue"),
           sum(col("quantity")).as("day_qty"))
    val w7 = Window.partitionBy("item_id").orderBy("day_int")
      .rangeBetween(-6, 0)
    daily
      .withColumn("day_int",
        datediff(col("sale_date"), to_date(lit("1970-01-01"))))
      .select(col("item_id"), col("sale_date"), col("day_revenue"),
              sum(col("day_revenue")).over(w7).as("rev_7d"),
              sum(col("day_qty")).over(w7).as("qty_7d"),
              count(lit(1)).over(w7).cast("long").as("n_days_7d"))
  }

  /** Top-k items per city by revenue — per-group top-k over an aggregate.
    * The rank-filter shape (`row_number ≤ k` directly above the window)
    * lets Spark plan a WindowGroupLimit: each partition keeps only k rows
    * per city BEFORE the window shuffle, so the exchange carries k·|cities|
    * rows, not the full (city, item) matrix. Ties pin on item_id; DECIMAL
    * revenue compares exactly in both engines. */
  def topItemsPerCityOf(uol: DataFrame, k: Int = 3): DataFrame = {
    val rev = uol.groupBy("city_id", "item_id")
      .agg(sum(col("payment_amount")).as("revenue"),
           sum(col("quantity")).as("qty"))
    val w = Window.partitionBy("city_id")
      .orderBy(col("revenue").desc, col("item_id"))
    rev.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** Month × status pivot — `groupBy(month).pivot(status, explicit values)`
    * (explicit value list: no extra distinct pass over the data). Sums
    * only, so an absent (month, status) combo is NULL in both engines. */
  def salesStatusPivotOf(uolV2: DataFrame): DataFrame =
    uolV2
      .select(date_trunc("month", col("date_time")).as("month"),
              col("status"), col("payment_amount"), col("quantity"))
      .groupBy("month")
      .pivot("status", Seq("shipped", "refunded"))
      .agg(sum(col("payment_amount")).as("amount"),
           sum(col("quantity")).as("qty"))

  /** Per-customer lifetime running revenue (the LTV curve): daily grain
    * first, then an unbounded-preceding running sum + day sequence — both
    * windows and the aggregation share the customer partitioning (same
    * single-exchange alignment as [[rollingSales7dOf]]). */
  def customerCumRevOf(uol: DataFrame): DataFrame = {
    val byCust = Window.partitionBy("customer_id").orderBy("day")
    val daily = uol.repartition(col("customer_id"))
      .groupBy(col("customer_id"), col("date_time").as("day"))
      .agg(sum(col("payment_amount")).as("day_rev"))
    daily.select(col("customer_id"), col("day"), col("day_rev"),
      sum(col("day_rev")).over(
        byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("cum_rev"),
      row_number().over(byCust).cast("long").as("day_seq"))
  }

  /** (year, month) ROLLUP with grouping flags, built as HIERARCHICAL
    * re-aggregation: one pass collapses the feed to month grain, then the
    * year subtotals and the grand total fold from that (tiny) aggregate.
    * Semantically identical to `GROUP BY ROLLUP` — the DuckDB oracle runs
    * the genuine ROLLUP as the cross-check — but the better scale shape:
    * Catalyst's rollup plans an Expand that replicates EVERY input row
    * once per grouping set (3× a 100 TB feed into the partial agg), while
    * here the base data is read once and subtotals re-aggregate
    * already-aggregated rows. (Also sidesteps a Spark analyzer
    * false-positive: Expand over a plan that scans `orders` twice — the
    * feed join + the increment cutoff — trips the ambiguous-self-join
    * check on any rollup/cube downstream of the order feed.) */
  def salesRollupOf(uol: DataFrame,
                    share: DataFrame => DataFrame = identity): DataFrame = {
    // `share` is the caller's persist registry (Pipeline.registerCached):
    // the month-grain base is scanned by every subtotal level, so persisting
    // it matters, but an unregistered persist here leaked across bench
    // invocations (nothing ever unpersisted it). Direct callers that pass
    // no registry just recompute the (tiny) base per level.
    val monthly = share(uol
      .select(year(col("date_time")).as("year_num"),
              month(col("date_time")).as("month_num"),
              col("payment_amount"), col("quantity"))
      .groupBy("year_num", "month_num")
      .agg(sum(col("payment_amount")).as("revenue"),
           sum(col("quantity")).as("qty"),
           count(lit(1)).as("n_rows")))
    def lvl(df: DataFrame, gYear: Int, gMonth: Int) =
      df.select(col("year_num"), col("month_num"),
                col("revenue"), col("qty"), col("n_rows"),
                lit(gYear.toLong).as("g_year"),
                lit(gMonth.toLong).as("g_month"))
    val byYear = monthly.groupBy("year_num")
      .agg(sum(col("revenue")).as("revenue"), sum(col("qty")).as("qty"),
           sum(col("n_rows")).as("n_rows"))
      .withColumn("month_num", lit(null).cast("int"))
    val total = monthly
      .agg(sum(col("revenue")).as("revenue"), sum(col("qty")).as("qty"),
           sum(col("n_rows")).as("n_rows"))
      .withColumn("year_num", lit(null).cast("int"))
      .withColumn("month_num", lit(null).cast("int"))
    lvl(monthly, 0, 0).unionByName(lvl(byYear, 0, 1))
      .unionByName(lvl(total, 1, 1))
  }

  /** (city, status) CUBE with grouping flags — all four grouping sets, by
    * hierarchical re-aggregation from the base (city, status) grain (same
    * rationale and Expand-avoidance as [[salesRollupOf]]; the oracle runs
    * the genuine `GROUP BY CUBE`). Base grain is |cities|×|statuses| rows,
    * so every subtotal level folds from a dimension-sized frame no matter
    * how large the feed. */
  def salesCubeOf(uolV2: DataFrame,
                  share: DataFrame => DataFrame = identity): DataFrame = {
    // same registry discipline as [[salesRollupOf]]
    val base = share(uolV2
      .select(col("city_id"), col("status"), col("payment_amount"),
              col("quantity"))
      .groupBy("city_id", "status")
      .agg(sum(col("payment_amount")).as("revenue"),
           sum(col("quantity")).as("qty"),
           count(lit(1)).as("n_rows")))
    def lvl(df: DataFrame, gCity: Int, gStatus: Int) =
      df.select(col("city_id"), col("status"), col("revenue"), col("qty"),
                col("n_rows"), lit(gCity.toLong).as("g_city"),
                lit(gStatus.toLong).as("g_status"))
    def fold(df: DataFrame, keys: Seq[String]) = {
      val grouped =
        if (keys.isEmpty) df.agg(sum(col("revenue")).as("revenue"),
          sum(col("qty")).as("qty"), sum(col("n_rows")).as("n_rows"))
        else df.groupBy(keys.map(col): _*)
          .agg(sum(col("revenue")).as("revenue"), sum(col("qty")).as("qty"),
               sum(col("n_rows")).as("n_rows"))
      Seq("city_id" -> "int", "status" -> "string")
        .filterNot { case (c, _) => keys.contains(c) }
        .foldLeft(grouped) { case (acc, (c, t)) =>
          acc.withColumn(c, lit(null).cast(t)) }
    }
    lvl(base, 0, 0)
      .unionByName(lvl(fold(base, Seq("city_id")), 0, 1))
      .unionByName(lvl(fold(base, Seq("status")), 1, 0))
      .unionByName(lvl(fold(base, Nil), 1, 1))
  }

  /** Customer revenue deciles — exact SQL `ntile(k)` semantics WITHOUT the
    * single-partition global window: a two-phase dense rank
    * ([[graft.Ids.dense]]: range-repartition on the sort key + zipWithIndex)
    * gives each customer its global position, and the standard ntile bucket
    * arithmetic (first n%k buckets get one extra row) folds position and
    * total into the bucket id. Order pins on (revenue DESC, customer_id);
    * revenue stays exact DECIMAL so the negation sort key is exact too. */
  def customerDecilesOf(uol: DataFrame, k: Int = 10): DataFrame = {
    val rev = uol.groupBy("customer_id")
      .agg(sum(col("payment_amount")).as("revenue"),
           count(lit(1)).as("n_orders"))
      // revenue DESC ≡ (-revenue) ASC — Ids.dense ranges ascending
      .withColumn("neg_rev", negate(col("revenue")))
    val ranked = graft.Ids.dense(rev, Seq("neg_rev", "customer_id"), "rn")
    // n folds in as a broadcast scalar (max of the dense 1..n rank) instead
    // of a driver-side count(): building this frame no longer runs an extra
    // action (Ids.dense's zipWithIndex offset job is still eager — inherent
    // to the two-phase rank).
    val withN = ranked.crossJoin(
      broadcast(ranked.agg(max(col("rn")).as("n_total"))))
    // SQL-standard ntile: first n%k buckets hold ceil(n/k) rows, the rest
    // floor(n/k). All-integer `div` arithmetic — bit-exact vs the oracle.
    // (q = n div k, r = n % k, cut = r·(q+1); q=0 means n<k: bucket = rn.)
    val bucket = expr(
      s"""CASE WHEN n_total div $k = 0 THEN rn
               WHEN rn <= (n_total % $k) * (n_total div $k + 1)
                 THEN (rn + n_total div $k) div (n_total div $k + 1)
               ELSE n_total % $k
                    + (rn - (n_total % $k) * (n_total div $k + 1)
                       + n_total div $k - 1) div (n_total div $k)
          END""")
    withN.select(col("customer_id"), col("revenue").cast("double")
                   .as("revenue"), col("n_orders"),
                 bucket.cast("long").as("decile"))
  }

  /** Rolling z-score anomaly detection over daily order revenue: each day's
    * revenue is scored against the trailing-`windowDays` mean/stddev and
    * flagged when |z| > `zThresh`.
    *
    * Cross-engine float determinism (check.py compares strings exactly):
    * the z computation runs on exact WHOLE-DOLLAR integers (floor of the
    * exact DECIMAL daily revenue — floor, not cast, because DuckDB's
    * decimal→int cast rounds while Spark's truncates) through the rolling
    * window sums — BIGINT sums are exact regardless of accumulation order.
    * Cents were the first cut and overflowed int64 in the 28-day sumsq at
    * sf0.1 (DuckDB errored loud, Spark wrapped SILENTLY — the fixture spec
    * now pins the dollar semantics); dollars keep sumsq < 2^63 up to a
    * sustained ~5.7e8 $/day window — past that this moves to DECIMAL
    * sums with a documented tolerance compare. Doubles appear only in the
    * final mean/variance/z expressions, built from those exact integers
    * with the SAME operation tree as the oracle — int64→double conversion
    * and each IEEE op are correctly rounded in both engines, so results
    * are bit-identical. The reported `rev` column stays exact cents
    * (DECIMAL → DOUBLE).
    *
    * Scale shape: the daily rollup collapses the fact table to a
    * dimension-sized frame (one row per day — thousands of rows at any SF),
    * so the global RANGE window after it is bounded-domain by construction,
    * same stance as the rolling-7d mart. The range frame is over an integer
    * day number, immune to calendar gaps. Warm-up days (< `minDays` of
    * trailing history) are not scored. */
  def revenueAnomalyOf(orders: DataFrame, windowDays: Int = 28,
                       zThresh: Double = 2.5, minDays: Int = 8): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(14, 2))).as("rev"),
           count(lit(1)).as("n_orders"))
      .select(col("day"), col("rev"), col("n_orders"),
        floor(col("rev")).cast("long").as("rev_i"),
        datediff(col("day"), lit("1992-01-01").cast("date")).cast("long")
          .as("day_num"))
    val w = Window.orderBy("day_num").rangeBetween(-(windowDays - 1), 0)
    val scored = daily
      .withColumn("w_sum", sum("rev_i").over(w))
      .withColumn("w_sumsq", sum(col("rev_i") * col("rev_i")).over(w))
      .withColumn("w_n", count(lit(1)).over(w))
      .where(col("w_n") >= minDays)
      // identical parenthesization on the oracle side — see scaladoc
      .withColumn("mu", col("w_sum").cast("double") / col("w_n").cast("double"))
      .withColumn("variance",
        greatest(
          (col("w_sumsq").cast("double") -
            col("w_sum").cast("double") * col("w_sum").cast("double") /
              col("w_n").cast("double")) /
            (col("w_n") - lit(1)).cast("double"),
          lit(0.0)))
      .withColumn("sigma", sqrt(col("variance")))
      .withColumn("z",
        when(col("sigma") > 0,
          (col("rev_i").cast("double") - col("mu")) / col("sigma")))
    scored.select(col("day").cast("timestamp").as("day"),
      col("rev").cast("double").as("rev"), col("n_orders"), col("z"),
      (col("z").isNotNull && abs(col("z")) > zThresh).as("is_anomaly"))
  }

  def revenueAnomaly(spark: SparkSession, dir: String): DataFrame =
    revenueAnomalyOf(Feeds.table(spark, dir, "orders"))

  /** Inter-order gap histogram: per-customer consecutive-order gaps in
    * days, bucketed into reorder-latency bands — the churn-analysis rollup
    * behind "days since last order" alerting.
    *
    * Scale shape: one shuffle on o_custkey for the lag window (per-customer
    * partitions, orders-per-customer bounded), then a partial-agg groupBy
    * on the 4-value bucket key. Mean gap = exact integer day sums, one
    * double division. Order within customer pins on (date, orderkey) —
    * total, mirrored in the oracle. */
  def orderGapsOf(orders: DataFrame): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(byCust))
      .where(col("prev_date").isNotNull)
      .select(datediff(col("o_orderdate"), col("prev_date")).cast("long")
        .as("gap_days"))
      .select(col("gap_days"),
        when(col("gap_days") <= 7, "01_week")
          .when(col("gap_days") <= 30, "02_month")
          .when(col("gap_days") <= 90, "03_quarter")
          .otherwise("04_long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_gaps"),
           sum("gap_days").as("sum_days"))
      .select(col("bucket"), col("n_gaps"), col("sum_days"),
        (col("sum_days").cast("double") / col("n_gaps").cast("double"))
          .as("mean_gap"))
  }

  def orderGaps(spark: SparkSession, dir: String): DataFrame =
    orderGapsOf(Feeds.table(spark, dir, "orders"))

  /** Semi-structured ingestion: typed extraction from the JSON event
    * property bag + per-type rollup — the "parse the payload column"
    * operator every event pipeline starts with. `get_json_object` is a
    * codegen'd Catalyst expression (no UDF); a malformed or missing key
    * yields NULL, surfaced via the n_events/n_parsed pair rather than a
    * crash — at 100 TB some payloads ARE garbage and the parse-failure
    * rate is a monitored signal, not an exception.
    *
    * Scale shape: map-side extraction fused into the scan stage, then one
    * partial-agg groupBy on the low-cardinality event_type. Exact integer
    * sums (the payload's `k` is integral). */
  def propsJsonStatsOf(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           count(col("k")).as("n_parsed"),
           sum("k").as("sum_k"),
           min("k").as("min_k"),
           max("k").as("max_k"))

  def propsJsonStats(spark: SparkSession, dir: String): DataFrame =
    propsJsonStatsOf(Feeds.table(spark, dir, "events"))

  /** Weekly cohort-retention matrix over the order feed: customers are
    * grouped by first-purchase week (the cohort), then counted in every
    * later week they purchase again — the triangular retention readout
    * behind "week-N retention" dashboards.
    *
    * Scale shape (r18, guide §2.4): ONE linear pipeline over a single
    * fact scan — collapse to DISTINCT (customer, week) with partial
    * aggregation (the ONLY fact-sized exchange, and map-side combining
    * collapses it to the dimension-bounded customer×week grain BEFORE
    * the network — the 64× probe showed that hoisting a
    * repartition(customer_id) above the distinct, Q21-style, ships the
    * RAW fact rows instead and turns a 1.4 ratio into a linear one;
    * here, unlike the TPC-H pair grains, the collapse is huge), derive
    * each customer's cohort as a min-window (one further
    * dimension-sized exchange; the old plan evaluated the distinct
    * subtree TWICE — once for the cohort aggregate, once for the join
    * back — plus a customer-keyed join exchange), then roll up to the
    * (cohort_week, weeks_since) matrix. Cohort sizes fall out of the
    * matrix itself: every customer contributes exactly one weeks_since=0
    * row (week = cohort_week only at the min week), so cohort_size is
    * the weeks_since=0 count, attached by a week-cardinality window
    * instead of a second aggregate + broadcast join. Counts are exact
    * integers; the retention rate is ONE double division mirrored in
    * the oracle. */
  def cohortRetentionOf(uol: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val custWeeks = uol
      .select(col("customer_id"),
        date_trunc("week", col("date_time")).as("week"))
      .distinct()
    custWeeks
      .withColumn("cohort_week",
        min("week").over(Window.partitionBy("customer_id")))
      .groupBy(col("cohort_week"),
        expr("datediff(week, cohort_week) div 7").cast("long")
          .as("weeks_since"))
      .agg(count(lit(1)).as("n_active"))
      .withColumn("cohort_size",
        max(when(col("weeks_since") === 0L, col("n_active")))
          .over(Window.partitionBy("cohort_week")))
      .select(col("cohort_week"), col("weeks_since"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
  }

  /** Weekly revenue concentration (Herfindahl–Hirschman index) across
    * items: HHI = Σᵢ sᵢ² with sᵢ = item i's share of the week's revenue.
    * Computed as Σrevᵢ² / (Σrevᵢ)² so both sums are EXACT integers and the
    * only floating-point work is one division of bit-identical operands —
    * a share-then-sum formulation would be addition-order-dependent.
    * Integer headroom follows the revenue-anomaly precedent: per-(week,
    * item) revenue floored to whole dollars keeps Σrev² < 2⁶³ up to ~10⁵
    * items of ~10⁷ $/week each; past that this moves to DECIMAL sums.
    *
    * Scale shape: one partial-agg shuffle to (week, item) grain — the only
    * fact-sized exchange — then a week-grain rollup over the
    * dimension-sized result. */
  def revenueHhiOf(uol: DataFrame): DataFrame = {
    val itemWeek = uol
      .groupBy(date_trunc("week", col("date_time")).as("week"),
               col("item_id"))
      .agg(floor(sum(col("payment_amount"))).cast("long").as("rev_i"))
    itemWeek.groupBy("week")
      .agg(count(lit(1)).as("n_items"),
           sum("rev_i").as("total_rev"),
           sum(col("rev_i") * col("rev_i")).as("sumsq"))
      .select(col("week"), col("n_items"), col("total_rev"),
        (col("sumsq").cast("double") /
          (col("total_rev").cast("double") * col("total_rev").cast("double")))
          .as("hhi"))
  }

  /** Point-in-time (time-travel) lookup against the SCD2 customer-city
    * history: each sale is attributed to the city the customer was in
    * `lagDays` BEFORE the sale — the as-of join every SCD2 dimension
    * exists to serve. Sales predating the customer's first recorded city
    * fall in the NULL-city bucket (kept visible via left join).
    *
    * Scale shape: equi-join on customer_id (sort-merge co-partition) with
    * the validity-range predicate as a residual filter; SCD2 intervals are
    * disjoint per customer so the join multiplicity is ≤1 — no fanout. The
    * per-customer history is dimension-sized; the output rollup is one
    * partial-agg groupBy on city. */
  def scdPointInTimeOf(uolV2: DataFrame, scd: DataFrame,
                       lagDays: Int = 30): DataFrame = {
    val sales = uolV2
      .select(col("customer_id"), col("payment_amount"),
        (col("date_time") - expr(s"INTERVAL $lagDays DAY")).as("pit"))
    val hist = scd.select(col("customer_id").as("h_customer_id"),
      col("city_id").as("asof_city_id"), col("valid_from"), col("valid_to"))
    sales
      .join(hist,
        col("customer_id") === col("h_customer_id") &&
          col("pit") >= col("valid_from") &&
          (col("valid_to").isNull || col("pit") <= col("valid_to")),
        "left")
      .groupBy("asof_city_id")
      .agg(count(lit(1)).as("n_sales"),
           sum(col("payment_amount")).cast("double").as("revenue"))
  }

  /** Month-over-month revenue growth — monthly revenue with the previous
    * month's and a ppm-exact signed growth rate. Growth is computed on
    * floor-whole-currency integers (the revenue_hhi rule) with an
    * explicit sign split, because integer division rounds toward zero in
    * Spark but toward −∞ in DuckDB — the CASE makes both engines truncate
    * the magnitude. NULLIF guards a zero-revenue month.
    *
    * Scale shape: one partial-agg groupBy to month grain, then a lag
    * window over the ~tens-of-rows month dimension (bounded, same class
    * as the calendar weeks window). */
  def salesMomOf(uol: DataFrame): DataFrame = {
    val monthly = uol
      .groupBy(date_trunc("month", col("date_time")).as("month"))
      .agg(sum(col("payment_amount")).as("rev"), count(lit(1)).as("n_sales"))
      .withColumn("rev_i", floor(col("rev")).cast("long"))
    val w = Window.orderBy("month") // bounded: one row per month
    monthly
      .withColumn("prev_rev_i", lag(col("rev_i"), 1).over(w))
      .withColumn("growth_ppm", expr(
        """CAST(CASE
             WHEN prev_rev_i IS NULL THEN NULL
             WHEN rev_i >= prev_rev_i
             THEN ((rev_i - prev_rev_i) * 1000000) DIV NULLIF(prev_rev_i, 0)
             ELSE -(((prev_rev_i - rev_i) * 1000000) DIV NULLIF(prev_rev_i, 0))
           END AS BIGINT)"""))
  }

  /** Local-supplier volume (TPC-H Q5 shape): revenue per nation of an
    * order-year window where the customer and the supplier share the
    * nation — the classic snowflake join-order anchor.
    *
    * Scale shape: the fact-side chain is lineitem⨝orders⨝customer on
    * their natural keys (shuffle joins on the big sides; the orders date
    * filter prunes FIRST and pushes to the scan), supplier folds in on
    * (l_suppkey) with the c_nationkey = s_nationkey equi-constraint in
    * the SAME join condition (not a post-filter — the optimizer can use
    * it), and the nation⨝region dimension — 25 rows — broadcasts. Revenue
    * stays exact DECIMAL(24,4) until the output cast. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val o = Feeds.table(spark, dir, "orders")
      .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    val c = Feeds.table(spark, dir, "customer")
      .select("c_custkey", "c_nationkey")
    val s = Feeds.table(spark, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
    val dim = Feeds.table(spark, dir, "nation")
      .join(Feeds.table(spark, dir, "region")
              .where(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    Feeds.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
               col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(dim), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(discPrice).cast("double").as("revenue"))
  }

  /** Benford first-digit profile of order totals — the classic
    * fabricated-data / DQ smoke test: natural multi-magnitude amounts
    * follow log10(1+1/d); a flat or spiked digit histogram flags synthetic
    * or truncated feeds. Shares are basis-point integers (n·10⁴ div total
    * — non-negative, so Spark DIV ≡ DuckDB //); the expected share is the
    * same literal log10 expression on both engines (bit-identical).
    *
    * Scale shape: map-side digit extraction fused into the scan, one
    * partial-agg groupBy on a 9-value key, 1-row broadcast total. */
  def benfordTotalpriceOf(orders: DataFrame): DataFrame = {
    val digits = orders
      .select(substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .where(col("digit") >= 1)
      .groupBy("digit")
      .agg(count(lit(1)).as("n_orders"))
    val tot = digits.agg(sum("n_orders").as("total"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_orders"),
        expr("(n_orders * 10000) DIV total").cast("long").as("share_bp"),
        expr("CAST(floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 10000) AS BIGINT)")
          .as("benford_bp"))
  }

  def benfordTotalprice(spark: SparkSession, dir: String): DataFrame =
    benfordTotalpriceOf(Feeds.table(spark, dir, "orders"))

  /** Robust outlier fences per order priority: DISCRETE quartiles (the
    * element at rank ⌈n/4⌉ / ⌈3n/4⌉ under a total (price, orderkey)
    * order — exact on both engines, no interpolation) and the Tukey
    * 1.5·IQR fence counts. Discrete-rank selection is the
    * scale-portable exactness trick: percentile interpolation differs
    * across engines, an order-statistic pick cannot.
    *
    * Scale shape: one shuffle on the 5-value priority key for the
    * row_number window (per-group partitions), quartiles collapse to a
    * 5-row frame that broadcasts back onto the same already-partitioned
    * scan for the fence counts. Rank positions are integer arithmetic
    * ((n+3) div 4 = ⌈n/4⌉); fences are doubles with the identical
    * expression tree in the oracle. */
  def priceOutliersIqrOf(orders: DataFrame): DataFrame = {
    val byPrio = Window.partitionBy("o_orderpriority")
      .orderBy("o_totalprice", "o_orderkey")
    val ranked = orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(byPrio))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("o_orderpriority")))
    val quart = ranked
      .groupBy("o_orderpriority")
      .agg(max("n").cast("long").as("n_orders"),
        max(when(col("rn") === expr("(n + 3) DIV 4"), col("o_totalprice")))
          .as("q1"),
        max(when(col("rn") === expr("(3 * n + 3) DIV 4"), col("o_totalprice")))
          .as("q3"))
      .withColumn("lo_fence", col("q1") - (col("q3") - col("q1")) * lit(1.5))
      .withColumn("hi_fence", col("q3") + (col("q3") - col("q1")) * lit(1.5))
    orders.select(col("o_orderpriority"), col("o_totalprice"))
      .join(broadcast(quart), Seq("o_orderpriority"))
      .groupBy("o_orderpriority")
      .agg(max("n_orders").as("n_orders"), max("q1").as("q1"),
        max("q3").as("q3"),
        sum(when(col("o_totalprice") < col("lo_fence"), 1L).otherwise(0L))
          .as("n_low"),
        sum(when(col("o_totalprice") > col("hi_fence"), 1L).otherwise(0L))
          .as("n_high"))
  }

  def priceOutliersIqr(spark: SparkSession, dir: String): DataFrame =
    priceOutliersIqrOf(Feeds.table(spark, dir, "orders"))

  /** Late-order rate per priority (TPC-H Q4 shape): orders of one quarter
    * that have AT LEAST ONE lineitem shipped > 90 days after the order
    * date — the EXISTS / LEFT-SEMI anchor. The semi join deduplicates by
    * construction (an order with five late lines counts once) — no
    * DISTINCT, no post-join dedup.
    *
    * Scale shape: the quarter predicate pushes to the orders scan
    * BEFORE the join (the probe window is a small fraction of history);
    * the semi join shuffles on the natural order key with the date
    * comparison as a residual in the same join — lineitem is never
    * materialized past its matching keys. */
  def lateOrdersOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lo = lit("1996-07-01").cast("timestamp")
    val hi = lit("1996-10-01").cast("timestamp")
    orders
      .where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
      .join(lineitem.select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  def lateOrders(spark: SparkSession, dir: String): DataFrame =
    lateOrdersOf(Feeds.table(spark, dir, "orders"),
                 Feeds.table(spark, dir, "lineitem"))

  /** Customer order-count distribution (TPC-H Q13 shape): how many
    * customers placed exactly k orders, INCLUDING the zero-order
    * customers — the LEFT OUTER + count(col) NULL-semantics anchor
    * (count(o_orderkey) skips the NULLs an unmatched customer row
    * carries, so zero-order customers land in the k=0 bucket).
    *
    * Scale shape: one shuffle join on the customer key, then two
    * partial-agg groupBys (customer grain, then the small k-grain). */
  def custOrderDistOf(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select("c_custkey")
      .join(orders.select(col("o_custkey"), col("o_orderkey")),
            col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("n_custs"))

  def custOrderDist(spark: SparkSession, dir: String): DataFrame =
    custOrderDistOf(Feeds.table(spark, dir, "customer"),
                    Feeds.table(spark, dir, "orders"))

  /** SQL-standard ntile over a dense 1..n rank as all-integer `div`
    * arithmetic (bit-exact cross-engine; the [[customerDecilesOf]]
    * formula): first n%k buckets hold ⌈n/k⌉ rows, the rest ⌊n/k⌋. */
  private def ntileExpr(rn: String, n: String, k: Int): String =
    s"""CASE WHEN $n div $k = 0 THEN $rn
             WHEN $rn <= ($n % $k) * ($n div $k + 1)
               THEN ($rn + $n div $k) div ($n div $k + 1)
             ELSE $n % $k
                  + ($rn - ($n % $k) * ($n div $k + 1)
                     + $n div $k - 1) div ($n div $k)
        END"""

  /** RFM segmentation mart: each ordering customer scored into quintiles
    * of Recency (days since last order — quintile 1 = most recent),
    * Frequency (order count — 1 = most frequent) and Monetary
    * (whole-currency lifetime spend — 1 = highest), rolled up to
    * (r_q, f_q, m_q) segment counts — the classic CRM cube.
    *
    * Scale shape: the base frame is ONE partial-agg groupBy to customer
    * grain; each quintile rank is the two-phase [[graft.Ids.dense]]
    * assignment (range-partitioned sort + per-partition offsets — never
    * an unpartitioned row_number window over the customer dimension);
    * the ntile cut is all-integer arithmetic against a broadcast n;
    * the final rollup has ≤ k³ rows. Monetary sums in DECIMAL (exact —
    * a double sum's floor could flip on a .99̄ boundary). */
  def customerRfmOf(orders: DataFrame, k: Int = 5): DataFrame = {
    val base = graft.Memo.pin(orders
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
           count(lit(1)).as("n_orders"),
           floor(sum(col("o_totalprice").cast(DecimalType(14, 2))))
             .cast("long").as("monetary"))
      .crossJoin(broadcast(
        orders.agg(max(to_date(col("o_orderdate"))).as("max_day"))))
      .select(col("o_custkey"),
        datediff(col("max_day"), col("last_day")).cast("long")
          .as("recency_days"),
        col("n_orders"), col("monetary")))
    def quintile(metric: Column, name: String): DataFrame = {
      val ranked = graft.Ids.dense(
        base.withColumn("mneg", metric), Seq("mneg", "o_custkey"), "rn")
      ranked
        .crossJoin(broadcast(ranked.agg(max(col("rn")).as("n_total"))))
        .select(col("o_custkey"),
          expr(ntileExpr("rn", "n_total", k)).cast("long").as(name))
    }
    val r = quintile(col("recency_days"), "r_q")
    val f = quintile(negate(col("n_orders")), "f_q")
    val m = quintile(negate(col("monetary")), "m_q")
    base.select("o_custkey", "monetary")
      .join(r, "o_custkey").join(f, "o_custkey").join(m, "o_custkey")
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_custs"),
           sum("monetary").as("sum_monetary"))
  }

  def customerRfm(spark: SparkSession, dir: String): DataFrame =
    customerRfmOf(Feeds.table(spark, dir, "orders"))

  /** Volume shipping (TPC-H Q7 shape): bilateral trade matrix — revenue
    * between every (supplier nation, customer nation) pair per ship year.
    * The classic two-dimension-table double-join: the same 25-row nation
    * dim joins the fact chain TWICE under different roles.
    *
    * Scale shape: the ship-year filter prunes at the lineitem scan, the
    * fact chain shuffles on its natural keys (orderkey, then custkey /
    * suppkey), and BOTH nation lookups broadcast (one copy each, distinct
    * aliases — no shuffle added by the dimension legs). The output grain
    * is ≤ 25·24·years rows, collapsed by partial aggregation map-side.
    * Revenue stays exact DECIMAL(24,4) until the output cast. */
  def volumeShippingOf(lineitem: DataFrame, orders: DataFrame,
                       customer: DataFrame, supplier: DataFrame,
                       nation: DataFrame): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1998-01-01").cast("timestamp")
    val suppNation = nation.select(col("n_nationkey").as("sn_key"),
                                   col("n_name").as("supp_nation"))
    val custNation = nation.select(col("n_nationkey").as("cn_key"),
                                   col("n_name").as("cust_nation"))
    lineitem
      .where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_orderkey"), col("l_suppkey"),
              year(col("l_shipdate")).cast("long").as("ship_year"),
              discPrice.as("rev"))
      .join(orders.select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
      .join(supplier.select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .join(broadcast(custNation), col("c_nationkey") === col("cn_key"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "ship_year")
      .agg(sum(col("rev")).cast("double").as("revenue"))
  }

  def volumeShipping(spark: SparkSession, dir: String): DataFrame =
    volumeShippingOf(Feeds.table(spark, dir, "lineitem"),
      Feeds.table(spark, dir, "orders"),
      Feeds.table(spark, dir, "customer"),
      Feeds.table(spark, dir, "supplier"),
      Feeds.table(spark, dir, "nation"))

  /** National market share (TPC-H Q8 shape): per order year, the ppm
    * share of one supplier nation's revenue within a region's consumer
    * market for one part type — conditional aggregation over a 5-table
    * fact chain, ratio as exact integers.
    *
    * Exactness: revenue folds to whole-currency BIGINT (floor of the
    * exact DECIMAL sum — floor AFTER the sum, so both engines floor the
    * same exact value; the ppm is grain-insensitive at this magnitude),
    * share is `nat·10⁶ DIV total` (non-negative, so Spark DIV ≡ DuckDB
    * //). The ×10⁶ headroom holds to ~9·10¹² in whole currency; widen
    * to DECIMAL(38,0) beyond.
    *
    * Scale shape: the PROMO filter prunes part BEFORE its join (1/|types|
    * of the dimension; AQE may then broadcast it), the consumer-region
    * constraint rides the broadcast nation dim, the supplier-nation flag
    * is resolved map-side from the broadcast dim — one shuffle per
    * fact-chain key and a years-sized output. */
  def marketShareOf(lineitem: DataFrame, orders: DataFrame,
                    customer: DataFrame, supplier: DataFrame, part: DataFrame,
                    nation: DataFrame, region: DataFrame,
                    partType: String = "PROMO", rName: String = "ASIA",
                    targetNation: String = "NATION_2"): DataFrame = {
    val consumerNations = nation
      .join(region.where(col("r_name") === rName),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val suppNation = nation.select(col("n_nationkey").as("sn_key"),
                                   col("n_name").as("supp_nation"))
    lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
              discPrice.as("rev"))
      .join(part.where(col("p_type") === partType).select("p_partkey"),
            col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
                          year(col("o_orderdate")).cast("long").as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
      .join(broadcast(consumerNations), col("c_nationkey") === col("cn_key"))
      .join(supplier.select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .groupBy("o_year")
      .agg(floor(sum(col("rev"))).cast("long").as("total_rev_i"),
           floor(coalesce(sum(when(col("supp_nation") === targetNation,
                                   col("rev"))),
                          lit(java.math.BigDecimal.ZERO)))
             .cast("long").as("nation_rev_i"))
      .withColumn("share_ppm",
        expr("nation_rev_i * 1000000 DIV total_rev_i").cast("long"))
  }

  def marketShare(spark: SparkSession, dir: String): DataFrame =
    marketShareOf(Feeds.table(spark, dir, "lineitem"),
      Feeds.table(spark, dir, "orders"),
      Feeds.table(spark, dir, "customer"),
      Feeds.table(spark, dir, "supplier"),
      Feeds.table(spark, dir, "part"),
      Feeds.table(spark, dir, "nation"),
      Feeds.table(spark, dir, "region"))

  /** Returned-item reporting (TPC-H Q10 shape): the top-k customers by
    * refunded revenue inside one order quarter — the "who is returning
    * the most" ops report.
    *
    * Scale shape: the quarter filter prunes orders at the scan and the
    * returnflag filter prunes lineitem at the scan BEFORE the join; the
    * per-customer rollup is a partial-agg groupBy; the top-k is the
    * [[topKHead]] (never a global sort). Customer attributes join AFTER
    * the limit — k rows against the dimension, broadcast-side reversed by
    * AQE.
    * DECIMAL revenue makes the (revenue, custkey) order engine-exact. */
  def returnedTopOf(lineitem: DataFrame, orders: DataFrame,
                    customer: DataFrame, nation: DataFrame,
                    k: Int = 20): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-04-01").cast("timestamp")
    val rev = lineitem
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"), discPrice.as("rev"))
      .join(orders.where(col("o_orderdate") >= lo && col("o_orderdate") < hi)
              .select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum("rev").as("revenue"))
    topKHead(rev, k, "rnk")(col("revenue").desc, col("o_custkey"))
      .join(customer.select("c_custkey", "c_name", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
            col("c_nationkey") === col("n_nationkey"))
      .select(col("o_custkey").as("custkey"), col("c_name"), col("n_name"),
              col("revenue").cast("double").as("revenue"), col("rnk"))
  }

  def returnedTop(spark: SparkSession, dir: String): DataFrame =
    returnedTopOf(Feeds.table(spark, dir, "lineitem"),
      Feeds.table(spark, dir, "orders"),
      Feeds.table(spark, dir, "customer"),
      Feeds.table(spark, dir, "nation"))

  /** Promotion effect (TPC-H Q14 shape): per ship month, the ppm of
    * revenue coming from promo-type parts — conditional share over a
    * single fact⨝dimension join, all-integer ratio (the Q8
    * floor-after-sum whole-currency/ppm discipline and its headroom
    * bound).
    *
    * Scale shape: the part leg carries only (partkey, is-promo flag) —
    * the flag is resolved IN the join projection, so the join payload is
    * one boolean; months collapse by partial aggregation to a
    * months-sized output. Month ships as midnight TIMESTAMP (house
    * rule — DATE stringification differs across engines). */
  def promoShareOf(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .select(col("l_partkey"),
              date_trunc("month", col("l_shipdate")).as("month"),
              discPrice.as("rev"))
      .join(part.select(col("p_partkey"),
                        (col("p_type") === "PROMO").as("is_promo")),
            col("l_partkey") === col("p_partkey"))
      .groupBy("month")
      .agg(floor(coalesce(sum(when(col("is_promo"), col("rev"))),
                          lit(java.math.BigDecimal.ZERO)))
             .cast("long").as("promo_rev_i"),
           floor(sum(col("rev"))).cast("long").as("total_rev_i"))
      .withColumn("promo_ppm",
        expr("promo_rev_i * 1000000 DIV total_rev_i").cast("long"))

  def promoShare(spark: SparkSession, dir: String): DataFrame =
    promoShareOf(Feeds.table(spark, dir, "lineitem"),
                 Feeds.table(spark, dir, "part"))

  /** Large-volume customers (TPC-H Q18 shape): orders whose total line
    * quantity reaches a bulk threshold, with their customer — the
    * HAVING-on-a-join-key pattern.
    *
    * Scale shape: the quantity rollup is a partial-agg groupBy on
    * orderkey (map-side combine collapses each order's ≤7 lines before
    * the exchange) and the HAVING prunes to the rare bulk tail BEFORE
    * the joins — the order/customer joins then carry only qualifying
    * keys. Quantities are integer-valued in the feed (asserted by the
    * cast — a fractional feed would round, and the oracle's floor-sum
    * would flag it); the sum is BIGINT-exact. */
  def bulkOrdersOf(lineitem: DataFrame, orders: DataFrame,
                   customer: DataFrame, minQty: Long = 200L): DataFrame =
    lineitem
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .where(col("sum_qty") >= minQty)
      .join(orders.select("o_orderkey", "o_custkey", "o_orderdate",
                          "o_totalprice"),
            col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_name"),
            col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey").as("custkey"),
              col("c_name"), col("o_orderdate"),
              col("o_totalprice").cast(DecimalType(14, 2)).cast("double")
                .as("o_totalprice"),
              col("sum_qty"))

  def bulkOrders(spark: SparkSession, dir: String): DataFrame =
    bulkOrdersOf(Feeds.table(spark, dir, "lineitem"),
      Feeds.table(spark, dir, "orders"),
      Feeds.table(spark, dir, "customer"))

  /** Idle high-balance accounts (TPC-H Q22 shape): per nation, the
    * customers holding an above-average positive balance who placed NO
    * order since a cutoff — the global-scalar-threshold + anti-join
    * combination (the classic "sales opportunity" report).
    *
    * Exactness: balances fold to DECIMAL(18,6) (far below the feed's
    * value grain, so both engines round the same doubles to the same
    * decimals), and "above average" is the cross-multiplication
    * `bal·n_pos > sum_pos` — no division anywhere.
    *
    * Scale shape: the threshold is a 1-row broadcast fold; the recent
    * buyer set is a DISTINCT on custkey of the date-pruned orders scan;
    * the anti-join shuffles both sides on custkey (build side is the
    * deduped key set, not the order feed); the nation rollup broadcasts
    * the 25-row dim. */
  def idleBalanceOf(customer: DataFrame, orders: DataFrame,
                    nation: DataFrame,
                    cutoff: String = "2000-01-01"): DataFrame = {
    val bal = customer.select(col("c_custkey"), col("c_nationkey"),
      col("c_acctbal").cast(DecimalType(18, 6)).as("bal"))
    val thresh = bal.where(col("bal") > 0)
      .agg(sum("bal").as("sum_pos"), count(lit(1)).as("n_pos"))
    val recent = orders
      .where(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
      .select("o_custkey").distinct()
    bal
      .crossJoin(broadcast(thresh))
      .where(col("bal") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
            col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_custs"),
           sum("bal").cast("double").as("sum_acctbal"))
  }

  def idleBalance(spark: SparkSession, dir: String): DataFrame =
    idleBalanceOf(Feeds.table(spark, dir, "customer"),
      Feeds.table(spark, dir, "orders"),
      Feeds.table(spark, dir, "nation"))

  /** Forecast revenue change (TPC-H Q6 shape): the what-if "revenue we
    * would have kept had these discounts not been given" — a pure
    * filter-scan-aggregate with NO join, the canonical predicate-pushdown
    * / whole-stage-codegen anchor.
    *
    * Scale shape: all three predicates (ship-year window, discount band,
    * quantity cap) push to the parquet scan; the aggregate is a 1-row
    * full fold with map-side partials — the cheapest possible plan per
    * byte scanned. Discounts compare AFTER the DECIMAL(14,2) cast (both
    * engines round the same doubles to the same decimals — the feed is
    * hundredths-grain), and the discount·price product stays exact
    * DECIMAL until the output cast. */
  def forecastRevenueOf(lineitem: DataFrame): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val disc = col("l_discount").cast(DecimalType(14, 2))
    lineitem
      .where(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
             disc >= lit(java.math.BigDecimal.valueOf(0.05)) &&
             disc <= lit(java.math.BigDecimal.valueOf(0.07)) &&
             col("l_quantity") < 24)
      .select((col("l_extendedprice").cast(DecimalType(14, 2)) * disc)
                .cast(DecimalType(24, 4)).as("lost"))
      .agg(count(lit(1)).as("n_lines"),
           coalesce(sum(col("lost")), lit(java.math.BigDecimal.ZERO))
             .cast("double").as("forecast_revenue"))
  }

  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    forecastRevenueOf(Feeds.table(spark, dir, "lineitem"))

  /** Top supplier (TPC-H Q15 shape): the supplier(s) whose quarter
    * revenue equals the global maximum — the scalar-max-subquery
    * pattern, kept exact by DECIMAL revenue (a double sum's max-equality
    * could flip on accumulation order; the decimal sum cannot).
    *
    * Scale shape: one partial-agg groupBy to supplier grain on the
    * date-pruned scan; the max is a 1-row broadcast fold joined back
    * (no second scan, no window over the supplier dimension); the
    * supplier dim joins AFTER the max filter — usually a handful of
    * rows against it. */
  def topSupplierOf(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-04-01").cast("timestamp")
    val rev = lineitem
      .where(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy("l_suppkey")
      .agg(sum(discPrice).as("total_rev"))
    rev
      .crossJoin(broadcast(rev.agg(max("total_rev").as("max_rev"))))
      .where(col("total_rev") === col("max_rev"))
      .join(supplier.select("s_suppkey", "s_name"),
            col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
              col("total_rev").cast("double").as("total_rev"))
  }

  def topSupplier(spark: SparkSession, dir: String): DataFrame =
    topSupplierOf(Feeds.table(spark, dir, "lineitem"),
                  Feeds.table(spark, dir, "supplier"))

  /** Small-quantity-order revenue (TPC-H Q17 shape): for one brand's
    * parts, the revenue sitting in lines whose quantity is below 20% of
    * that part's average line quantity — the correlated-average
    * threshold, decided by integer cross-multiplication
    * (`5·qty·n_lines < sum_qty`, quantities integer-valued in the feed)
    * so no engine ever divides.
    *
    * Scale shape: the brand filter prunes part FIRST (1/|brands| of the
    * dimension, broadcast-able after the cut); the per-part average is a
    * partial-agg groupBy joined back on partkey (two passes over only
    * the brand's lines — the join carries (n_lines, sum_qty), not the
    * line set); output is a 1-row fold. */
  def smallQtyRevenueOf(lineitem: DataFrame, part: DataFrame,
                        brand: String = "Brand#7"): DataFrame = {
    val lines = lineitem
      .join(part.where(col("p_brand") === brand).select("p_partkey"),
            col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
              col("l_extendedprice").cast(DecimalType(14, 2)).as("price"))
    val avgQ = lines.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"), sum("qty").as("sum_qty"))
      .withColumnRenamed("l_partkey", "p_key")
    lines
      .join(avgQ, col("l_partkey") === col("p_key"))
      .where(col("qty") * lit(5L) * col("n_lines") < col("sum_qty"))
      .agg(count(lit(1)).as("n_small_lines"),
           coalesce(sum(col("price")), lit(java.math.BigDecimal.ZERO))
             .cast("double").as("small_qty_revenue"))
  }

  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame =
    smallQtyRevenueOf(Feeds.table(spark, dir, "lineitem"),
                      Feeds.table(spark, dir, "part"))

  /** ASYMMETRIC `GROUPING SETS ((city,status),(status),())` — the shape
    * CUBE/ROLLUP can't express (a deliberately skipped (city) level),
    * i.e. the arbitrary-set report a BI layer actually requests. Same
    * Expand-avoidance as [[salesCubeOf]]: aggregate ONCE to the finest
    * requested grain, then fold the coarser sets hierarchically from
    * that dimension-sized frame — the feed is scanned once regardless
    * of how many sets are requested, vs. Spark's native Expand which
    * replicates every input row per set. Oracle runs the genuine
    * `GROUP BY GROUPING SETS`. */
  def salesGroupingSetsOf(uolV2: DataFrame,
                          share: DataFrame => DataFrame = identity)
      : DataFrame = {
    val base = share(uolV2
      .select(col("city_id"), col("status"), col("payment_amount"),
              col("quantity"))
      .groupBy("city_id", "status")
      .agg(sum(col("payment_amount")).as("revenue"),
           sum(col("quantity")).as("qty"),
           count(lit(1)).as("n_rows")))
    def lvl(df: DataFrame, gCity: Int, gStatus: Int) =
      df.select(col("city_id"), col("status"), col("revenue"), col("qty"),
                col("n_rows"), lit(gCity.toLong).as("g_city"),
                lit(gStatus.toLong).as("g_status"))
    val byStatus = base.groupBy("status")
      .agg(sum(col("revenue")).as("revenue"), sum(col("qty")).as("qty"),
           sum(col("n_rows")).as("n_rows"))
      .withColumn("city_id", lit(null).cast("int"))
    val total = base
      .agg(sum(col("revenue")).as("revenue"), sum(col("qty")).as("qty"),
           sum(col("n_rows")).as("n_rows"))
      .withColumn("city_id", lit(null).cast("int"))
      .withColumn("status", lit(null).cast("string"))
    lvl(base, 0, 0)
      .unionByName(lvl(byStatus, 1, 0))
      .unionByName(lvl(total, 1, 1))
  }


  /** SCD2 CHANGE-RATE mart: per month of `valid_from`, how many new
    * dimension versions opened and for how many distinct customers —
    * the churn readout a warehouse publishes to catch an upstream feed
    * suddenly rewriting attributes (a spike here precedes every "why
    * did the dimension double" incident). Composes the SCD2 dimension
    * ([[graft.etl.Dims.dCustomerScd]]) — initial loads count as
    * openings, mirroring the oracle.
    *
    * Scale shape: one partial-agg groupBy on the months-sized key over
    * the already-compressed SCD frame (change points only, ≪ feed);
    * distinct-customer counts partial-aggregate per month. Month ships
    * as midnight TIMESTAMP (house rule). */
  def scdChangeRateOf(scd: DataFrame): DataFrame =
    scd
      .select(date_trunc("month", col("valid_from")).as("month"),
              col("customer_id"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_versions"),
           countDistinct("customer_id").as("n_custs"))

  /** Cohort lifetime value: cumulative revenue per signup-month cohort
    * over months-since-signup — the LTV curve behind every
    * payback-period decision, and the monthly-money twin of
    * [[cohortRetentionOf]] (which counts heads weekly). Revenue stays
    * exact DECIMAL through BOTH sums (per-cell aggregate, then the
    * cumulative window); DOUBLE only at output, so both engines cast
    * bit-identical decimals.
    *
    * Scale shape: the only fact-sized exchange is the per-customer
    * month collapse; cohort assignment is a min-aggregate on the
    * collapsed frame joined back on customer_id; the cumulative window
    * partitions by cohort over the months-since axis — a few dozen rows
    * per cohort, never per sale. */
  def cohortLtvOf(uol: DataFrame): DataFrame = {
    // Pre-partition by customer ALONE (the rolling-7d trick):
    // HashPartitioning(customer) satisfies the monthly groupBy's
    // (customer, month) clustering AND the cohort-min window's
    // (customer) requirement, so cohort assignment is a window over the
    // collapsed frame — the fact is scanned and shuffled ONCE (a
    // groupBy-cohorts + join-back branch would re-derive the whole feed
    // a second time).
    val custMonths = uol.repartition(col("customer_id"))
      .groupBy(col("customer_id"),
               date_trunc("month", col("date_time")).as("month"))
      .agg(sum(col("payment_amount")).as("rev_m"))
    val cells = custMonths
      .withColumn("cohort_month",
        min(col("month")).over(Window.partitionBy("customer_id")))
      .groupBy(col("cohort_month"),
        ((year(col("month")) - year(col("cohort_month"))) * 12 +
          (month(col("month")) - month(col("cohort_month"))))
          .cast("long").as("month_index"))
      .agg(countDistinct("customer_id").as("n_active"),
           sum(col("rev_m")).as("rev_dec"))
    val byCohort = Window.partitionBy("cohort_month").orderBy("month_index")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_dec", sum(col("rev_dec")).over(byCohort))
      .select(col("cohort_month"), col("month_index"), col("n_active"),
        col("rev_dec").cast("double").as("revenue"),
        col("cum_dec").cast("double").as("cum_revenue"))
  }

  /** Product-line profit matrix (TPC-H Q9 shape, adapted to this
    * dataset's columns: no partsupp/supplycost here, so "profit" is
    * discounted revenue): supplier nation × part type × order year.
    * The classic multi-way star join — fact scans once, every dimension
    * joins on its key, revenue in exact DECIMAL until the output cast.
    *
    * Scale shape: lineitem→orders co-shuffle on orderkey is the only
    * fact-sized exchange; part / supplier / nation are dimension-sized
    * (broadcast under AQE); the final rollup key (nation × type × year)
    * is tiny and partial-aggregates map-side. */
  def productTypeProfitOf(lineitem: DataFrame, orders: DataFrame,
                          part: DataFrame, supplier: DataFrame,
                          nation: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("p_type"),
               year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(discPrice).cast("double").as("profit"))

  def productTypeProfit(spark: SparkSession, dir: String): DataFrame =
    productTypeProfitOf(
      Feeds.table(spark, dir, "lineitem"), Feeds.table(spark, dir, "orders"),
      Feeds.table(spark, dir, "part"), Feeds.table(spark, dir, "supplier"),
      Feeds.table(spark, dir, "nation"))

  /** Day-of-week sales seasonality (ISO numbering 1=Mon…7=Sun on both
    * engines: Spark weekday()+1 ≡ DuckDB isodow — pinned because the
    * engines' default dow functions disagree on week start). Revenue
    * exact DECIMAL until the output cast; 7-row output at any scale via
    * one partial-agg groupBy. */
  def salesDowProfileOf(uol: DataFrame): DataFrame =
    uol.groupBy((expr("weekday(date_time)") + 1).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_sales"),
           sum(col("quantity")).cast("long").as("qty"),
           sum(col("payment_amount")).cast("double").as("revenue"))

  /** Monthly revenue inequality across customers — Gini in exact integer
    * ppm via the rank-weighted-sum identity (the business twin of the
    * per-source token Gini; same formula, same determinism pins:
    * whole-dollar integer revenue, ties broken by customer_id, Spark DIV
    * ≡ DuckDB // on non-negatives). A concentration spike is a whale
    * month; a drift is the customer base hollowing out.
    *
    * Scale shape: one fact-sized partial-agg collapse to (month,
    * customer) grain, then the rank window partitions BY MONTH (each
    * partition is one month's customers — the same grain the readout
    * groups on, one exchange for both). rank·rev_i overflow needs a
    * month with n·total > 2⁶³ — widen to DECIMAL(38,0) past ~10⁹
    * customers of ~10⁹ $/month. */
  def customerGiniMonthlyOf(uol: DataFrame): DataFrame = {
    val perCust = uol
      .groupBy(date_trunc("month", col("date_time")).as("month"),
               col("customer_id"))
      .agg(floor(sum(col("payment_amount"))).cast("long").as("rev_i"))
    val byMonth = Window.partitionBy("month").orderBy("rev_i", "customer_id")
    perCust
      .withColumn("rank", row_number().over(byMonth).cast("long"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_custs"),
           sum("rev_i").as("total_rev_i"),
           sum(col("rank") * col("rev_i")).as("rank_weighted_sum"))
      .select(col("month"), col("n_custs"), col("total_rev_i"),
        expr("""CAST((2 * rank_weighted_sum * 1000000)
                  DIV (n_custs * total_rev_i)
                - ((n_custs + 1) * 1000000) DIV n_custs AS BIGINT)""")
          .as("gini_ppm"))
  }

  /** Order-backlog curve: per order month, the count of orders still
    * not finalized (status ≠ 'F') with its ppm share and the cumulative
    * backlog over time — the fulfillment-health card an ops team reads
    * next to the month-over-month revenue curve. All counts exact; the
    * cumulative window runs over the months axis only.
    *
    * Scale shape: one partial-agg groupBy collapses orders to the
    * months-sized key; the running sum is a window over those few
    * dozen rows. */
  def orderBacklogOf(orders: DataFrame): DataFrame = {
    val m = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
           sum(when(col("o_orderstatus") =!= "F", 1L).otherwise(0L))
             .as("n_open"))
    m.select(col("month"), col("n_orders"), col("n_open"),
        expr("CAST(n_open * 1000000 DIV n_orders AS BIGINT)").as("open_ppm"),
        sum(col("n_open")).over(Window.orderBy("month")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("backlog"))
  }

  def orderBacklog(spark: SparkSession, dir: String): DataFrame =
    orderBacklogOf(Feeds.table(spark, dir, "orders"))

  /** Per-product-line exact moments of (quantity, whole-dollar price):
    * n, Σq, Σp, Σq², Σp², Σqp as BIGINTs — the sufficient statistics
    * for the price/quantity covariance behind any elasticity readout,
    * kept as mergeable integer sums (the same contract as the
    * length/token moments: moments ADD across shards, correlations
    * don't). Headroom: Σp² ≤ n·maxprice² — BIGINT-safe to ~10⁹ rows of
    * ~10⁵ $ lines; widen to DECIMAL(38,0) beyond.
    *
    * Scale shape: the part join is dimension-sized (broadcast under
    * AQE); one partial-agg groupBy on the ≤|p_type| key. */
  def priceQtyMomentsOf(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val q = floor(col("l_quantity")).cast("long")
    val p = floor(col("l_extendedprice")).cast("long")
    lineitem.join(part, col("l_partkey") === col("p_partkey"))
      .select(col("p_type"), q.as("q_i"), p.as("p_i"))
      .groupBy("p_type")
      .agg(count(lit(1)).as("n"),
           sum(col("q_i")).as("sx"), sum(col("p_i")).as("sy"),
           sum(col("q_i") * col("q_i")).as("sxx"),
           sum(col("p_i") * col("p_i")).as("syy"),
           sum(col("q_i") * col("p_i")).as("sxy"))
  }

  def priceQtyMoments(spark: SparkSession, dir: String): DataFrame =
    priceQtyMomentsOf(Feeds.table(spark, dir, "lineitem"),
                      Feeds.table(spark, dir, "part"))

  /** Supplier lead-time profile: per supplier, the order→ship lag
    * distribution (exact integer day sums, min/max, fast/slow bucket
    * counts) — the fulfillment-SLA readout. Sums only, no per-supplier
    * sort: lines-per-supplier grows with the corpus, so a discrete
    * median would need an unbounded window; the moments don't.
    *
    * Scale shape: lineitem⨝orders equi-join (dates only), one
    * partial-agg groupBy on suppkey, broadcast supplier⨝nation attach. */
  def supplierLeadtimeOf(lineitem: DataFrame, orders: DataFrame,
                         supplier: DataFrame, nation: DataFrame)
      : DataFrame = {
    val lag = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(orders.select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("lag_days"))
    val supp = supplier.select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
    lag.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name", "n_name")
      .agg(count(lit(1)).as("n_lines"),
           min("lag_days").as("min_days"),
           max("lag_days").as("max_days"),
           sum("lag_days").as("sum_days"),
           sum(when(col("lag_days") <= 30, 1L).otherwise(0L)).as("n_30d"),
           sum(when(col("lag_days") > 365, 1L).otherwise(0L))
             .as("n_over_1y"))
  }

  def supplierLeadtime(spark: SparkSession, dir: String): DataFrame =
    supplierLeadtimeOf(Feeds.table(spark, dir, "lineitem"),
      Feeds.table(spark, dir, "orders"), Feeds.table(spark, dir, "supplier"),
      Feeds.table(spark, dir, "nation"))

  /** Brand unit-price drift: per (brand, ship month), the exact
    * integer-cents unit price (total cents DIV total qty) and its
    * month-over-month delta — the pricing-trend monitor. The lag window
    * partitions by brand over the ~bounded month axis, never by line.
    *
    * Scale shape: one partial-agg groupBy on (brand, month) — lineitem's
    * only scan; part broadcasts; the MoM lag runs over months-per-brand
    * partitions (calendar-bounded). */
  def brandPriceDriftOf(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val m = lineitem
      .select(col("l_partkey"), col("l_shipdate"), col("l_quantity"),
              col("l_extendedprice"))
      .join(broadcast(part.select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), date_trunc("month", col("l_shipdate"))
        .as("month"))
      .agg((sum(col("l_extendedprice").cast(DecimalType(14, 2))) * lit(100))
             .cast("long").as("cents"),
           sum(col("l_quantity").cast("long")).as("qty"))
    val byBrand = Window.partitionBy("p_brand").orderBy("month")
    m.select(col("p_brand"), col("month"),
        expr("CAST(cents DIV qty AS BIGINT)").as("unit_c"))
      .withColumn("delta_c",
        (col("unit_c") - lag("unit_c", 1).over(byBrand)).cast("long"))
  }

  def brandPriceDrift(spark: SparkSession, dir: String): DataFrame =
    brandPriceDriftOf(Feeds.table(spark, dir, "lineitem"),
                      Feeds.table(spark, dir, "part"))

  /** Month-of-year revenue seasonality index: mean (year, month) revenue
    * per calendar month over the overall (year, month) mean, in exact
    * integer ppm (both means are integer DIVs of exact cent sums — no
    * float crosses an engine boundary). Index 1.2e6 ≈ "Decembers run 20%
    * hot"; the capacity-planning twin of the day-of-week profile.
    *
    * Scale shape: one partial-agg groupBy to the (year, month) grain
    * (≤ ~100 keys), then 12-key and 1-row folds — broadcast scalars. */
  def seasonalIndexOf(orders: DataFrame): DataFrame = {
    val ym = orders
      .groupBy(year(col("o_orderdate")).as("y"),
               month(col("o_orderdate")).as("m"))
      .agg((sum(col("o_totalprice").cast(DecimalType(14, 2))) * lit(100))
        .cast("long").as("cents"))
    val perM = ym.groupBy("m")
      .agg(expr("CAST(sum(cents) DIV count(1) AS BIGINT)").as("mean_c"),
           count(lit(1)).as("n_years"))
    val overall = ym
      .agg(expr("CAST(sum(cents) DIV count(1) AS BIGINT)").as("o_mean"))
    perM.crossJoin(broadcast(overall))
      .select(col("m").cast("long").as("month_num"), col("n_years"),
        col("mean_c"),
        expr("CAST(mean_c * 1000000 DIV o_mean AS BIGINT)").as("index_ppm"))
  }

  def seasonalIndex(spark: SparkSession, dir: String): DataFrame =
    seasonalIndexOf(Feeds.table(spark, dir, "orders"))

  /** Churn candidates per market segment: customers whose LAST order
    * predates the dataset horizon by ≥ 90 days, with their lifetime
    * revenue in exact cents — the retention-campaign sizing card. The
    * cutoff is a 1-row broadcast fold (no driver action).
    *
    * Scale shape: one per-customer partial agg over orders, broadcast
    * scalar filter, one dimension join, 5-key rollup. */
  def churnBySegmentOf(orders: DataFrame, customer: DataFrame,
                       days: Int = 90): DataFrame = {
    val cut = orders
      .agg(expr(s"max(o_orderdate) - INTERVAL '$days' DAY").as("cutoff"))
    val lastO = orders.groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_dt"),
           (sum(col("o_totalprice").cast(DecimalType(14, 2))) * lit(100))
             .cast("long").as("ltv_c"))
    lastO.crossJoin(broadcast(cut))
      .where(col("last_dt") < col("cutoff"))
      .join(customer.select("c_custkey", "c_mktsegment"),
            col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_churned"),
           sum("ltv_c").as("churned_ltv_c"))
  }

  def churnBySegment(spark: SparkSession, dir: String): DataFrame =
    churnBySegmentOf(Feeds.table(spark, dir, "orders"),
                     Feeds.table(spark, dir, "customer"))

  /** Consecutive order-priority transition counts per customer — the
    * first-order Markov matrix over the ORDER stream (the event-stream
    * twin is [[graft.ops.Sessions.eventTransitionsOf]]): does an urgent
    * order predict another urgent order? Ties pinned by order key.
    *
    * Scale shape: one per-customer lag window (partition = a customer's
    * order history, the bounded grain every retention query already
    * uses), one ≤25-key rollup. */
  def priorityTransitionsOf(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    orders
      .select(col("o_custkey"), col("o_orderpriority").as("pr"),
              col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev_pr", lag("pr", 1).over(w))
      .where(col("prev_pr").isNotNull)
      .groupBy("prev_pr", "pr")
      .agg(count(lit(1)).as("n"))
  }

  def priorityTransitions(spark: SparkSession, dir: String): DataFrame =
    priorityTransitionsOf(Feeds.table(spark, dir, "orders"))

  /** Exponentially-weighted weekly revenue trend: weights 2⁷..2⁰ over the
    * trailing 8 OBSERVED weeks (α = 1/2 as exact powers of two,
    * normalized by 255 = Σ2^i), all-integer — the float-free EWMA that
    * hash-matches cross-engine. Missing leading weeks weigh in as 0 (the
    * honest cold-start: the trend ramps with the window).
    *
    * Row-based lag semantics, NOT calendar-based (r14 advice): a
    * calendar week with zero orders produces no row at the weeks grain,
    * so the 8-lag window slides over observed weeks and skips the gap —
    * the oracle mirrors the same row semantics, so cross-engine parity
    * holds by construction. TPC-H order streams have no empty weeks; a
    * sparse stream wanting strict calendar decay would densify the week
    * spine (sequence over min..max week, zero-fill) before the lags.
    *
    * Scale shape: one partial-agg groupBy to the weeks grain, then a
    * bounded 8-lag window over the ~weeks-sized frame (same bounded-grain
    * stance as the backlog curve's month window). */
  def ewmaRevenueOf(orders: DataFrame): DataFrame = {
    val w = orders
      .groupBy(date_trunc("week", col("o_orderdate")).as("week"))
      .agg((sum(col("o_totalprice").cast(DecimalType(14, 2))) * lit(100))
        .cast("long").as("cents"))
    val wk = Window.orderBy("week")
    val weighted = (0 to 7)
      .map(i => coalesce(lag(col("cents"), i).over(wk), lit(0L)) *
        lit(1L << (7 - i)))
      .reduce(_ + _)
    w.withColumn("wsum", weighted)
      .select(col("week"), col("cents"),
        expr("CAST(wsum DIV 255 AS BIGINT)").as("ewma_c"))
  }

  def ewmaRevenue(spark: SparkSession, dir: String): DataFrame =
    ewmaRevenueOf(Feeds.table(spark, dir, "orders"))

}
