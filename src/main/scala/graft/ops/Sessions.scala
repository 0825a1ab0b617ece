package graft.ops

import graft.Memo.TruncateOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization and event-stream analytics over `events` — the
  * batch twin of [[graft.streaming.Sessionize]] (same 30-minute-gap
  * semantics, so the nightly batch recompute and the live stream agree).
  *
  * Scale: ONE shuffle on user_id; both windows (lag + running sum) and the
  * final session groupBy reuse that partitioning — a single exchange end to
  * end, state bounded by events-per-user-partition. No global window, no
  * driver-side iteration.
  */
object Sessions {

  /** Gap-based sessions: consecutive events of a user belong to one session
    * while the gap is ≤ `gapMinutes`. Output grain: one row per
    * (user_id, session_seq) with start/end, event count and quantity
    * (floor(value) sums — the activity feed's money rule).
    *
    * Determinism: timestamps are second-truncated (cross-engine rule for
    * the nanos feed, mirrored in the oracle) and the per-user order is
    * (ts, event_id) — total, since event_id is unique. */
  def sessionsOf(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts2", "event_id")
    val gapSec = gapMinutes * 60L
    val flagged = events
      .select(col("event_id"), col("user_id").cast("long").as("user_id"),
              date_trunc("second", col("ts")).as("ts2"),
              floor(col("value")).cast("long").as("qty"))
      .withColumn("new_s",
        when(lag(col("ts2"), 1).over(byUser).isNull
               .or(unix_timestamp(col("ts2")) -
                   unix_timestamp(lag(col("ts2"), 1).over(byUser)) > gapSec),
             1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged
      .groupBy("user_id", "session_seq")
      .agg(min(col("ts2")).as("session_start"),
           max(col("ts2")).as("session_end"),
           count(lit(1)).as("n_events"),
           sum(col("qty")).as("quantity"))
  }

  /** Per-event-type stats with an EXACT distinct-user count — the oracle
    * anchor for the approximate (HLL) variant below. */
  def eventTypeStatsOf(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id").cast("long")).as("n_users"),
           sum(floor(col("value")).cast("long")).as("quantity"))

  /** Sketch path: approx_count_distinct (HyperLogLog++) — at corpus scale
    * the exact distinct needs a (event_type, user_id) pre-aggregation
    * shuffle, while the sketch merges fixed-size registers map-side. Not
    * oracle-checked (estimates are engine-specific); SessionsSpec pins the
    * estimate within rsd tolerance of the exact count. */
  def eventTypeStatsApproxOf(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           approx_count_distinct(col("user_id").cast("long"), rsd)
             .as("n_users_approx"))

  /** KMV (k-minimum-values) distinct sketch — the DETERMINISTIC sibling of
    * the HLL variant above, so the sketch path itself is oracle-checkable:
    * both engines md5 the same user-id string, keep the k smallest 32-bit
    * hash prefixes per group, and estimate D ≈ (k-1)·2^32 / h_k with pure
    * integer arithmetic (bit-identical cross-engine; HLL register layouts
    * are engine-private, which is why `n_users_approx` can't be checked).
    *
    * Mergeability is the point at 100 TB: a KMV synopsis is a k-element
    * min-set, so partial sketches union by "merge, keep k smallest" —
    * associative and commutative like any partial agg. Here the plan is
    * (a) partial-agg dedup of (group, h) — the big shuffle, same cost as
    * exact countDistinct's first phase; (b) a per-group rank window over
    * DISTINCT hashes only, bounded by the group's distinct cardinality and
    * cut to k rows immediately. Estimator edge: when a group has ≤ k
    * distinct hashes the sketch IS the exact set, so the estimate is the
    * exact count.
    *
    * Determinism notes mirrored in the oracle: the hashed key is the
    * BIGINT rendered as a decimal string; the 8-hex-char prefix parses via
    * exact integer bit-arithmetic (`conv` here, `('0x'||…)::BIGINT` in
    * DuckDB); duplicate prefixes collapse BEFORE ranking (KMV is defined
    * over the distinct-hash set); `div` floors like DuckDB's `//` for the
    * non-negative operands here. */
  def kmvUsersOf(events: DataFrame, k: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2 (estimator divides by h_k at rank k)")
    val twoPow32 = 4294967296L
    val dh = events
      .select(col("event_type"),
              conv(substring(md5(col("user_id").cast("long").cast("string")),
                             1, 8), 16, 10).cast("long").as("h"))
      .distinct()
    val byType = Window.partitionBy("event_type")
    val ranked = dh
      .withColumn("rnk", row_number().over(byType.orderBy("h")))
      .withColumn("nd", count(lit(1)).over(byType))
      .where(col("rnk") <= k)
    ranked.groupBy("event_type")
      .agg(max(col("nd")).as("n_hashes"),
           count(lit(1)).as("k_used"),
           max(col("h")).as("kth_hash"))
      .select(col("event_type"), col("n_hashes"), col("k_used"),
        col("kth_hash"),
        when(col("n_hashes") <= k, col("n_hashes"))
          .otherwise(expr(s"(${k - 1}L * ${twoPow32}L) div kth_hash"))
          .as("est_users"))
  }

  /** Event-type transition counts (first-order Markov edges): for each
    * user's totally-ordered event stream, count (from_type → to_type)
    * adjacencies. The order is (second-truncated ts, event_id) — total
    * because event_id is unique — the same cross-engine ordering rule the
    * sessionizer pins. Scale: one shuffle on user_id for the lag window,
    * then a partial-agg groupBy on the (from, to) pair whose result is
    * bounded by |event_type|²; no global window anywhere. */
  def eventTransitionsOf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts2", "event_id")
    events
      .select(col("event_id"), col("user_id").cast("long").as("user_id"),
              date_trunc("second", col("ts")).as("ts2"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"),
           countDistinct(col("user_id")).as("n_users"))
  }

  /** Ordered funnel conversion: stage k counts users whose EARLIEST
    * stage-k event is at-or-after their earliest stage-(k-1) event,
    * chained from stage 0. One (user, type) min-aggregation (the only
    * shuffle — it collapses the event volume to ≤|stages| rows per user),
    * then a per-user conditional pivot and a global count. Equal-second
    * ties count as converted (pinned, mirrored in the oracle). */
  def funnelOf(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, "a funnel needs at least 2 stages")
    val firsts = events
      .where(col("event_type").isin(stages: _*))
      .groupBy(col("user_id").cast("long").as("user_id"), col("event_type"))
      .agg(min(date_trunc("second", col("ts"))).as("first_ts"))
    val byUser = firsts.groupBy("user_id")
      .pivot("event_type", stages)
      .agg(first(col("first_ts")))
    val reached = stages.indices.map { i =>
      val cond = (1 to i).foldLeft(col(stages.head).isNotNull) { (acc, j) =>
        acc && col(stages(j)).isNotNull && col(stages(j)) >= col(stages(j - 1))
      }
      sum(when(cond, 1L).otherwise(0L)).as(s"n_stage_$i")
    }
    byUser.agg(reached.head, reached.tail: _*)
  }

  /** Rolling active users — DAU and trailing-`windowDays` distinct users
    * (WAU at the default 7) per activity day, plus the DAU/WAU stickiness
    * ratio.
    *
    * The naive formulation is a per-day range self-join over the whole
    * event log (quadratic in days × events). Instead: dedup to (user, day)
    * once, then EXPAND each active day to the `windowDays` window-ending
    * days it contributes to (a bounded ×7 map-side fanout via
    * `sequence`+`explode` — no join at all), and count distinct users per
    * window-ending day with Spark's two-phase partial aggregation. At
    * 100 TB the expansion is the standard trick: shuffle volume is
    * 7 × |user-days| (already deduped, ≪ |events|), and the final groupBy
    * key (day) is low-cardinality but the partial dedup on (day, user)
    * spreads the work before the merge. Anchor days are days with their
    * own activity (inner join DAU∧WAU) — mirrored in the oracle. */
  def rollingActiveUsersOf(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val userDays = events
      .select(to_date(col("ts")).as("day"), col("user_id").cast("long").as("user_id"))
      .distinct()
    val wau = userDays
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), windowDays - 1))).as("day"))
      .groupBy("day")
      .agg(countDistinct("user_id").as("wau_users"))
    val dau = userDays.groupBy("day").agg(count(lit(1)).as("dau_users"))
    // day-grain outputs ship as midnight TIMESTAMP (house rule: DATE
    // stringification differs across engines; see sale_date in rolling-7d)
    dau.join(wau, Seq("day"))
      .select(col("day").cast("timestamp").as("day"),
        col("dau_users"), col("wau_users"),
        (col("dau_users").cast("double") / col("wau_users").cast("double"))
          .as("stickiness"))
  }

  /** Telemetry debounce: drop an event when the SAME (user, event_type)
    * fired within `windowSec` before it — the standard double-fire /
    * client-retry cleaner that runs ahead of sessionization and counters.
    * Lag-based (each event compares to its immediate same-key
    * predecessor), so the rule is a pure window expression — identical in
    * the oracle — and the batch output is the exact twin of the
    * dropDuplicates-within-watermark streaming stance.
    *
    * Scale shape: ONE shuffle on (user_id, event_type), a per-key lag,
    * a filter — state bounded by events-per-key-partition, no second
    * exchange. Timestamps second-truncated, order (ts2, event_id) total. */
  def debounceOf(events: DataFrame, windowSec: Long = 300): DataFrame = {
    val byKey = Window.partitionBy("user_id", "event_type")
      .orderBy("ts2", "event_id")
    events
      .select(col("event_id"), col("user_id").cast("long").as("user_id"),
              date_trunc("second", col("ts")).as("ts2"), col("event_type"))
      .withColumn("prev", lag(col("ts2"), 1).over(byKey))
      .where(col("prev").isNull ||
        unix_timestamp(col("ts2")) - unix_timestamp(col("prev")) > windowSec)
      .select("event_id", "user_id", "ts2", "event_type")
  }

  /** Per-user event-rate histogram in power-of-2 buckets (bucket =
    * [[ilog2]] of events-per-user) — the bot/outlier readout:
    * a heavy tail of users thousands of buckets above the median is
    * scripted traffic. Two partial-agg groupBys (user → count, bucket →
    * rollup); output is ~64 rows at any scale. */
  def eventRateHistOf(events: DataFrame): DataFrame =
    events.select(col("user_id").cast("long").as("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .select(ilog2(col("n_events")).as("bucket"), col("n_events"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"), sum("n_events").as("sum_events"),
           min("n_events").as("min_events"), max("n_events").as("max_events"))

  /** Hour-of-day × event-type seasonality profile: events, exact distinct
    * users and quantity per (hour, type) — the diurnal-load readout
    * behind capacity planning and anomaly baselines. Timestamps are NTZ
    * and second-truncated, so the hour is timezone-independent and
    * identical cross-engine. One partial-agg groupBy on a ≤24×|types|
    * key; the distinct-user count is Spark's two-phase partial
    * aggregation. */
  def hourProfileOf(events: DataFrame): DataFrame =
    events
      .select(hour(date_trunc("second", col("ts"))).cast("long").as("hour"),
              col("event_type"),
              col("user_id").cast("long").as("user_id"),
              floor(col("value")).cast("long").as("qty"))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n_events"),
           countDistinct("user_id").as("n_users"),
           sum("qty").as("quantity"))

  /** Per-user LIFECYCLE mart: first/last activity, event count, exact
    * active-day count and calendar span — the base frame of churn and
    * engagement models. One partial-agg groupBy on user_id (the distinct
    * active-day count is two-phase partial aggregation on the bounded
    * (user, day) key); output is |users| rows, never |events|. */
  def userLifecycleOf(events: DataFrame): DataFrame =
    events
      .select(col("user_id").cast("long").as("user_id"),
              date_trunc("second", col("ts")).as("ts2"))
      .groupBy("user_id")
      .agg(min("ts2").as("first_ts"),
           max("ts2").as("last_ts"),
           count(lit(1)).as("n_events"),
           countDistinct(to_date(col("ts2"))).as("n_active_days"))
      .withColumn("span_days",
        datediff(to_date(col("last_ts")), to_date(col("first_ts")))
          .cast("long"))

  /** Daily PEAK-CONCURRENCY profile over the gap-sessions: the classic
    * sweep-line — each session contributes a +1 boundary at start and a
    * −1 at end, a running sum over the ordered boundaries is the live
    * session count, and its per-day max is the capacity-planning number
    * ("how many sessions were open at once").
    *
    * Determinism: the boundary order is total — (ts, delta, user_id,
    * session_seq) with delta −1 < +1, so a session ENDING at the exact
    * second another starts closes first (back-to-back ≠ concurrent);
    * mirrored in the oracle. A session is swept within its START day
    * (sessions are gap-bounded, so midnight-spanning tails are rare and
    * attributed to the day they began).
    *
    * Scale shape: the sweep partitions by DAY, not globally — each day's
    * running sum is an independent window partition (a global sweep
    * would be the single-partition WindowExec trap); boundaries are
    * 2·|sessions| rows, session-grain not event-grain. */
  def sessionConcurrencyOf(sessions: DataFrame): DataFrame = {
    val bounds = sessions.select(
      date_trunc("day", col("session_start")).as("day"),
      explode(array(
        struct(col("session_start").as("ts"), lit(1L).as("delta"),
               col("user_id"), col("session_seq")),
        struct(col("session_end").as("ts"), lit(-1L).as("delta"),
               col("user_id"), col("session_seq")))).as("e"))
      .select(col("day"), col("e.ts").as("ts"), col("e.delta").as("delta"),
              col("e.user_id").as("user_id"),
              col("e.session_seq").as("session_seq"))
    val sweep = Window.partitionBy("day")
      .orderBy("ts", "delta", "user_id", "session_seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .withColumn("conc", sum(col("delta")).over(sweep))
      .groupBy("day")
      .agg(expr("CAST(count(*) DIV 2 AS BIGINT)").as("n_sessions"),
           max("conc").cast("long").as("max_concurrent"))
  }

  /** Time-to-convert between adjacent funnel stages: for users who
    * convert IN ORDER (same condition as [[funnelOf]] — each stage's
    * first touch at-or-after the previous stage's), the DISCRETE median
    * and p90 of the stage-to-stage latency in seconds. The funnel says
    * how many make it; this says how long the ones who make it take —
    * the pairing every activation dashboard shows.
    *
    * Discrete order-statistic picks (rank ⌈n/2⌉ / ⌈9n/10⌉ under a total
    * (duration, user) order) — the same interpolation-free exactness
    * trick as the IQR/length-trim ops. Scale shape: first-touch pivot is
    * one partial-agg groupBy on user_id; durations are user-grain rows;
    * the rank window partitions by the ≤|stages| pair key. */
  def funnelTimeToConvertOf(events: DataFrame,
                            stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, "a funnel needs at least 2 stages")
    val firsts = events
      .where(col("event_type").isin(stages: _*))
      .groupBy(col("user_id").cast("long").as("user_id"), col("event_type"))
      .agg(min(date_trunc("second", col("ts"))).as("first_ts"))
    val byUser = firsts.groupBy("user_id")
      .pivot("event_type", stages)
      .agg(first(col("first_ts")))
    val durs = stages.sliding(2).zipWithIndex.map { case (pair, i) =>
      val (a, b) = (pair.head, pair(1))
      val cond = (1 to i + 1).foldLeft(col(stages.head).isNotNull) {
        (acc, j) =>
          acc && col(stages(j)).isNotNull &&
            col(stages(j)) >= col(stages(j - 1))
      }
      byUser.where(cond)
        .select(lit(f"${i + 1}%02d_${a}_to_$b").as("stage_pair"),
          (unix_timestamp(col(b)) - unix_timestamp(col(a))).cast("long")
            .as("dur_sec"),
          col("user_id"))
    }.reduce(_ unionAll _)
    val byPair = Window.partitionBy("stage_pair").orderBy("dur_sec", "user_id")
    durs
      .withColumn("rn", row_number().over(byPair).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("stage_pair")))
      .groupBy("stage_pair")
      .agg(max("n").cast("long").as("n_users"),
        max(when(col("rn") === expr("(n + 1) DIV 2"), col("dur_sec")))
          .as("median_sec"),
        max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("dur_sec")))
          .as("p90_sec"))
  }

  /** Per-user event-type diversity entropy — the bot / stuck-client
    * detector: a user whose events concentrate on one type scores 0, a
    * user spread evenly across the catalog scores high: the integer
    * entropy surrogate [[entropySurrOf]] over the per-type counts.
    *
    * Scale shape: per-(user, type) counts are a partial-agg groupBy
    * whose exchange carries ≤ |event-type catalog| rows per user, folded
    * to user grain in a second partial agg — never per-event rows past
    * the first combine. The per-user output is the monitoring mart a
    * downstream percentile/fence pass reads; no driver-side state. */
  def eventEntropyOf(events: DataFrame): DataFrame =
    entropySurrOf(events
      .select(col("user_id").cast("long").as("user_id"), col("event_type"))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_t")), "user_id", "n_t", "n_events")(
      sum("n_t").as("n_events"), count(lit(1)).as("n_types"))

  /** Session-DURATION histogram in power-of-2 second buckets (bucket =
    * [[ilog2]] of max(dur, 1) — zero-length single-event sessions land in
    * bucket 0) — the engagement-shape card a product team reads next to the
    * concurrency profile: a bimodal histogram here means bots or a
    * broken gap threshold.
    *
    * Scale shape: composes the sessionized frame (already ≪ events);
    * duration and bucket are map-side expressions, the rollup is a
    * partial agg on a ~20-value bucket key. */
  def sessionDurationHistOf(sessions: DataFrame): DataFrame =
    sessions
      .select(ilog2(greatest(expr(
        "unix_timestamp(session_end) - unix_timestamp(session_start)"),
        lit(1))).as("bucket"),
        (unix_timestamp(col("session_end")) -
          unix_timestamp(col("session_start"))).as("dur_sec"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_sessions"),
           sum("dur_sec").cast("long").as("sum_dur_sec"),
           max("dur_sec").cast("long").as("max_dur_sec"))

  /** User-burstiness histogram: users bucketed by ⌊log₂(mean
    * inter-event gap in seconds)⌋. Separates steady hourly users from
    * bursty scrape-like traffic (tiny mean gap, huge event count) — the
    * traffic-shape card that decides sampling and rate-limit policy.
    * Integer mean (sum DIV n) so the bucket is bit-stable cross-engine.
    *
    * Scale: one shuffle on user_id for the lag window (shared ordering
    * rule with the sessionizer: second-truncated ts, event_id); the
    * per-user rollup reuses that partitioning; the final histogram is a
    * partial agg on a ~25-value bucket key. */
  def userBurstinessOf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts2", "event_id")
    val gaps = events
      .select(col("event_id"), col("user_id").cast("long").as("user_id"),
              date_trunc("second", col("ts")).as("ts2"))
      .withColumn("gap_sec",
        unix_timestamp(col("ts2")) -
          unix_timestamp(lag(col("ts2"), 1).over(byUser)))
      .where(col("gap_sec").isNotNull)
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_sec")).as("sum_gap"))
      .select(ilog2(greatest(expr("sum_gap DIV n_gaps"), lit(1))).as("bucket"),
        col("n_gaps"), col("sum_gap"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"),
           sum(col("n_gaps")).as("sum_gaps"),
           sum(col("sum_gap")).as("sum_gap_sec"))
  }

  /** Per-user event-sequence surprisal under the corpus's first-order
    * Markov model, as a quarter-bit mean histogram: each transition
    * (prev→next) contributes ⌊log₂ c(prev,*)⌋ − ⌊log₂ c(prev,next)⌋
    * bits (the [[ilog2]] surrogate of −log₂ P(next|prev) the text
    * stack standardizes on), and users land in buckets of
    * (4·total_bits) DIV n_transitions. High-surprisal users follow
    * paths the population never takes — the behavioral-anomaly twin of
    * the text perplexity filter.
    *
    * Scale: one shuffle on user_id for the lag; per-user transition
    * rollup reuses it; the model join keys on the (from,to) pair domain
    * (bounded by |event_type|², broadcast-sized at any corpus scale);
    * the histogram is a partial agg on a small bucket key. */
  def eventSeqSurprisalOf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts2", "event_id")
    val trans = events
      .select(col("event_id"), col("user_id").cast("long").as("user_id"),
              date_trunc("second", col("ts")).as("ts2"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .where(col("from_type").isNotNull)
      .groupBy(col("user_id"), col("from_type"),
               col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_ut"))
      // three consumers (pair model, from-model, final join) — truncate
      // the lineage so the event-sized lag window runs ONCE, not per
      // branch; the materialized frame is per-user-pair grain (≪ events)
      .truncated
    val pairModel = trans.groupBy("from_type", "to_type")
      .agg(sum(col("n_ut")).as("c_pair"))
    val fromModel = pairModel.groupBy("from_type")
      .agg(sum(col("c_pair")).as("c_from"))
    val model = broadcast(pairModel.join(fromModel, "from_type")
      .select(col("from_type"), col("to_type"),
        (ilog2(col("c_from")) - ilog2(col("c_pair"))).as("bits_per")))
    trans.join(model, Seq("from_type", "to_type"))
      .groupBy("user_id")
      .agg(sum(col("n_ut")).as("n_trans"),
           sum(col("n_ut") * col("bits_per")).as("bits"))
      .select(expr("CAST(bits * 4 DIV n_trans AS BIGINT)").as("qbits_bucket"),
              col("n_trans"))
      .groupBy("qbits_bucket")
      .agg(count(lit(1)).as("n_users"), sum(col("n_trans")).as("sum_trans"))
  }

  /** Weekly telemetry-value profile: events, distinct users, and
    * floor-integer value sum/min/max per week — the drift card that
    * catches a broken emitter (value unit change, user-id collapse)
    * in one glance. Integer floors keep every column bit-stable; the
    * second-truncated ts rule matches the rest of the event stack.
    *
    * Scale shape: one partial-agg groupBy on the weeks-sized key;
    * distinct users partial-aggregate per week. */
  def eventValueWeeklyOf(events: DataFrame): DataFrame =
    events
      .select(date_trunc("week", date_trunc("second", col("ts")))
                .as("week"),
              col("user_id").cast("long").as("u"),
              floor(col("value")).cast("long").as("v"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("u")).as("n_users"),
           sum(col("v")).as("v_sum"),
           min(col("v")).as("v_min"),
           max(col("v")).as("v_max"))

  /** Three-sigma value outliers per event type: share of events whose
    * telemetry value sits beyond mean ± 3σ of its type — the robust-DQ
    * monitor that flags instrumented-unit regressions (a client shipping
    * millis into a seconds field). Values quantize to integer cents;
    * mean/variance come from exact integer sums and the 3σ test is the
    * cross-multiplied form (n·v − Σ)² > 9·(n·Σv² − Σ²) evaluated in
    * DOUBLE on exact integer operands (identical tree in the oracle;
    * double because the squared terms overflow int64 at corpus scale).
    * Σv² itself accumulates in DECIMAL(38,0), not BIGINT: n·v_c² passes
    * int64 at ~9.2e18, where Spark (non-ANSI) would wrap silently while
    * the DuckDB oracle errors — a silent-vs-loud divergence. DECIMAL
    * moves the bound to 1e38 and keeps both engines exact/equal up to it.
    *
    * Scale shape: one partial-agg groupBy on the |types| key for the
    * moments, a broadcast join back over the same scan, one rollup. */
  def valueSigmaOutliersOf(events: DataFrame): DataFrame = {
    val vals = events.select(col("event_type"),
      floor(col("value") * lit(100)).cast("long").as("v_c"))
    val moments = vals.groupBy(col("event_type").as("m_type"))
      .agg(count(lit(1)).as("n"), sum("v_c").as("s1"),
           sum(col("v_c").cast("decimal(19,0)") *
               col("v_c").cast("decimal(19,0)")).as("s2"))
    vals.join(broadcast(moments), col("event_type") === col("m_type"))
      .select(col("event_type"), col("n"),
        when(expr("""pow(CAST(n AS DOUBLE) * CAST(v_c AS DOUBLE)
                       - CAST(s1 AS DOUBLE), 2)
                     > 9.0 * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"""),
          1L).otherwise(0L).as("is_out"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("is_out").as("n_outliers"))
      .withColumn("outlier_ppm",
        expr("CAST(n_outliers * 1000000 DIV n_events AS BIGINT)"))
  }

  /** Per-event-type ⌊log2⌋ inter-event-gap histogram over same-(user,
    * type) streams — the latency-shape card behind debounce/session
    * thresholds (a bimodal gap distribution says one timeout cannot fit
    * both modes). Gaps in whole seconds from the second-truncated ts
    * (the event stack's shared rule), ties pinned by event id.
    *
    * Scale shape: one per-(user, type) lag window — the bounded grain
    * every session op uses — then a (|types| × ~40)-key rollup. */
  def gapHistByTypeOf(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u", "event_type").orderBy("t", "eid")
    events
      .select(col("event_type"), col("user_id").cast("long").as("u"),
              date_trunc("second", col("ts")).as("t"),
              col("event_id").cast("long").as("eid"))
      .withColumn("gap_s",
        (unix_timestamp(col("t")) - unix_timestamp(lag("t", 1).over(w)))
          .cast("long"))
      .where(col("gap_s").isNotNull)
      .groupBy(col("event_type"),
        ilog2(greatest(col("gap_s"), lit(1))).as("bucket"))
      .agg(count(lit(1)).as("n_gaps"))
  }

}
