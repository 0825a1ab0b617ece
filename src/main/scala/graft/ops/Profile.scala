package graft.ops

import graft.etl.Feeds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact data-quality profiling — per-column row/null/distinct counts and
  * numeric ranges, the first step of any training-data ingest, emitted in
  * the long (column, stats) format production profilers use. */
object Profile {

  /** One row per column: a union of per-column single-distinct aggregates,
    * each branch reading only its own column — the shape of
    * [[Audit.dqProfileOf]]. A single-distinct aggregate plans without an
    * Expand, the same way every run; n countDistincts in one agg plan as a
    * distinct-aggregate Expand whose grouping keys change order from run
    * to run. */
  def numericProfile(df: DataFrame, columns: Seq[String]): DataFrame =
    columns.map { c =>
      df.select(col(c))
        .agg(count(lit(1)).as("n_rows"),
             count(col(c)).as("n_nonnull"),
             countDistinct(col(c)).as("n_distinct"),
             min(col(c)).cast("double").as("min_val"),
             max(col(c)).cast("double").as("max_val"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nonnull"),
                col("n_distinct"), col("min_val"), col("max_val"))
    }.reduce(_ unionAll _)

  /** Profile of the orders table's numeric columns. */
  def ordersProfile(spark: SparkSession, dir: String): DataFrame =
    numericProfile(Feeds.table(spark, dir, "orders"),
                   Seq("o_orderkey", "o_custkey", "o_totalprice"))

  /** EXACT interpolated quantiles (SQL `percentile`, the same
    * lower + (higher-lower)·frac interpolation DuckDB's quantile_cont
    * uses — cross-engine comparable, unlike HLL/t-digest approximations).
    * Exact percentile sorts per group; for a quick scan at 100 TB swap in
    * approx_percentile (t-digest, one pass, no sort) — kept exact here so
    * the oracle can hash-match. */
  def quantileProfile(df: DataFrame, column: String,
                      ps: Seq[Double]): DataFrame = {
    val arr = ps.map(p => s"CAST($p AS DOUBLE)").mkString(", ")
    df.agg(expr(s"percentile($column, array($arr))").as("qs"))
      .select(posexplode(col("qs")).as(Seq("pos", "q_value")))
      .select(lit(column).as("column"),
              element_at(typedLit(ps), col("pos") + 1).as("p"),
              col("q_value"))
  }

  def ordersQuantiles(spark: SparkSession, dir: String): DataFrame =
    quantileProfile(Feeds.table(spark, dir, "orders"), "o_totalprice",
                    Seq(0.25, 0.5, 0.75, 0.95))

  /** SKETCH quantiles — the corpus-scale sibling of [[quantileProfile]]:
    * `approx_percentile` keeps a bounded mergeable summary per partition
    * (Greenwald-Khanna style, rank error ≤ 1/accuracy) instead of the
    * exact form's full value multiset, so the same profile runs in one
    * pass at any scale. Tolerance vs the exact quantiles is pinned in
    * ProfileSpec (the summary's merge order is partitioning-dependent, so
    * this is spec-checked against exact, not oracle-hashed — same
    * contract as the HLL distinct counts). */
  def approxQuantileProfile(df: DataFrame, column: String, ps: Seq[Double],
                            accuracy: Int = 10000): DataFrame = {
    val arr = ps.map(p => s"CAST($p AS DOUBLE)").mkString(", ")
    df.agg(expr(s"approx_percentile($column, array($arr), $accuracy)")
        .as("qs"))
      .select(posexplode(col("qs")).as(Seq("pos", "q_value")))
      .select(lit(column).as("column"),
              element_at(typedLit(ps), col("pos") + 1).as("p"),
              col("q_value").cast("double").as("q_value"))
  }

  /** The sketch-quantile TOLERANCE CONTRACT as a driver-checkable query:
    * each approx_percentile answer's exact bracketing ranks
    * (count(< q), count(≤ q)) are measured against the table in one
    * broadcast-join scan, and the row reports whether the target rank p·n
    * falls inside the bracket widened by the GK guarantee n/accuracy
    * (+2 rows boundary discreteness — the ProfileSpec contract verbatim).
    * The sketch VALUE is partitioning-dependent and can't cross-engine
    * hash; the measured tolerance verdict is deterministic (always true
    * while the sketch honors its guarantee), so the DuckDB oracle states
    * the contract (`true` per p) and the Spark side proves it against the
    * exact data. */
  def quantileSketchCheck(df: DataFrame, column: String, ps: Seq[Double],
                          accuracy: Int = 10000): DataFrame = {
    // NULLs out before anything: approx_percentile and the bracketing
    // rank sums both ignore them, so n must count the same (non-null)
    // population or the target rank p·n overshoots by p·nullFraction·N
    val v = df.select(col(column).cast("double").as("v"))
      .where(col("v").isNotNull)
    val approx = approxQuantileProfile(v, "v", ps, accuracy)
      .select(col("p"), col("q_value"))
    v.crossJoin(broadcast(approx))
      .groupBy("p", "q_value")
      .agg(sum(when(col("v") < col("q_value"), 1L).otherwise(0L))
             .as("rank_lo"),
           sum(when(col("v") <= col("q_value"), 1L).otherwise(0L))
             .as("rank_hi"),
           count(lit(1)).as("n"))
      .select(lit(column).as("column"), col("p"),
        ((col("rank_lo") - (col("n") / accuracy + 2) <=
            col("p") * col("n")) &&
         (col("p") * col("n") <=
            col("rank_hi") + (col("n") / accuracy + 2))).as("rank_ok"))
  }

  def ordersQuantilesSketch(spark: SparkSession, dir: String): DataFrame =
    quantileSketchCheck(Feeds.table(spark, dir, "orders"), "o_totalprice",
                        Seq(0.25, 0.5, 0.75, 0.95))

  /** Exact interpolated quantiles PER GROUP — one partial-aggregatable
    * groupBy (each group's percentile state is its value multiset; fine
    * for profiling-sized groups, use approx_percentile for corpus-sized
    * ones), then a posexplode to (group, p, q_value) grain. Spark
    * `percentile` ≡ DuckDB `quantile_cont` bit-for-bit (same linear
    * interpolation; established by q_profile_quantiles). */
  def quantilesByGroup(df: DataFrame, groupCol: String, column: String,
                       ps: Seq[Double]): DataFrame = {
    val arr = ps.map(p => s"CAST($p AS DOUBLE)").mkString(", ")
    df.groupBy(col(groupCol))
      .agg(expr(s"percentile($column, array($arr))").as("qs"))
      .select(col(groupCol), posexplode(col("qs")).as(Seq("pos", "q_value")))
      .select(col(groupCol), lit(column).as("column"),
              element_at(typedLit(ps), col("pos") + 1).as("p"),
              col("q_value"))
  }

  def priceQuantilesByFlag(spark: SparkSession, dir: String): DataFrame =
    quantilesByGroup(Feeds.table(spark, dir, "lineitem"), "l_returnflag",
                     "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.95))

  /** Equi-width histogram: min/max via a 1-row broadcast, bucket index by
    * exact mirrored double arithmetic (`(x - mn) * n / (mx - mn)`, floored,
    * top edge clamped into the last bucket). Two passes over the column —
    * the standard distributed histogram; no sort, no collect. */
  def histogram(df: DataFrame, column: String, n: Int): DataFrame = {
    val mm = df.agg(min(col(column)).as("mn"), max(col(column)).as("mx"))
    df.select(col(column)).crossJoin(broadcast(mm))
      .select(least(
        floor((col(column) - col("mn")) * lit(n) / (col("mx") - col("mn"))),
        lit(n - 1L)).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"))
  }

  def totalpriceHistogram(spark: SparkSession, dir: String): DataFrame =
    histogram(Feeds.table(spark, dir, "orders"), "o_totalprice", 10)
}
