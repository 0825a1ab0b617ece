package graft.ops

import graft.etl.Feeds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — "for each left row, the most recent right row at or before
  * its timestamp, per key". Spark has no native ASOF; per the extension
  * ladder this composes from built-ins: tag both sides, union, and take a
  * running `last(..., ignoreNulls)` over a (key)-partitioned window ordered
  * by (ts, side, tiebreak).
  *
  * Scale: ONE shuffle on the join key + a partitioned running window — no
  * per-row range probe, no nested loop, state is a single row per
  * partition-order position. This is the standard big-data as-of shape
  * (events × slowly-changing reference data).
  *
  * Determinism: right rows sort before left rows at equal timestamps
  * (inclusive "at or before"), and ties among right rows resolve to the
  * largest tiebreak value — pinned identically in the DuckDB LATERAL
  * oracle.
  */
object AsOf {

  /** Generic as-of: returns `left` plus `asof_<c>` for each right payload
    * column. `rightTiebreak` must make (rightTs, rightTiebreak) unique per
    * key.
    *
    * The payload travels as ONE struct column filled with a single
    * `last(ignoreNulls)` — per-column fills could assemble a "torn" row
    * (a NULL in one payload column backfilling from an OLDER right row).
    * Right rows with a NULL timestamp are dropped up front: they have no
    * place on the time axis, and sorting NULLS FIRST would otherwise leak
    * their payload into every left row with no true match. */
  def joinLatest(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 leftTs: String, rightTs: String,
                 rightTiebreak: String,
                 payload: Seq[String]): DataFrame = {
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c).copy(name = c)))
    val lTagged = left
      .withColumn("__k", col(leftKey)).withColumn("__t", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__tb", lit(null).cast("long"))
      .withColumn("__p", lit(null).cast(payloadType))
    val rTagged = right
      .where(col(rightTs).isNotNull)
      .withColumn("__k", col(rightKey)).withColumn("__t", col(rightTs))
      .withColumn("__side", lit(0))
      .withColumn("__tb", col(rightTiebreak).cast("long"))
      .withColumn("__p", struct(payload.map(col): _*))
    val cols = Seq("__k", "__t", "__side", "__tb", "__p")
    val leftCols = left.columns.toSeq
    val u = lTagged.select((leftCols.map(c => col(c)) ++ cols.map(col)): _*)
      .unionByName(
        rTagged.select(cols.map(col): _*)
          .select((leftCols.map(c => lit(null).cast(
            left.schema(c).dataType).as(c)) ++ cols.map(col)): _*))
    val w = Window.partitionBy("__k").orderBy(col("__t"), col("__side"),
        col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u.withColumn("__asof",
      last(col("__p"), ignoreNulls = true).over(w))
    filled.where(col("__side") === 1)
      .select((leftCols.map(col) ++
        payload.map(c => col("__asof").getField(c).as(s"asof_$c"))): _*)
  }

  /** LAST-TOUCH ATTRIBUTION — for each purchase event, the user's most
    * recent preceding non-purchase event ("touch"), credited only if it
    * falls within `windowDays`; purchases with no in-window touch land in
    * the 'none' bucket. The marketing-attribution staple, and a second
    * consumer of the as-of machinery: picking the latest touch EVER and
    * then age-gating it is equivalent to "latest touch within the window"
    * (if the latest is too old, nothing newer exists either) — one as-of
    * pass, no range join. Rolled up to per-touch-type purchase counts;
    * output is touch-type-cardinality-sized. */
  def lastTouchAttributionOf(events: DataFrame,
                             windowDays: Int = 7): DataFrame = {
    val ev = events.select(
      col("event_id"),
      col("user_id").cast("long").as("user_id"),
      date_trunc("second", col("ts")).as("ts"),
      col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val touches = ev.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("touch"))
    joinLatest(purchases, touches, "user_id", "user_id", "ts", "ts",
               "event_id", Seq("touch", "ts"))
      .select(
        when(col("asof_ts") >=
               col("ts") - expr(s"INTERVAL $windowDays DAY"),
             col("asof_touch"))
          .otherwise(lit("none")).as("touch_type"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_purchases"))
  }

  /** For each event: the customer's most recent order at or before the
    * event time (ts second-truncated for cross-engine stability). */
  def latestOrderPerEvent(spark: SparkSession, dir: String): DataFrame = {
    val ev = Feeds.events(spark, dir).select(
      col("event_id"),
      col("user_id").cast("long").as("user_id"),
      date_trunc("second", col("ts")).as("ts"))
    val o = Feeds.table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    joinLatest(ev, o, "user_id", "o_custkey", "ts", "o_orderdate",
               "o_orderkey", Seq("o_orderkey", "o_orderdate"))
  }
}
