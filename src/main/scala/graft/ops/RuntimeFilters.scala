package graft.ops

import graft.expr.{BloomMightContainLong, CmsEstimateLong}
import graft.sources.SourceReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sketch-accelerated exact queries: bloom semi-join reduction and
  * CMS-verified heavy hitters (SURVEY §2 beyond-reference set; the 100 TB
  * shuffle-avoidance patterns).
  *
  * Both queries are EXACT — the sketch only prunes, never decides:
  *  - bloom false positives are eliminated by the real join that follows;
  *  - CMS over-estimates produce extra candidates that the exact count
  *    verification then drops.
  * So both share a plain-SQL DuckDB oracle with no sketch in it.
  */
object RuntimeFilters {

  private def liOrders(spark: SparkSession, dir: String) = (
    SourceReader.table(spark, dir, "lineitem"),
    SourceReader.table(spark, dir, "orders"))

  /** Hard cap on the bloom's `expectedNumItems`. Sizing the filter to the
    * true qualifying-key count is a scale trap: at the 100 TB target ~20% of
    * orders is billions of keys ⇒ a multi-GB driver-side object. Above the
    * cap the filter saturates and its fpp RISES — which only costs pruning
    * efficiency, never correctness, because the exact join downstream
    * removes every false positive. 4M keys at 1% fpp ≈ 4.6 MB. */
  private[graft] val MaxBloomKeys: Long = 4L * 1000 * 1000

  /** expectedNumItems actually handed to the bloom builder: the true count
    * clamped into [1, MaxBloomKeys]. Factored out so the spec can pin the
    * resulting filter size at an inflated key count. */
  private[graft] def boundedBloomItems(nKeys: Long,
                                       cap: Long = MaxBloomKeys): Long =
    math.min(math.max(nKeys, 1L), cap)

  /** Revenue by return flag over lineitems of URGENT orders, with the fact
    * side pre-filtered by a bloom of the qualifying order keys.
    *
    * Scale shape: the dim-side predicate (`o_orderpriority = '1-URGENT'`,
    * ~20% of orders) is consumed twice — once driver-side into a size-capped
    * bloom ([[boundedBloomItems]]) that drops most of the 100 TB fact inside
    * its scan stage, once as the broadcast hash side that removes the
    * bloom's false positives. The sketch rides to executors as a Broadcast
    * reference (once per executor), not inside each serialized plan copy.
    * The shuffle (and at cluster scale, the network) only ever sees the
    * reduced fact. Mirrors Spark's own `InjectRuntimeFilter`, but explicit,
    * so the reduction also applies when the optimizer's heuristics would not
    * fire. */
  def bloomUrgentRevenue(spark: SparkSession, dir: String): DataFrame = {
    val (li, orders) = liOrders(spark, dir)
    val urgent = orders.where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val nUrgent = urgent.count()
    val bloom = spark.sparkContext.broadcast(
      urgent.stat.bloomFilter("o_orderkey", boundedBloomItems(nUrgent), 0.01))
    val reduced = li.where(BloomMightContainLong(li("l_orderkey"), bloom))
    reduced
      .join(urgent.hint("broadcast"),
            reduced("l_orderkey") === urgent("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
           // exact DECIMAL sums (order-independent), DOUBLE only at output
           sum(col("l_quantity").cast(DecimalType(14, 2))).cast("double")
             .as("sum_qty"),
           sum(col("l_extendedprice").cast(DecimalType(14, 2))).cast("double")
             .as("revenue"))
  }

  /** Exact heavy hitters (parts ordered more than `minCount` times), found
    * through a Count-Min sketch: one pass builds the CMS, the candidate set
    * is the (dimension-sized) part list filtered by CMS estimate — a
    * distributed probe via [[CmsEstimateLong]], never a collect — and the
    * final exact count runs over the fact semi-join-reduced to candidates.
    *
    * Scale shape: the full-fact `groupBy(part)` shuffle (20k+ distinct keys
    * per 100 TB) is replaced by a ~KB sketch broadcast + a shuffle whose
    * input only holds candidate keys' rows. CMS guarantees estimate >= true
    * count, so the candidate set is a superset and the verified output is
    * exactly the plain GROUP BY ... HAVING result. */
  def heavyHitterParts(spark: SparkSession, dir: String,
                       minCount: Long = 40): DataFrame = {
    val (li, _) = liOrders(spark, dir)
    val part = SourceReader.table(spark, dir, "part")
    // CMS size is set by (eps, confidence), independent of key count —
    // ~1.1 MB here — but it gets the same Broadcast transport as the bloom
    val cms = spark.sparkContext.broadcast(
      li.stat.countMinSketch(col("l_partkey"), 0.0001, 0.999, 42))
    val candidates = part.select(col("p_partkey"))
      .where(CmsEstimateLong(col("p_partkey"), cms) >= lit(minCount))
    val reduced = li.join(candidates.hint("broadcast"),
      li("l_partkey") === candidates("p_partkey"), "left_semi")
    reduced.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_orders"),
           sum(col("l_quantity").cast(DecimalType(14, 2))).cast("double")
             .as("sum_qty"))
      .where(col("n_orders") >= minCount)
  }
}
