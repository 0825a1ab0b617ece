package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-13 TPC-H classic shapes (Q2/Q11/Q12/Q16/Q19/Q20/Q21), adapted to
  * the driver tables (no partsupp, no shipmode/commit/receipt columns —
  * supply-side facts derive from lineitem, lateness from the
  * orderdate→shipdate lag). With these the engine covers all 22 classic
  * query shapes. Money follows the repo convention: exact DECIMAL
  * accumulation, DOUBLE only at the output cast; thresholds and shares
  * are integer cross-multiplications (a*n > k*b), never float division,
  * so both engines decide ties identically.
  */
object TpchShapes {

  private val one = lit(java.math.BigDecimal.ONE).cast(DecimalType(14, 2))
  private def discPrice = (col("l_extendedprice").cast(DecimalType(14, 2)) *
    (one - col("l_discount").cast(DecimalType(14, 2)))).cast(DecimalType(24, 4))

  /** Min-cost supplier per part (TPC-H Q2 shape): for every part (≤
    * `maxSize`), the supplier(s) in `regionName` offering the lowest
    * observed unit cost — the correlated-min-subquery classic, here as
    * aggregate + self-join-back. Unit cost is integer cents
    * (floor(price·100/qty)), so the min and the tie-back are exact.
    *
    * Scale shape: one partial-agg groupBy on (part, supp) over lineitem
    * — the ONLY lineitem scan; supplier⨝nation⨝region prunes to one
    * region BEFORE touching the supply frame and broadcasts; the per-part
    * min is an UNORDERED window (no sort) over the suppliers-per-part
    * groups — dimension-bounded, so no skew risk — instead of a
    * min-aggregate self-join-back, which Catalyst planned as a second
    * full lineitem scan+agg. Ties (two suppliers at the exact min) are
    * kept — deterministic, no arbitrary pick.
    *
    * r18: aggregate and window share ONE exchange — unit cost computes
    * at the scan, the narrow (part, supp, cost) row repartitions by
    * l_partkey before the groupBy (a prefix of the grouping key), and
    * the per-part min window reuses that partitioning instead of adding
    * a second fact-sized shuffle (guide §2.4). */
  def minCostSupplierOf(lineitem: DataFrame, supplier: DataFrame,
                        nation: DataFrame, region: DataFrame,
                        part: DataFrame, regionName: String = "EUROPE",
                        maxSize: Int = 15): DataFrame = {
    val supply = lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * lit(100) / col("l_quantity"))
          .cast("long").as("unit_cost_line_c"))
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("unit_cost_line_c")).as("unit_cost_c"))
    val dim = nation
      .join(broadcast(region.where(col("r_name") === regionName)),
            col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val supp = supplier.select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(dim), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
    val byPart = org.apache.spark.sql.expressions.Window
      .partitionBy("l_partkey")
    supply.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .withColumn("best_cost", min("unit_cost_c").over(byPart))
      .where(col("unit_cost_c") === col("best_cost"))
      .join(broadcast(part.where(col("p_size") <= maxSize)
              .select("p_partkey", "p_brand", "p_size")),
            col("l_partkey") === col("p_partkey"))
      .select("p_partkey", "p_brand", "p_size", "s_name", "n_name",
              "unit_cost_c")
  }

  /** Important-stock share (TPC-H Q11 shape): per supplier nation, the
    * parts whose supplied value exceeds `mult`× the nation's average
    * part value — Q11's HAVING-over-scalar-subquery, with the fixed
    * fraction replaced by a scale-adaptive multiple (a fixed 0.1% cut
    * empties as the part count grows; >4× average stays meaningful at
    * every SF). Value is integer cents; the cut is the integer
    * cross-multiplication value·n_parts > mult·total.
    *
    * Scale shape: lineitem folds ONCE by (nation, part) after a
    * broadcast supplier⨝nation attach; the nation totals are a 25-row
    * broadcast back-join. No window, no driver loop. */
  def importantPartValueOf(lineitem: DataFrame, supplier: DataFrame,
                           nation: DataFrame, mult: Int = 4): DataFrame = {
    val supp = supplier.select("s_suppkey", "s_nationkey")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val value = lineitem
      .select(col("l_suppkey"), col("l_partkey"),
              col("l_extendedprice").cast(DecimalType(14, 2)).as("price"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"), col("l_partkey").as("p_key"))
      .agg((sum(col("price")) * lit(100)).cast("long").as("value_c"))
    // r18: per-nation totals as a window over the SAME aggregate instead
    // of a second groupBy + self-join — the former plan evaluated the
    // whole lineitem join/agg subtree twice per run (guide §2.4: two
    // operations keyed the same way share one pass). Same exact-integer
    // comparison, row-identical output.
    val byNation = org.apache.spark.sql.expressions.Window
      .partitionBy("n_name")
    value
      .withColumn("total_c", sum("value_c").over(byNation))
      .withColumn("n_parts", count(lit(1)).over(byNation))
      .where(col("value_c") * col("n_parts") > lit(mult.toLong) * col("total_c"))
      .select("n_name", "p_key", "value_c")
  }

  /** Late-shipment priority classes (TPC-H Q12 shape): lines shipped more
    * than `lateDays` after order date, bucketed by ship year, split into
    * high-priority (1-URGENT/2-HIGH) vs low — Q12's shipmode×priority
    * pivot with the lag standing in for the absent receipt columns.
    *
    * Scale shape: lineitem⨝orders equi-join on orderkey (both sides
    * pruned to the join keys + 2 columns), the lag predicate applies at
    * the join output, then a partial-agg groupBy on the handful of ship
    * years. */
  def priorityShipClassesOf(lineitem: DataFrame, orders: DataFrame,
                            lateDays: Int = 90): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem.select("l_orderkey", "l_shipdate")
      .join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            col("l_orderkey") === col("o_orderkey"))
      .where(datediff(to_date(col("l_shipdate")),
                      to_date(col("o_orderdate"))) > lateDays)
      .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** Supplier count per part profile (TPC-H Q16 shape): distinct
    * suppliers observed shipping each (brand, type, size) combination,
    * excluding one brand and suppliers with negative balances (the
    * "complaints" exclusion). Exclusion is a left-anti join, not NOT IN —
    * null-safe and broadcastable. The oracle keeps SQL NOT IN but pins
    * the subquery with `s_suppkey IS NOT NULL`: a NULL in a NOT IN list
    * empties the whole result under three-valued logic while the
    * anti-join keeps unmatched rows — the pin makes the two forms
    * equivalent by construction, not by the accident of a non-null key.
    *
    * Scale shape: part prunes on brand+size then broadcasts into
    * lineitem; the anti side is supplier-sized and broadcasts; one
    * distinct-agg groupBy on the (brand,type,size) profile key. */
  def partSupplierCntOf(lineitem: DataFrame, part: DataFrame,
                        supplier: DataFrame): DataFrame = {
    val sizes = Seq(1, 5, 9, 13, 17, 21, 25, 29).map(lit(_))
    val p = part.where(col("p_brand") =!= "Brand#1" &&
                       col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val bad = supplier.where(col("s_acctbal") < 0).select("s_suppkey")
    lineitem.select("l_partkey", "l_suppkey")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** Discounted revenue under OR-of-ANDs (TPC-H Q19 shape): three
    * (brand, size-range, qty-range) disjuncts — the predicate Catalyst
    * must keep as one join filter rather than three scans.
    *
    * Scale shape: part broadcasts (it only carries brand/size); the
    * disjunction evaluates at the join output inside whole-stage codegen;
    * the result is a 1-row fold with exact DECIMAL accumulation. */
  def discountedRevenueOf(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val p = part.select("p_partkey", "p_brand", "p_size")
    def arm(brand: String, sizeHi: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand &&
        col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qLo, qHi)
    lineitem
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(arm("Brand#3", 5, 1, 11) || arm("Brand#9", 10, 10, 20) ||
             arm("Brand#15", 15, 20, 30))
      .agg(count(lit(1)).as("n_lines"),
           coalesce(sum(discPrice), lit(java.math.BigDecimal.ZERO))
             .cast("double").as("revenue"))
  }

  /** Dominant suppliers (TPC-H Q20 shape): suppliers shipping more than
    * 2× the average supplier share of a multi-supplier part's total
    * quantity — Q20's excess-availability semi-join, with the share cut
    * as an integer cross-multiplication (qty·n_supp > 2·total).
    *
    * Scale shape: one partial-agg groupBy on (part, supp) — the only
    * lineitem scan; the per-part totals are UNORDERED windows (no sort)
    * over the suppliers-per-part groups — dimension-bounded — instead of
    * an aggregate self-join-back that would re-scan lineitem; the
    * supplier⨝nation attach broadcasts; final rollup is supplier-sized.
    *
    * r18: aggregate and window share ONE exchange — the 3-column scan
    * repartitions by l_partkey before the groupBy (hash(l_partkey)
    * clusters the (part, supp) grouping key as a prefix), so the
    * per-part window adds no second shuffle (guide §2.4); nearly every
    * line is a distinct (part, supp) pair at this key density, so the
    * lost partial aggregation was not collapsing anything. */
  def dominantSuppliersOf(lineitem: DataFrame, supplier: DataFrame,
                          nation: DataFrame): DataFrame = {
    val sp = lineitem.select("l_partkey", "l_suppkey", "l_quantity")
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
    val supp = supplier.select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
    val byPart = org.apache.spark.sql.expressions.Window
      .partitionBy("l_partkey")
    sp.withColumn("total_qty", sum("qty").over(byPart))
      .withColumn("n_supp", count(lit(1)).over(byPart))
      .where(col("qty") * col("n_supp") > lit(2L) * col("total_qty") &&
             col("n_supp") >= 2)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name", "n_name")
      .agg(count(lit(1)).as("n_dominant_parts"))
  }

  /** Sole-late supplier (TPC-H Q21 shape): per supplier, the count of
    * multi-supplier orders where THAT supplier shipped later than
    * `lateDays` after the order date and no other supplier did — Q21's
    * exists/not-exists pair, folded into per-(order, supplier) lateness
    * flags plus a per-order (n_supp, n_late) rollup; `is_late = 1 AND
    * n_supp ≥ 2 AND n_late = 1` is exactly exists(other) ∧
    * ¬exists(other late).
    *
    * Scale shape: the orders date attaches by equi-join; the
    * per-(order, supplier) lateness flags are one partial-agg groupBy —
    * the only lineitem scan; the per-order (n_supp, n_late) rollup is an
    * UNORDERED window (no sort) over the suppliers-per-order groups —
    * basket-bounded — instead of an aggregate self-join-back that would
    * re-run the join; supplier⨝nation broadcasts at the end.
    *
    * r18: the aggregate and the window share ONE exchange — the narrow
    * (orderkey, suppkey, late) row repartitions by l_orderkey BEFORE the
    * groupBy, which clusters (l_orderkey, l_suppkey) as a prefix, so the
    * per-order window reuses the partitioning instead of adding a second
    * fact-sized shuffle (guide §2.4). Partial aggregation would have
    * saved almost nothing here (nearly every lineitem row is a distinct
    * (order, supplier) pair), so shuffling pre-agg rows costs ~the same
    * bytes and drops a whole exchange. */
  def lateOnlySupplierOf(lineitem: DataFrame, orders: DataFrame,
                         supplier: DataFrame, nation: DataFrame,
                         lateDays: Int = 365): DataFrame = {
    val ord = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(orders.select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        when(datediff(to_date(col("l_shipdate")),
                      to_date(col("o_orderdate"))) > lateDays, 1L)
          .otherwise(0L).as("late"))
      .repartition(col("l_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("is_late"))
    val byOrder = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey")
    val supp = supplier.select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
    ord.withColumn("n_supp", count(lit(1)).over(byOrder))
      .withColumn("n_late", sum("is_late").over(byOrder))
      .where(col("is_late") === 1L && col("n_supp") >= 2 &&
             col("n_late") === 1L)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name", "n_name")
      .agg(count(lit(1)).as("numwait"))
  }
}
