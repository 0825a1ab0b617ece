package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The integer and ranking rules the DuckDB oracle pins across operator
  * families, each written once. Catalyst plans the composed query the same
  * way whether an expression is spelled inline or built here. */
package object ops {

  /** ⌊log₂ c⌋ as BIGINT for c ≥ 1: the length of the binary string minus
    * one. `bin` is exact integer bit arithmetic in both engines, with none
    * of libm-`ln`'s last-ulp ambiguity that could flip a bucket or a rank
    * at a rounding boundary. Sites whose input can be 0 clamp it with
    * `greatest(c, 1)` first. */
  def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")

  /** Integer surrogate of Shannon entropy·n per `key` over per-cell counts
    * `n`: n·⌊log₂ n⌋ − Σ_c n_c·⌊log₂ n_c⌋, where `total` names the
    * aggregate in `aggs` that is n = Σ_c n_c. 0 when one cell holds
    * everything, it grows with the spread; exact and bit-stable
    * cross-engine. The output keeps `key` and `aggs` in order, then
    * `entropy_surr`. */
  def entropySurrOf(cells: DataFrame, key: String, n: String, total: String)
                   (aggs: Column*): DataFrame = {
    val nlog2 = sum(col(n) * ilog2(col(n))).as("sum_nlog2")
    cells.groupBy(key).agg(aggs.head, aggs.tail :+ nlog2: _*)
      .withColumn("entropy_surr",
        col(total) * ilog2(col(total)) - col("sum_nlog2"))
      .drop("sum_nlog2")
  }

  /** The global top-k head: `orderBy(order).limit(k)` plans as TakeOrdered
    * (per-partition top-k plus a driver merge of k·P rows, no global sort),
    * and `rank` numbers the k rows 1..k by the same order, so the head and
    * its rank cannot disagree. The rank window runs over k rows only. */
  def topKHead(frame: DataFrame, k: Int, rank: String)
              (order: Column*): DataFrame =
    frame.orderBy(order: _*).limit(k).withColumn(rank,
      row_number().over(Window.orderBy(order: _*)).cast("long"))
}
