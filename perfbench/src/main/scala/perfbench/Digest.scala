package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, lit, sum, xxhash64}

/** Order-independent digest of a DataFrame's full result: the row count and
  * the sum of a 64-bit hash of each row, rendered as `rows:sum`. Every
  * column is rendered as its string cast (so arrays, maps and structs hash
  * too) with an explicit null marker, and columns are taken by position, so
  * results with duplicate column names digest as well. */
object Digest {
  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = concat_ws("\u0001", named.columns.toIndexedSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000null"))): _*)
    val r = named.select(xxhash64(row).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$total"
  }

  /** Digests of several frames, computed as concurrent Spark jobs. */
  def all(frames: Seq[(String, DataFrame)]): Seq[(String, String)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(frames) { case (k, df) =>
      Future(k -> of(df)) }, Duration.Inf)
    finally pool.shutdown()
  }
}
