package graft.ops

import graft.expr.ZOrder2
import graft.sources.SourceReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-side data layout for multi-dimensional file skipping (the
  * `OPTIMIZE ... ZORDER BY` capability, engine-side).
  *
  * At 100 TB, scan cost is dominated by how many files a predicate can
  * skip via parquet min/max footers. A Z-order layout makes files cover
  * small rectangles in BOTH clustered dimensions — see [[graft.expr.ZOrder2]].
  */
object Layout {

  /** Morton keys for the orders table: customer × order-day. Both
    * dimensions are folded into 16-bit lattice coordinates first (modulo —
    * deterministic and oracle-reproducible; production layouts would
    * range-bucket instead to preserve locality of the full domain). */
  def orderZKeys(spark: SparkSession, dir: String): DataFrame = {
    val o = SourceReader.table(spark, dir, "orders")
    o.select(
      col("o_orderkey"),
      (col("o_custkey") % 65536).as("xk"),
      (datediff(col("o_orderdate").cast("date"),
                to_date(lit("1992-01-01"))).cast("long") % 65536).as("yk"))
      .withColumn("zval", ZOrder2(col("xk"), col("yk")))
  }

  /** Cluster a frame into `nBuckets` contiguous Z-ranges (what a writer
    * would map to output files): range-repartition on the Morton key, so
    * each partition owns a compact curve segment ≈ a small (x, y)
    * rectangle. */
  def zorderBy(df: DataFrame, x: String, y: String,
               nBuckets: Int): DataFrame =
    df.withColumn("__z", ZOrder2(col(x), col(y)))
      .repartitionByRange(nBuckets, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")

  /** Layout quality metric for a spec: total min/max bounding-box area over
    * the frame's current partitioning — the proxy for "how much can a
    * 2-dim predicate skip". Lower is better. */
  def bboxArea(df: DataFrame, x: String, y: String): Double = {
    val withPid = df.withColumn("__pid", spark_partition_id())
    withPid.groupBy("__pid")
      .agg((max(col(x)) - min(col(x))).as("dx"),
           (max(col(y)) - min(col(y))).as("dy"))
      .agg(sum(col("dx").cast("double") * col("dy").cast("double")))
      .collect()(0).getDouble(0)
  }

  /** Partition-layout planner card: per source, the document count, total
    * text bytes, mean row bytes, and the file count / rows-per-file a
    * 128 MiB-target writer should use — the numbers that size
    * `spark.sql.files.maxPartitionBytes` / `maxRecordsPerFile` before a
    * big write instead of after a small-files incident. All exact
    * integer arithmetic (ceil via (a + t - 1) DIV t).
    *
    * Scale shape: map-side byte counters fused into the scan, one
    * partial-agg groupBy on the |sources| key. */
  def partitionPlannerOf(documents: DataFrame,
                         targetBytes: Long = 128L * 1024 * 1024)
      : DataFrame =
    documents
      .select(col("source"),
              octet_length(col("text")).cast("long").as("bytes"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("bytes").as("sum_bytes"))
      .select(col("source"), col("n_docs"), col("sum_bytes"),
        expr("CAST(sum_bytes DIV n_docs AS BIGINT)").as("avg_row_bytes"),
        expr(s"CAST((sum_bytes + ${targetBytes - 1}) DIV $targetBytes " +
          "AS BIGINT)").as("n_files_128mb"),
        expr(s"CAST($targetBytes DIV greatest(sum_bytes DIV n_docs, 1) " +
          "AS BIGINT)").as("rows_per_file"))

}
