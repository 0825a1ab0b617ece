package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Dense surrogate-id assignment — the Spark-native replacement for the
  * reference's PostgreSQL sequences (`nextval('date_id_seq')` etc.,
  * /root/reference/src/dags/sql/update_mart_d_tables.sql:1-2,20-21,26-27 and
  * update_mart_f_table.sql:2-3). See SURVEY.md §2.1 S15 and §7.4 H1.
  *
  * PG sequences hand out dense monotone ids in an unspecified order; we pin a
  * documented deterministic order (the caller's `sortCols`) so output is
  * hash-stable, and continue across incremental batches with `offset`
  * (= previous `max(id)`), exactly as the live sequences do in the reference.
  *
  * Scale design: a `row_number()` over a global `Window.orderBy` collapses to
  * a single partition — fine for a dimension, fatal for a 100 TB fact. This
  * implementation is the two-phase variant: range-repartition on the sort key
  * (sampled range boundaries → globally ordered partitions), sort within each
  * partition, then `zipWithIndex` (one lightweight count job to compute
  * per-partition offsets, no data movement). Cost: one extra pass; no
  * single-node bottleneck at any scale.
  */
object Ids {

  /** Prepend a dense 1-based id column assigned in `sortCols` order.
    * `sortCols` must form a unique key for the assignment to be
    * deterministic. */
  def dense(df: DataFrame, sortCols: Seq[String], idCol: String,
            offset: Long = 0L): DataFrame = {
    val cols = sortCols.map(df.col)
    // Persisted: zipWithIndex runs a light counting job before the main
    // pass — without the cache the whole upstream plan would execute twice.
    // Registry-owned, or each call would leak one persisted FACT-SIZED
    // frame for the JVM lifetime (at the 8× scale probe the previous
    // pass's sorted facts evicted the current pass's staging cache). Ids
    // sits below the dir layer: inside a grain build (the Pipeline's dims
    // and facts) the sort is released with that grain, elsewhere at
    // session teardown.
    val sorted = Memo.pin(
      df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*))
    val schema = StructType(
      StructField(idCol, LongType, nullable = false) +: sorted.schema.fields)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq((i + 1L + offset) +: r.toSeq)
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
