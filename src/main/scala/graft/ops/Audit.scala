package graft.ops

import graft.etl.Feeds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Referential-integrity audit — the load-validation step of a warehouse
  * pipeline: for each declared FK edge, how many child keys (and rows)
  * have no parent.
  *
  * Scale: each edge is audited on DISTINCT child keys (one partial-agg
  * groupBy collapses the fact table to its key set BEFORE the join), then a
  * left join against the parent's key set — the join input is |keys|, not
  * |rows|. Parent key sets are dimension-sized → AQE broadcasts them; the
  * child key collapse is the only real shuffle per edge.
  */
object Audit {

  /** One audit row for child[key] → parent[pkey]. */
  def fkEdge(child: DataFrame, key: String,
             parent: DataFrame, pkey: String, name: String): DataFrame = {
    val keys = child.groupBy(col(key).as("k"))
      .agg(count(lit(1)).as("cnt"))
    val pkeys = parent.select(col(pkey).as("pk")).distinct()
    keys.join(pkeys, col("k") === col("pk"), "left_outer")
      .agg(sum(col("cnt")).as("n_child_rows"),
           count(lit(1)).as("n_child_keys"),
           count(when(col("pk").isNull, 1)).as("n_orphan_keys"),
           coalesce(sum(when(col("pk").isNull, col("cnt"))), lit(0L))
             .as("n_orphan_rows"))
      .select(lit(name).as("relation"), col("n_child_rows"),
              col("n_child_keys"), col("n_orphan_keys"), col("n_orphan_rows"))
  }

  /** Snapshot diff — the CDC readout between two versions of a dimension
    * (the "what changed since the last load" audit every warehouse refresh
    * wants before it overwrites): full-outer join on the business key,
    * classify each key as added / removed / changed, drop the unchanged
    * majority. Compared columns must be non-nullable (dimension attributes
    * here are) — `=!=` is null-poisoning by design, so a nullable column
    * would need an explicit null-safe compare.
    *
    * Scale shape: ONE co-partitioned full-outer join on the key — both
    * sides are dimension-sized snapshots, already collapsed upstream; the
    * unchanged-row drop happens in the join's output filter, so nothing
    * fact-sized ever materializes. */
  def snapshotDiffOf(oldSnap: DataFrame, newSnap: DataFrame,
                     key: String, cols: Seq[String]): DataFrame = {
    val o = cols.foldLeft(oldSnap.select((key +: cols).map(col): _*)) {
      (df, c) => df.withColumnRenamed(c, s"old_$c")
    }.withColumnRenamed(key, "k_old")
    val n = cols.foldLeft(newSnap.select((key +: cols).map(col): _*)) {
      (df, c) => df.withColumnRenamed(c, s"new_$c")
    }.withColumnRenamed(key, "k_new")
    val changed = cols.map(c => col(s"old_$c") =!= col(s"new_$c"))
      .reduce(_ || _)
    o.join(n, col("k_old") === col("k_new"), "full_outer")
      .withColumn("change_type",
        when(col("k_old").isNull, "added")
          .when(col("k_new").isNull, "removed")
          .when(changed, "changed"))
      .where(col("change_type").isNotNull)
      .select(coalesce(col("k_old"), col("k_new")).as(key) +:
        col("change_type") +:
        cols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Data-quality profile — per-column row/null/distinct counts, the
    * first thing a load validation (or a dataset card) reports.
    *
    * Scale shape (r19): a UNION of per-column single-distinct aggregates —
    * each branch scans exactly ONE column (columnar pruning makes the six
    * branches read the same total bytes as the old single six-column
    * scan), partial-aggregates to that column's distinct values, and
    * emits one row. The previous form was the textbook n-countDistinct
    * Expand plan (one scan expanded 7x with 7-column partial-agg keys);
    * measured 2.5x slower at sf0.1 than the union (1.2 s -> 0.5 s warm,
    * OPTIMIZATION_r19.md) — the expand's row multiplication and wide
    * null-padded grouping keys cost more than it saves in scans, and at
    * cluster scale the branches also shuffle narrow (value, counts) rows
    * instead of 14-column expand output. countDistinct ignores NULLs (the
    * oracle's count(DISTINCT c) semantics). */
  def dqProfileOf(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.select(col(c))
        .agg(count(lit(1)).as("n_rows"),
             sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
             countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
                col("n_distinct"))
    }.reduce(_ unionAll _)

  /** Query form: the d_customer snapshot built from order HISTORY vs the
    * one the full feed (history ∪ increment) would build — surrogate ids
    * excluded (they are load-order artifacts, not business attributes). */
  def customerSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.etl.Pipeline.of(spark, dir)
    snapshotDiffOf(
      graft.etl.Dims.dCustomer(p.uol).drop("id"),
      graft.etl.Dims.dCustomer(p.uolV2).drop("id"),
      "customer_id", Seq("first_name", "last_name", "city_id"))
  }

  /** Join-key skew report — per declared join key: key count, row count,
    * the heaviest key's row count and the max/avg skew ratio. This is the
    * number that decides whether a join needs salting BEFORE the job runs
    * (the salted-agg queries exist because of exactly this readout); a
    * skew_ratio near 1 means uniform keys, 100× means one hot key owns the
    * stage. One partial-agg groupBy per key column collapses the table to
    * its key histogram; the rollup over it is a driver-sized aggregate.
    * skew_ratio = max·n_keys/n_rows — exact integers into one double
    * expression, tree mirrored in the oracle. */
  def skewReportOf(df: DataFrame, key: String, name: String): DataFrame =
    df.groupBy(col(key).as("k")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_keys"), sum("n").as("n_rows"),
           max("n").as("max_rows"))
      .select(lit(name).as("relation"), col("n_keys"), col("n_rows"),
        col("max_rows"),
        (col("max_rows").cast("double") * col("n_keys").cast("double") /
          col("n_rows").cast("double")).as("skew_ratio"))

  /** The schema's join keys as one skew table. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    def t(n: String) = Feeds.table(spark, dir, n)
    skewReportOf(t("lineitem"), "l_partkey", "lineitem.l_partkey")
      .unionAll(skewReportOf(t("lineitem"), "l_suppkey",
        "lineitem.l_suppkey"))
      .unionAll(skewReportOf(t("lineitem"), "l_orderkey",
        "lineitem.l_orderkey"))
      .unionAll(skewReportOf(t("orders"), "o_custkey", "orders.o_custkey"))
  }

  /** The schema's FK edges (lineitem→orders/part/supplier, orders→customer)
    * as one audit table. A clean load shows zero orphans everywhere — the
    * oracle checks the counts, not just emptiness. */
  def fkAudit(spark: SparkSession, dir: String): DataFrame = {
    def t(n: String) = Feeds.table(spark, dir, n)
    fkEdge(t("lineitem"), "l_orderkey", t("orders"), "o_orderkey",
           "lineitem.l_orderkey->orders.o_orderkey")
      .unionAll(fkEdge(t("lineitem"), "l_partkey", t("part"), "p_partkey",
                       "lineitem.l_partkey->part.p_partkey"))
      .unionAll(fkEdge(t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey",
                       "lineitem.l_suppkey->supplier.s_suppkey"))
      .unionAll(fkEdge(t("orders"), "o_custkey", t("customer"), "c_custkey",
                       "orders.o_custkey->customer.c_custkey"))
  }
}
