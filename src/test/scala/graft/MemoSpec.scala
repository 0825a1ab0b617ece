package graft

import org.apache.spark.sql.execution.LogicalRDD

/** The deployment-mode lineage-truncation switch (r19): `local` must stay
  * byte-for-byte the old `localCheckpoint(true)` behavior (the bench
  * contract), `reliable` must produce the same rows through a reliable
  * checkpoint (the cluster stance — survives executor loss), and BOTH must
  * truncate the consumer-visible plan to a LogicalRDD leaf (the whole
  * point: Catalyst re-analysis of nested grain lineages was the r18 heavy
  * tail). */
class MemoSpec extends SparkSpec {

  private def base = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .groupBy(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit(7L)).as("k"))
      .count()
  }

  private def leafIsRdd(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case _: LogicalRDD => true
      case _ => false
    }

  test("local mode (default) truncates to a LogicalRDD leaf, rows intact") {
    assert(Memo.mode(spark) == "local")
    val cp = Memo.truncate(base)
    assert(leafIsRdd(cp))
    assert(cp.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === base.collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
  }

  test("reliable mode checkpoints to the checkpoint dir, rows identical") {
    spark.conf.set("spark.graft.memo.mode", "reliable")
    try {
      val cp = Memo.truncate(base)
      assert(leafIsRdd(cp))
      // the backing RDD is a reliable checkpoint: it survives block loss
      // because it is FILE-backed, which localCheckpoint's is not
      assert(cp.queryExecution.analyzed
        .asInstanceOf[LogicalRDD].rdd.getCheckpointFile.isDefined ||
        spark.sparkContext.getCheckpointDir.isDefined)
      assert(cp.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
        === base.collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
      // release path is a safe no-op on a reliable checkpoint
      Memo.release(cp)
    } finally spark.conf.unset("spark.graft.memo.mode")
  }

  test("unknown mode is rejected loudly, not silently local") {
    spark.conf.set("spark.graft.memo.mode", "bogus")
    try intercept[IllegalArgumentException](Memo.truncate(base))
    finally spark.conf.unset("spark.graft.memo.mode")
  }
}
