package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one storage policy ([[Memo]]). The deployment-mode truncation
  * switch: `local` must stay byte-for-byte the old `localCheckpoint(true)`
  * behavior (the bench contract), `reliable` must produce the same rows
  * through a reliable checkpoint in the context's checkpoint dir (the
  * cluster stance — survives executor loss), and BOTH must truncate the
  * consumer-visible plan to a LogicalRDD leaf (Catalyst re-analysis of
  * nested grain lineages was the r18 heavy tail). And the other forms'
  * ownership: a scoped persist ends with its call, a pinned one with its
  * registry entry. */
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
    withReliableMemo {
      val cp = Memo.truncate(base)
      assert(leafIsRdd(cp))
      // the backing RDD is a reliable checkpoint: it survives block loss
      // because it is FILE-backed, which localCheckpoint's is not
      val file = cp.queryExecution.analyzed
        .asInstanceOf[LogicalRDD].rdd.getCheckpointFile
      val ckptDir = spark.sparkContext.getCheckpointDir
      assert(file.exists(f => ckptDir.exists(f.startsWith)), (file, ckptDir))
      assert(cp.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
        === base.collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
      // release path is a safe no-op on a reliable checkpoint
      Memo.release(cp)
    }
  }

  test("a scoped persist lasts the call, also when it throws, and leaves " +
       "a frame stored by another owner stored") {
    val (mine, theirs) = (base, base.where("k > 2").cache())
    try {
      intercept[IllegalStateException](Memo.scoped { hold =>
        assert(hold(mine).storageLevel != StorageLevel.NONE)
        hold(theirs).count()
        throw new IllegalStateException("mid-call failure")
      })
      assert(mine.storageLevel == StorageLevel.NONE)
      assert(theirs.storageLevel != StorageLevel.NONE)
    } finally theirs.unpersist()
  }

  test("stage truncates and persists; pin persists and is released by " +
       "the registry") {
    val staged = Memo.stage(base)
    assert(leafIsRdd(staged) && staged.storageLevel != StorageLevel.NONE)
    Memo.release(staged)
    staged.unpersist()
    val d = "/spec/memo-pin"
    val pinned = Memo.pin(base.where("k < 3"), d)
    assert(pinned.storageLevel != StorageLevel.NONE)
    Caches.invalidate(spark, d)
    assert(pinned.storageLevel == StorageLevel.NONE)
  }

  test("unknown mode is rejected loudly, not silently local") {
    spark.conf.set("spark.graft.memo.mode", "bogus")
    try intercept[IllegalArgumentException](Memo.truncate(base))
    finally spark.conf.unset("spark.graft.memo.mode")
  }
}
