package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import org.apache.spark.sql.SparkSession
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

  test("reliable mode's fallback checkpoint dir is deleted when its " +
       "context stops") {
    // one SparkContext per JVM, and this suite's has a checkpoint dir:
    // the fallback runs in a child JVM whose temp root is this test's
    val tmp = tempDir("memo_fallback")
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => Seq("-Xmx", "-Djava.io.tmpdir", "-agentlib",
                          "-javaagent").exists(a.startsWith))
    val (out, err) = (new StringBuilder, new StringBuilder)
    val exit = Process(Seq(s"${sys.props("java.home")}/bin/java") ++ jvm ++
      Seq("-Xmx512m", s"-Djava.io.tmpdir=$tmp",
          "-cp", sys.props("java.class.path"), "graft.MemoFallbackMain"))
      .!(ProcessLogger(l => out.append(l).append('\n'),
                       l => err.append(l).append('\n')))
    assert(exit == 0, err.takeRight(4000).toString)
    val used = out.toString.linesIterator.collectFirst {
      case l if l.startsWith("ckpt=") => l.stripPrefix("ckpt=")
    }
    assert(used.exists(_.contains(tmp)), out)
    val left = new java.io.File(tmp).list().filter(_.startsWith("graft_memo_ckpt"))
    assert(left.isEmpty, left.mkString(", "))
  }
}

/** The child JVM of the fallback-dir test: one reliable truncate on a
  * context with no checkpoint dir, then a stop. */
object MemoFallbackMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.conf.set("spark.graft.memo.mode", "reliable")
    Memo.truncate(spark.range(10).toDF()).collect()
    println("ckpt=" + spark.sparkContext.getCheckpointDir.getOrElse(""))
    spark.stop()
  }
}
