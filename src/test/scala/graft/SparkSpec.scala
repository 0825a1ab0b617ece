package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). The
  * session starts on first use, so a suite that never touches `spark`
  * starts none. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  private var tempDirs = List.empty[Path]

  /** A fresh directory under the system temp dir, deleted when the
    * running test ends, passed or failed. Every test's scratch directory
    * comes from here. */
  protected def tempDir(prefix: String): String = synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs ::= d
    d.toString
  }

  override protected def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally synchronized {
      tempDirs.foreach(Probe.deleteRecursively)
      tempDirs = Nil
    }

  /** `body` under the `reliable` memo mode, its checkpoints in a
    * temp dir of this test. */
  protected def withReliableMemo[T](body: => T): T = {
    spark.sparkContext.setCheckpointDir(tempDir("graft_memo_ckpt"))
    spark.conf.set("spark.graft.memo.mode", "reliable")
    try body finally spark.conf.unset("spark.graft.memo.mode")
  }

  /** `body`'s value and the Spark jobs it started. */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.SpecListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.SpecListenerBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
