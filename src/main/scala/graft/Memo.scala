package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Deployment-mode lineage truncation for the session memo grains.
  *
  * Most grains in the memo registry ([[graft.Caches]]: Pipeline staging,
  * Dedup bands/runs, TextOps shingles/tf/stats, Basket graph grains,
  * Vectors serving grains, Corpus curation grains, the CC-loop round
  * frames) truncate their frame's logical plan eagerly — Catalyst
  * re-analyzing a multi-hundred-node persisted lineage per consumer action
  * was the r18 heavy tail (guide
  * §3.3/§7.3). HOW the truncation materializes is a deployment decision:
  *
  *  - `local` (default): eager `localCheckpoint` — blocks live in executor
  *    storage with NO lineage to recompute. Fastest, and exactly right for
  *    `local[n]` (executor == driver == the process; if it dies, the whole
  *    run dies anyway). WRONG as a cluster stance at scale: one lost
  *    executor kills every consumer of the grain.
  *  - `reliable`: eager reliable `checkpoint` — blocks written to the
  *    checkpoint directory (`spark.graft.memo.checkpointDir`, or an
  *    existing `sparkContext.checkpointDir`, or a temp dir). Survives
  *    executor loss; the cluster stance for fact-sized grains, which model
  *    materialized staging tables in production anyway (the
  *    [[graft.etl.Catchup.warehouseMaterializer]] argument).
  *
  * Mode resolution: session conf `spark.graft.memo.mode` first (explicit
  * per-session), env `SPARK_GRAFT_MEMO_MODE` second (deployment default),
  * else `local`. The bench/driver contract is unaffected — the default
  * keeps the r17/r18 behavior bit-for-bit, so cross-round numbers stay
  * comparable; `reliable` is proven equivalent by MemoSpec and an
  * oracle run (OPTIMIZATION_r19.md).
  *
  * Release: [[release]], a safe no-op on a reliable checkpoint (its RDD
  * is not block-persisted; files go with the checkpoint dir, or with
  * `spark.cleaner.referenceTracking.cleanCheckpoints` on long-lived
  * clusters).
  */
object Memo {

  private[graft] def mode(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption("spark.graft.memo.mode")
      .orElse(sys.env.get("SPARK_GRAFT_MEMO_MODE"))
      .getOrElse("local")

  /** Eagerly materialize `df` and truncate its lineage to a LogicalRDD
    * leaf, by the deployment mode above. Row-identical to `df` in both
    * modes (it IS `df`'s result, stored). */
  def truncate[T](df: Dataset[T]): Dataset[T] = mode(df.sparkSession) match {
    case "reliable" =>
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val dir = df.sparkSession.conf
          .getOption("spark.graft.memo.checkpointDir")
          .getOrElse(java.nio.file.Files
            .createTempDirectory("graft_memo_ckpt").toString)
        sc.setCheckpointDir(dir)
      }
      df.checkpoint(eager = true)
    case other =>
      require(other == "local",
        s"spark.graft.memo.mode must be local|reliable, got '$other'")
      df.localCheckpoint(eager = true)
  }

  /** The RDDs behind the LogicalRDD leaves [[truncate]] left in `df`. */
  private[graft] def checkpointRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Unpersist the blocks behind `df`'s checkpoint leaves, which
    * `Dataset.unpersist` does not reach, except RDD ids in `keep`. */
  def release(df: Dataset[_], keep: Set[Int] = Set.empty): Unit =
    checkpointRdds(df).filterNot(r => keep(r.id)).foreach(_.unpersist(false))

  /** Postfix form — `df.truncated` reads like the `localCheckpoint(true)`
    * call sites it replaces (import graft.Memo.TruncateOps). */
  implicit class TruncateOps[T](private val ds: Dataset[T]) extends AnyVal {
    def truncated: Dataset[T] = truncate(ds)
  }
}
