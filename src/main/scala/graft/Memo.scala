package graft

import java.nio.file.Files

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one storage policy: the only code in `src/main` that
  * persists or checkpoints a frame (StorageLintSpec keeps it so).
  *
  * OWNERSHIP. Every frame stored here has one owner that releases it:
  * [[graft.Caches]] (the grain being built on this thread, else the
  * session under a dir), or the call that stored it. A persisted frame is
  * a session-wide CacheManager entry until someone unpersists it, so a
  * persist without an owner is held until `clearCache`.
  *
  * FOUR FORMS, each site keeping the one it was measured with:
  *
  *  - [[truncate]] (`.truncated`): eager checkpoint, no persist. The
  *    caller's grain or loop owns the blocks ([[release]]).
  *  - [[stage]] (`.staged`): truncate, then persist the truncated frame.
  *    For the staging-sized grains (the Pipeline staging frames, Dedup
  *    bands/pairs/runs, TextOps stats/shingles/tf): the checkpoint flattens
  *    the plan, the persist on top serves a COLUMNAR in-memory scan (the
  *    warehouse materialize read row-RDD checkpoints ~1.7× slower than the
  *    columnar cache; with the persist alone the planning cost returns).
  *  - [[pin]]: persist, then [[graft.Caches.track]] — for a frame that a
  *    lazily returned result still reads. Inside a grain build it belongs
  *    to that grain, outside to (session, dir); a plan already tracked
  *    under that (session, dir) adds no entry, so repeated calls do not
  *    grow the registry.
  *  - [[scoped]]: persist for the length of one call — the body runs its
  *    actions over the held frames, which are unpersisted in a `finally`.
  *    A frame some other owner already stores is used, never unpersisted.
  *
  * WHY TRUNCATE. A persisted frame keeps its whole logical lineage inside
  * every consumer's plan. With ~80 ETL queries over the synthesized-feed
  * tree and graph grains nested five deep, Catalyst re-analyzing those
  * multi-hundred-node trees per action — not execution — was the warm
  * cost (4-5 s of planning for a 3-row join at sf0.1). An eager checkpoint
  * cuts each consumer's plan to a LogicalRDD leaf: the in-session
  * equivalent of the materialized staging table the reference keeps in
  * PostgreSQL. Frames whose callers rely on CacheManager's canonical
  * dedup of repeated registrations ([[pin]]) stay persists; checkpoints
  * are distinct RDDs per call and would not dedup.
  *
  * DURABILITY is a deployment mode, not a code path:
  *
  *  - `local` (default): eager `localCheckpoint` — blocks live in executor
  *    storage with no lineage to recompute. Exactly right for `local[n]`
  *    (executor == driver); on a cluster one lost executor kills every
  *    consumer of the grain.
  *  - `reliable`: eager reliable `checkpoint` into the context's checkpoint
  *    directory (Spark's own `spark.checkpoint.dir`, read at context
  *    start), else a temp dir deleted when the context stops.
  *    File-backed, constant-depth, and it survives executor loss: the
  *    cluster stance for fact-sized grains and long catchups
  *    ([[graft.etl.Catchup.applyAll]]).
  *
  * Mode resolution: session conf `spark.graft.memo.mode` first, env
  * `SPARK_GRAFT_MEMO_MODE` second, else `local`. Both modes are
  * row-identical (MemoSpec, and the oracle under `reliable`).
  *
  * Release: [[release]] frees checkpoint blocks, a safe no-op on a
  * reliable checkpoint (its files go with the checkpoint dir, or with
  * `spark.cleaner.referenceTracking.cleanCheckpoints` on long-lived
  * clusters).
  */
object Memo {

  private val Level = StorageLevel.MEMORY_AND_DISK

  private[graft] def mode(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption("spark.graft.memo.mode")
      .orElse(sys.env.get("SPARK_GRAFT_MEMO_MODE"))
      .getOrElse("local")

  /** Eagerly materialize `df` and truncate its lineage to a LogicalRDD
    * leaf, by the deployment mode above. Row-identical to `df` in both
    * modes (it IS `df`'s result, stored). */
  def truncate[T](df: Dataset[T]): Dataset[T] = mode(df.sparkSession) match {
    case "reliable" =>
      ensureCheckpointDir(df.sparkSession.sparkContext)
      df.checkpoint(eager = true)
    case other =>
      require(other == "local",
        s"spark.graft.memo.mode must be local|reliable, got '$other'")
      df.localCheckpoint(eager = true)
  }

  /** A context without a checkpoint dir gets a temp dir, deleted with
    * everything checkpointed into it when the context stops. */
  private def ensureCheckpointDir(sc: SparkContext): Unit = sc.synchronized {
    if (sc.getCheckpointDir.isEmpty) {
      val dir = Files.createTempDirectory("graft_memo_ckpt")
      sc.setCheckpointDir(dir.toString)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          Probe.deleteRecursively(dir)
      })
    }
  }

  /** [[truncate]], then persist the truncated frame (columnar reads). */
  def stage[T](df: Dataset[T]): Dataset[T] = {
    val cp = truncate(df)
    cp.persist(Level)
    cp
  }

  /** Persist `df` and register it with the memo registry under `dir`
    * (`""` below the dir layer), or with the grain being built. */
  def pin[T](df: Dataset[T], dir: String = ""): Dataset[T] =
    Caches.track(df.sparkSession, dir, df.persist(Level))

  /** Run `body` with a [[Scope]] whose held frames are unpersisted when
    * it returns or throws. */
  def scoped[R](body: Scope => R): R = {
    val scope = new Scope
    try body(scope) finally scope.close()
  }

  /** The frames one [[scoped]] call persisted. */
  final class Scope private[Memo] {
    private var held = List.empty[Dataset[_]]

    /** `df`, persisted until the scope ends unless already stored. */
    def apply[T](df: Dataset[T]): Dataset[T] = {
      if (df.storageLevel == StorageLevel.NONE) {
        df.persist(Level)
        held ::= df
      }
      df
    }

    private[Memo] def close(): Unit = held.foreach(_.unpersist(false))
  }

  /** The RDDs behind the LogicalRDD leaves [[truncate]] left in `df`. */
  private[graft] def checkpointRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Unpersist the blocks behind `df`'s checkpoint leaves, which
    * `Dataset.unpersist` does not reach, except RDD ids in `keep`. */
  def release(df: Dataset[_], keep: Set[Int] = Set.empty): Unit =
    checkpointRdds(df).filterNot(r => keep(r.id)).foreach(_.unpersist(false))

  /** Postfix forms: `df.truncated`, `df.staged`
    * (import graft.Memo.TruncateOps). */
  implicit class TruncateOps[T](private val ds: Dataset[T]) extends AnyVal {
    def truncated: Dataset[T] = truncate(ds)
    def staged: Dataset[T] = stage(ds)
  }
}
