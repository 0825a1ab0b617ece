package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

/** The library's one memo registry: every in-session grain (the staging
  * frames of [[graft.etl.Pipeline]], the shared dedup/text/vector/graph/
  * curation grains of the operator objects) and every persisted frame
  * that backs one lives in a single map keyed by (session, sf-dir, name).
  * `name` is `<module>.<grain>` plus the grain's parameters
  * (`dedup.pairs/256`, `vectors.km-cents/5`), so two dials never alias.
  *
  *  - [[grain]] memoizes a value: get, then build, then `putIfAbsent`.
  *    Builds nest (the sampled k-means centroids build their sample grain,
  *    the verified clusters build the verified-Jaccard grain), which is
  *    why this is never `computeIfAbsent` — a nested `computeIfAbsent` on
  *    one map throws "Recursive update".
  *  - [[track]] registers a persisted or checkpointed frame that has no
  *    key of its own (a dense-id sort, a CC loop's final round). Inside a
  *    build it belongs to that build's grain, outside to (session, dir),
  *    once per plan.
  *  - [[invalidate]] drops one dir's entries, [[invalidateAll]] a whole
  *    session's.
  *
  * The storage policy is [[graft.Memo]]'s; everything it stores for the
  * registry is released here. Every release follows one rule — a
  * frame's cache entry (`unpersist(false)`) and the blocks behind its
  * checkpoint leaves ([[graft.Memo.release]]) —
  * except storage some remaining entry still reaches.
  *
  * STALE-READ CONTRACT: nothing is invalidated automatically. A caller
  * that rewrites the parquet under `dir` within a session must call
  * [[invalidate]] first and re-fetch its frames afterwards; a released
  * checkpoint has no lineage to recompute from.
  */
object Caches {

  private final case class Key(spark: SparkSession, dir: String,
                               name: String)

  /** A memoized value and the frames its build tracked. */
  private final case class Entry(value: AnyRef, tracked: List[Dataset[_]]) {
    def frames: List[Dataset[_]] = value match {
      case df: Dataset[_] => df :: tracked
      case _ => tracked
    }
  }

  private val entries = new ConcurrentHashMap[Key, Entry]
  private val trackSeq = new AtomicLong
  /** Frames tracked by the builds running on this thread, innermost
    * build first. */
  private val building =
    ThreadLocal.withInitial[List[List[Dataset[_]]]](() => Nil)

  /** The value memoized under (spark, dir, name), built on first use. Two
    * concurrent first calls may both build; one wins the `putIfAbsent`,
    * both get the winner, and the loser's storage is released at once. */
  def grain[T <: AnyRef](spark: SparkSession, dir: String, name: String)
                        (build: => T): T = {
    val key = Key(spark, dir, name)
    val hit = entries.get(key)
    if (hit != null) return hit.value.asInstanceOf[T]
    val outer = building.get
    building.set(Nil :: outer)
    def owned(): List[Dataset[_]] = {
      val frames = building.get.head
      building.set(outer)
      frames
    }
    val built =
      try build
      catch { case e: Throwable =>
        // a failed build's frames stay reclaimable at teardown
        owned().foreach(track(spark, dir, _))
        throw e
      }
    val entry = Entry(built, owned())
    val prev = entries.putIfAbsent(key, entry)
    if (prev == null) built
    else { release(Seq(entry)); prev.value.asInstanceOf[T] }
  }

  /** Register `df`, already persisted or checkpointed, for release: with
    * the grain whose build is running on this thread, else under (spark,
    * dir). Callers below the dir layer pass `""`; outside a build their
    * frames are released by [[invalidateAll]] only. Outside a build, a
    * plan that an entry under (spark, dir) already holds adds no entry:
    * release is by plan, so that entry releases this frame's storage
    * too, and a query called again does not grow the registry. */
  def track[T](spark: SparkSession, dir: String,
               df: Dataset[T]): Dataset[T] = {
    building.get match {
      case frames :: outer => building.set((df :: frames) :: outer)
      case Nil => synchronized {
        val plan = df.queryExecution.analyzed
        val known = entries.asScala.exists { case (k, e) =>
          (k.spark eq spark) && k.dir == dir &&
            e.frames.exists(_.queryExecution.analyzed.sameResult(plan))
        }
        if (!known)
          entries.put(Key(spark, dir, s"track#${trackSeq.incrementAndGet()}"),
                      Entry(df, Nil))
      }
    }
    df
  }

  /** Drop and release every entry `spark` holds for `dir` — REQUIRED
    * before re-reading a dir whose files changed. Other dirs' and other
    * sessions' entries are untouched. */
  def invalidate(spark: SparkSession, dir: String): Unit =
    drop(k => (k.spark eq spark) && k.dir == dir)

  /** Drop and release every entry `spark` holds, whatever dir it was
    * built from — the session teardown a long-lived multi-session JVM
    * must call when it retires a session. Idempotent. */
  def invalidateAll(spark: SparkSession): Unit = drop(_.spark eq spark)

  /** Entries held for `spark` whose name starts with `prefix` (spec
    * hook). */
  private[graft] def size(spark: SparkSession, prefix: String = ""): Int =
    entries.keySet.asScala.count(k =>
      (k.spark eq spark) && k.name.startsWith(prefix))

  private def drop(hit: Key => Boolean): Unit =
    release(entries.keySet.asScala.filter(hit).toList
      .flatMap(k => Option(entries.remove(k))))

  /** Release the storage of `gone`'s frames that no remaining entry
    * reaches: a shared upstream grain's checkpoint leaf, or a cache entry
    * that an identical remaining plan shares, stays. */
  private def release(gone: Seq[Entry]): Unit = {
    val frames = gone.flatMap(_.frames)
    if (frames.isEmpty) return // plain values (schemas) hold no storage
    val live = entries.values.asScala.toList.flatMap(_.frames)
    val livePlans = live.map(_.queryExecution.analyzed)
    val liveRdds = live.flatMap(Memo.checkpointRdds).map(_.id).toSet
    frames.foreach { df =>
      val plan = df.queryExecution.analyzed
      if (!livePlans.exists(_.sameResult(plan))) df.unpersist(false)
      Memo.release(df, liveRdds)
    }
  }
}
