package graft.streaming

import graft.Memo
import graft.Memo.TruncateOps
import graft.catalog.Warehouse
import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming form of the substring-tier ingest — the crawler
  * re-run as a stream: document files land in a watched directory, each
  * micro-batch is checked for duplicated spans against the
  * occurrence-capped positional shingle index
  * ([[graft.ops.Dedup.substringSpansIncOf]]), and the batch's shingles
  * are folded into the index for the NEXT batch (same batch ≡ stream
  * stance as [[IncrementStream]] — the check is a pure function of
  * (committed state, batch), so the streamed cycle equals the batch one).
  *
  * State layout — append-only artifacts plus ONE atomic commit point:
  *  - `ss_census` accrues (sh, occ_i) DELTAS — one row per (batch,
  *    shingle) — summed at read (a groupBy on the bucketed key, no
  *    Exchange). A shingle crossing the cap as batches accrue needs NO
  *    rewrite: the read-side combined sum excludes it from that point on.
  *  - `ss_index` accrues the batch's position rows, pre-filtered to
  *    shingles whose POST-batch combined count is still under the cap —
  *    an over-cap shingle can never come back under as the corpus grows,
  *    so the drop is lossless (the same argument as the batch
  *    [[graft.ops.Dedup.substringIndexOf]]).
  *  - every appended row is STAMPED with `(batch_id, attempt)`, and the
  *    manifest file `ss_commits` (written via the Warehouse temp + rename
  *    swap, atomic per-path on HDFS) lists the committed pairs. Reads
  *    semi-join the stamp against the manifest, so rows appended by a
  *    crashed attempt are invisible forever — the r16 verdict's
  *    mid-window-crash double-count (census delta appended, commit never
  *    reached, replay appends again) cannot corrupt counts: the replay's
  *    rows carry a FRESH attempt id and only that one is committed.
  *    Orphans are storage debt, dropped physically by [[compactState]].
  *
  * Replay safety: `foreachBatch` re-delivers a batch after a crash.
  *  - batch id ≤ the manifest's high-water mark ⇒ the batch fully
  *    committed, INCLUDING its results artifact (the sink runs before the
  *    commit) — the replay skips everything. Re-running the check would
  *    be wrong, not just wasteful: the index now contains the batch's own
  *    shingles, so the batch would match itself (r16 advice).
  *  - batch id > the mark ⇒ the first run crashed mid-window; the replay
  *    re-checks against the same committed pre-batch state (orphan rows
  *    invisible), rewrites the same results, appends under a new attempt
  *    and commits — converging to exactly the clean run's state
  *    (crash-injection-tested in SubstringIngestSpec via [[ingestBatch]]'s
  *    failpoints).
  */
object SubstringIngest {

  val Db = "dedup_stream"

  /** Committed ingest state: the live table generation (bumped by
    * [[compactState]]) plus the (batchId, attempt) pairs whose appended
    * rows are live. */
  final case class State(gen: Int, commits: Seq[(Long, String)]) {
    def hwm: Long = if (commits.isEmpty) -1L else commits.map(_._1).max
  }

  private def manifestPath(wh: Warehouse): String =
    s"${wh.rootDir}/$Db/ss_commits"

  /** Physical table of `base` at generation `gen` — generation 0 keeps
    * the bare name so a never-compacted deployment reads naturally. */
  private[streaming] def tableName(base: String, gen: Int): String =
    if (gen == 0) base else s"${base}_g$gen"

  def state(wh: Warehouse): State =
    wh.readSmallFile(manifestPath(wh)) match {
      case None => State(0, Nil)
      case Some(text) =>
        val lines = text.split('\n').map(_.trim).filter(_.nonEmpty)
        val commits = lines.tail.toSeq.map { l =>
          val Array(b, a) = l.split(":", 2)
          (b.toLong, a)
        }
        State(lines.head.stripPrefix("gen:").toInt, commits)
    }

  private def commitState(wh: Warehouse, st: State): Unit =
    wh.writeSmallFileAtomic(manifestPath(wh),
      (s"gen:${st.gen}" +: st.commits.map { case (b, a) => s"$b:$a" })
        .mkString("\n"))

  /** Highest committed batch id, -1 before the first commit. */
  def highWaterMark(wh: Warehouse): Long = state(wh).hwm

  /** Committed rows of a stamped artifact: the append-only table
    * semi-joined against the manifest's (batch_id, attempt) set. The
    * commits frame is one row per batch → broadcast, and a broadcast
    * semi-join preserves the streamed side's bucket layout on `sh`, so
    * the downstream check joins stay co-located (plan-asserted in
    * SubstringIngestSpec). */
  private def committedRows(wh: Warehouse, st: State,
                            base: String): DataFrame = {
    val t = wh.readTable(Db, tableName(base, st.gen))
    val commits = t.sparkSession.createDataFrame(st.commits)
      .toDF("batch_id", "attempt")
    t.join(broadcast(commits), Seq("batch_id", "attempt"), "left_semi")
      .drop("batch_id", "attempt")
  }

  // typed empty stand-ins for the pre-first-commit warehouse, where the
  // physical tables need not exist (r17 advice: the serving reads threw
  // table-not-found while ingestBody guarded — same schemas as the
  // stamped tables minus the stamp, i.e. what committedRows projects)
  private def emptyIndex(wh: Warehouse): DataFrame =
    wh.session.createDataFrame(
      wh.session.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, pos BIGINT, sh BINARY"))

  private def emptyCensus(wh: Warehouse): DataFrame =
    wh.session.createDataFrame(
      wh.session.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "sh BINARY, occ_i BIGINT"))

  /** Committed position index (doc_id, pos, sh) — the serving read.
    * Empty (typed) before the first commit. */
  def committedIndex(wh: Warehouse): DataFrame = {
    val st = state(wh)
    if (st.commits.isEmpty) emptyIndex(wh)
    else committedRows(wh, st, "ss_index")
  }

  /** Committed census summed to (sh, occ_i) — the serving read.
    * Empty (typed) before the first commit. */
  def committedCensus(wh: Warehouse): DataFrame = {
    val st = state(wh)
    if (st.commits.isEmpty) emptyCensus(wh)
    else committedRows(wh, st, "ss_census")
      .groupBy("sh").agg(sum("occ_i").as("occ_i"))
  }

  /** Deterministic crash injection for the spec: throws after the named
    * step, simulating a driver loss mid-window. */
  private def failAt(fp: String, point: String): Unit =
    if (fp == point)
      throw new IllegalStateException(s"injected crash: $point")

  /** Check `docs` against the committed index, hand the span rollup to
    * `sink` and the per-doc mask ranges to `maskSink` (both durable
    * BEFORE any state moves), then fold the batch's shingles in under a
    * fresh attempt id and commit the manifest. Returns None for a batch
    * at/under the high-water mark — a replay of a fully-committed batch,
    * whose results artifacts already exist and whose re-check would
    * self-match against its own indexed shingles. The fresh span rollup
    * equals a batch rebuild over (indexed ∪ batch) docs restricted to
    * pairs with a batch side, and the mask ranges equal the rebuild's
    * [[graft.ops.Dedup.spanMaskRangesOf]] restricted to batch docs
    * (spec-asserted) — both derive from ONE persisted run grain, so the
    * apply-step artifact costs a range-list-sized merge, not a second
    * match join. `timer` (probe hook) receives per-phase wall seconds:
    * "shingle" / "check" / "commit". */
  def ingestBatch(wh: Warehouse, docs: DataFrame, batchId: Long,
                  maxOcc: Int = 64, sink: DataFrame => Unit = _ => (),
                  maskSink: DataFrame => Unit = _ => (),
                  failpoint: String = "",
                  timer: (String, Double) => Unit = null): Option[DataFrame] = {
    val st = state(wh)
    if (batchId <= st.hwm) return None
    val t0 = System.nanoTime()
    // held for this batch only — released also on a mid-window crash
    Memo.scoped { hold =>
      val newPs = hold(TextOps.posShinglesOf(
        TextOps.withWords(TextOps.normalize(docs))))
      // when phase-timing, force the shingle materialization boundary so
      // "shingle" measures the scan+normalize+explode and "check" the joins
      if (timer != null) {
        newPs.count()
        timer("shingle", (System.nanoTime() - t0) / 1e9)
      }
      ingestBody(wh, st, newPs, batchId, maxOcc, sink, maskSink,
                 failpoint, timer)
    }
  }

  private def ingestBody(wh: Warehouse, st: State, newPs: DataFrame,
                         batchId: Long, maxOcc: Int,
                         sink: DataFrame => Unit,
                         maskSink: DataFrame => Unit,
                         failpoint: String,
                         timer: (String, Double) => Unit): Option[DataFrame] = {
    val newCensus = newPs.groupBy("sh").agg(count(lit(1)).as("occ_i"))
    val fresh = st.commits.isEmpty
    // empty-but-typed stand-ins keep the first batch on the same plan
    // (tables may EXIST pre-first-commit if a bootstrap attempt crashed —
    // the manifest, not table existence, decides what is readable)
    val index =
      if (fresh) newPs.where(lit(false))
      else committedRows(wh, st, "ss_index")
    val censusRead =
      if (fresh) newCensus.where(lit(false))
      else committedRows(wh, st, "ss_census")
        .groupBy("sh").agg(sum("occ_i").as("occ_i"))
    val tCheck = System.nanoTime()
    // ONE run grain feeds both per-batch artifacts (span rollup + mask
    // ranges) — held for the check so the match join runs once, not per
    // artifact
    val (spans, masks) = Memo.scoped { hold =>
      val runs = hold(Dedup.substringIncRunsOf(index, censusRead, newPs,
                                               maxOcc = maxOcc))
      // eager truncation, still REQUIRED despite the manifest filter:
      // uncommitted appends are invisible to a lazy re-evaluation (the
      // semi-join drops the new attempt), but once commitState runs the
      // manifest INCLUDES this batch — a caller evaluating the returned
      // frame after that would see the batch's own shingles in the index
      // and self-match. Materialize while the committed state is still
      // the pre-batch one.
      (Dedup.spansFromRuns(runs).truncated,
       Dedup.maskRangesIncFromRuns(runs, newPs.select("doc_id").distinct())
         .truncated)
    }
    if (timer != null) timer("check", (System.nanoTime() - tCheck) / 1e9)
    val tCommit = System.nanoTime()
    // results artifacts FIRST: once the manifest moves past this batch a
    // replay skips entirely, so everything the batch produces must be
    // durable before the commit
    sink(spans)
    maskSink(masks)
    failAt(failpoint, "after_results")
    val attempt = java.util.UUID.randomUUID().toString
    def stamp(df: DataFrame): DataFrame = df
      .withColumn("batch_id", lit(batchId))
      .withColumn("attempt", lit(attempt))
    // post-batch combined count per batch shingle: prior sum + delta.
    // LAZY read-after-append safety: keep is evaluated during the index
    // write, AFTER the census append — the scan does see the new census
    // files, but their rows carry this batch's not-yet-committed attempt
    // and the manifest semi-join (bound to the pre-batch `st`) drops
    // them, so admissibility is computed against exactly the committed
    // pre-batch census (the r16 eager-checkpoint hazard, closed
    // structurally by the manifest filter).
    val keep = newCensus.select(col("sh"), col("occ_i").as("occ_n"))
      .join(censusRead, Seq("sh"), "left")
      .where(col("occ_n") + coalesce(col("occ_i"), lit(0L))
               <= lit(maxOcc.toLong))
      .select("sh")
    val censusT = tableName("ss_census", st.gen)
    val indexT = tableName("ss_index", st.gen)
    if (wh.exists(Db, censusT))
      wh.bucketedAppend(Db, censusT, stamp(newCensus), "sh", 16)
    else wh.bucketedOverwrite(Db, censusT, stamp(newCensus), "sh", 16)
    failAt(failpoint, "after_census")
    val idxRows = stamp(newPs.join(keep, Seq("sh"))
      .select("doc_id", "pos", "sh"))
    if (wh.exists(Db, indexT))
      wh.bucketedAppend(Db, indexT, idxRows, "sh", 16)
    else wh.bucketedOverwrite(Db, indexT, idxRows, "sh", 16)
    failAt(failpoint, "after_index")
    // the ONE commit point: manifest swap (temp + atomic rename)
    commitState(wh, State(st.gen, st.commits :+ (batchId -> attempt)))
    if (timer != null) timer("commit", (System.nanoTime() - tCommit) / 1e9)
    Some(spans)
  }

  /** Fold the committed state into a fresh table generation — the
    * maintenance pass that pays off the append-only design's storage
    * debt: census deltas consolidate to ONE row per shingle value
    * (over-cap values KEPT — they must stay blocked for new×new), index
    * positions of shingles whose committed total crossed the cap in a
    * LATER batch are dropped (admissibility would exclude them on every
    * future check anyway — dead weight, never wrong results), and
    * crashed attempts' orphan rows vanish (only committed rows are read).
    * Crash-safe at every point: the new generation is fully written
    * BEFORE the manifest swings (the same single commit point as the
    * ingest), and a crash before cleanup only leaves the previous
    * generation's files as garbage for the next compaction's sweep.
    * Future-batch results are provably unchanged: every read is a pure
    * function of (summed census, live-position set), both of which the
    * fold preserves (spec-asserted on a post-compaction batch). */
  def compactState(wh: Warehouse, maxOcc: Int = 64,
                   sweepAll: Boolean = false): Unit = {
    val st = state(wh)
    if (st.commits.isEmpty) return
    val gen2 = st.gen + 1
    val attempt = java.util.UUID.randomUUID().toString
    def stamp(df: DataFrame): DataFrame = df
      .withColumn("batch_id", lit(st.hwm))
      .withColumn("attempt", lit(attempt))
    Memo.scoped { hold =>
      val census = hold(committedRows(wh, st, "ss_census")
        .groupBy("sh").agg(sum("occ_i").as("occ_i")))
      val live = committedRows(wh, st, "ss_index")
        .join(census.where(col("occ_i") <= maxOcc.toLong).select("sh"),
              Seq("sh"))
        .select("doc_id", "pos", "sh")
      wh.bucketedOverwrite(Db, tableName("ss_census", gen2), stamp(census),
                           "sh", 16)
      wh.bucketedOverwrite(Db, tableName("ss_index", gen2), stamp(live),
                           "sh", 16)
      commitState(wh, State(gen2, Seq(st.hwm -> attempt)))
    }
    // the just-superseded generation is garbage now, plus one more back
    // to absorb a crash that died between the previous compaction's
    // commit and ITS sweep — older generations were swept long ago, so
    // re-attempting all of 0..N every time is O(lifetime compactions) of
    // pointless catalog checks (r17 advice). `sweepAll` is the recovery
    // escape hatch after repeated crash-in-sweep incidents.
    val floor = if (sweepAll) 0 else math.max(0, gen2 - 2)
    for (g <- floor until gen2; base <- Seq("ss_census", "ss_index"))
      wh.dropTable(Db, tableName(base, g))
  }

  /** Drain every document file currently in `watchDir` through the
    * ingest cycle and stop (the [[IncrementStream]] AvailableNow shape:
    * re-invoking with the same checkpoint picks up only new files). Each
    * batch's span rollup lands under `resultsDir` keyed by batch id and
    * its apply-step mask ranges under `resultsDir/masks`, both written
    * BEFORE the batch commits — a replay of a committed batch leaves the
    * artifacts untouched. With `compactEvery` > 0 a drain that ends with
    * at least that many committed batches folds the state into a fresh
    * generation ([[compactState]]) — the nightly maintenance slot. */
  def runIngestAvailableNow(spark: SparkSession, dir: String,
                            watchDir: String, checkpointDir: String,
                            wh: Warehouse, resultsDir: String,
                            compactEvery: Int = 0): Unit = {
    val schema = graft.etl.Feeds.table(spark, dir, "documents").schema
    val q = spark.readStream.schema(schema).parquet(watchDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestBatch(wh, batch, id,
          sink = spans => spans.write.mode("overwrite")
            .parquet(s"$resultsDir/batch_id=$id"),
          maskSink = masks => masks.write.mode("overwrite")
            .parquet(s"$resultsDir/masks/batch_id=$id"))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (compactEvery > 0 && state(wh).commits.size >= compactEvery)
      compactState(wh)
  }
}
