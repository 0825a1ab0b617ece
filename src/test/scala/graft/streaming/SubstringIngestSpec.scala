package graft.streaming

import graft.SparkSpec
import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The substring-tier ingest as a stream: per-batch span checks against
  * the growing bucketed index equal the batch rebuild's restriction; the
  * manifest is the single atomic commit point, so a crash at ANY point
  * mid-window converges to the clean state on replay; and compaction
  * folds the append-only state without changing any future result.
  */
class SubstringIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def ps(docs: DataFrame): DataFrame =
    TextOps.posShinglesOf(TextOps.withWords(TextOps.normalize(docs)))

  private def freshWh() = new graft.catalog.Warehouse(spark,
    tempDir("graft_ssw"))

  private def collectSpans(df: DataFrame): Seq[(Long, Long, Long, Long, Long)] =
    df.as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq

  private def collectMasks(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("doc_id", "start_w", "end_w", "masked_words")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq

  test("serving reads before the first commit: empty, typed, no throw " +
       "(r17 advice: they used to fail on the missing tables)") {
    val wh = freshWh()
    assert(SubstringIngest.committedIndex(wh).count() == 0L)
    assert(SubstringIngest.committedCensus(wh).count() == 0L)
    assert(SubstringIngest.committedIndex(wh).columns.toSeq ==
      Seq("doc_id", "pos", "sh"))
    assert(SubstringIngest.committedCensus(wh).columns.toSeq ==
      Seq("sh", "occ_i"))
    // and they compose with a real check, same as the post-commit frames
    val probe = graft.etl.Feeds.table(spark, dir, "documents").limit(5)
    assert(Dedup.substringSpansIncOf(SubstringIngest.committedIndex(wh),
      SubstringIngest.committedCensus(wh), ps(probe)).count() == 0L)
  }

  test("streamed ingest: each batch's spans equal a fresh-index batch " +
       "check, which equals the rebuild restricted to the batch") {
    val watch = tempDir("graft_ssw")
    val ckpt = tempDir("graft_ssc")
    val results = tempDir("graft_ssr")
    val wh = freshWh()
    val docs = graft.etl.Feeds.table(spark, dir, "documents")
    val n = docs.agg(max("doc_id")).as[Long].head()
    val cuts = Seq(n / 3, 2 * n / 3) // 3 id-ranged batches, ascending
    def batch(i: Int): DataFrame = i match {
      case 0 => docs.where($"doc_id" <= cuts(0))
      case 1 => docs.where($"doc_id" > cuts(0) && $"doc_id" <= cuts(1))
      case 2 => docs.where($"doc_id" > cuts(1))
    }
    // drop one file per drain: three daily crawler deliveries
    def deliver(i: Int): Unit = {
      val tmp = tempDir("graft_ssd")
      batch(i).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, s"crawl_$i.parquet"))
    }
    for (i <- 0 to 2) {
      deliver(i)
      SubstringIngest.runIngestAvailableNow(spark, dir, watch, ckpt, wh,
                                            results)
    }
    assert(SubstringIngest.highWaterMark(wh) == 2L)
    // batch 2's streamed result vs a fresh batch-built index of docs 0-1
    val streamed = collectSpans(spark.read.parquet(s"$results/batch_id=2"))
    val idxPs = ps(batch(0).unionAll(batch(1)))
    val census = Dedup.substringCensusOf(idxPs)
    val fresh = collectSpans(Dedup.substringSpansIncOf(
        Dedup.substringIndexOf(idxPs, census), census, ps(batch(2))))
    assert(streamed == fresh && streamed.nonEmpty)
    // and the rebuild restriction: pairs of the full corpus whose high id
    // is in batch 2 (batches are ascending id ranges)
    val rebuild = collectSpans(Dedup.substringSpansOf(ps(docs))
      .where($"doc_b" > cuts(1)))
    assert(streamed == rebuild)
    // batch 1 the same way (guards the middle state, not just the last)
    val streamed1 = collectSpans(spark.read.parquet(s"$results/batch_id=1"))
    val rebuild01 = collectSpans(
      Dedup.substringSpansOf(ps(batch(0).unionAll(batch(1))))
        .where($"doc_b" > cuts(0)))
    assert(streamed1 == rebuild01)
    // the APPLY-step artifact: batch 2's streamed mask ranges equal the
    // incremental mask off a fresh index AND the full rebuild's ranges
    // restricted to batch-2 docs (same restriction proof as the spans)
    val streamedM = collectMasks(
      spark.read.parquet(s"$results/masks/batch_id=2"))
    val freshM = collectMasks(Dedup.spanMaskRangesIncOf(
      Dedup.substringIndexOf(idxPs, census), census, ps(batch(2))))
    assert(streamedM == freshM && streamedM.nonEmpty)
    val rebuildM = collectMasks(
      Dedup.spanMaskRangesOf(ps(docs)).where($"doc_id" > cuts(1)))
    assert(streamedM == rebuildM)
  }

  test("foreachBatch replay of a COMMITTED batch: skipped entirely — no " +
       "re-check (it would self-match), no state or results mutation") {
    val wh = freshWh()
    val docs = graft.etl.Feeds.table(spark, dir, "documents")
    val b0 = docs.where($"doc_id" % 2 === 0)
    val b1 = docs.where($"doc_id" % 2 === 1)
    assert(SubstringIngest.ingestBatch(wh, b0, batchId = 0L).isDefined)
    var sank = 0
    var masksSank = 0
    val r1 = SubstringIngest.ingestBatch(wh, b1, batchId = 1L,
      sink = _ => sank += 1, maskSink = _ => masksSank += 1)
    assert(r1.isDefined && sank == 1 && masksSank == 1)
    def state(): (Long, Long) = (
      SubstringIngest.committedCensus(wh).agg(sum("occ_i")).as[Long].head(),
      SubstringIngest.committedIndex(wh).count())
    val before = state()
    // crash-replay of batch 1: same docs, same id — already committed
    val replayed = SubstringIngest.ingestBatch(wh, b1, batchId = 1L,
      sink = _ => sank += 1, maskSink = _ => masksSank += 1)
    assert(replayed.isEmpty, "replay of a committed batch must be skipped")
    assert(sank == 1, "replay must not rewrite the results artifact")
    assert(masksSank == 1, "replay must not rewrite the mask artifact")
    assert(state() == before, "replay mutated the index state")
  }

  test("crash injection mid-window: a crash after the results write, the " +
       "census append, or the index append converges to the clean state " +
       "on replay — orphan rows stay invisible") {
    val docs = graft.etl.Feeds.table(spark, dir, "documents")
    val b0 = docs.where($"doc_id" % 3 === 0)
    val b1 = docs.where($"doc_id" % 3 === 1)
    val probe = docs.where($"doc_id" % 3 === 2) // never ingested: pure check
    def checkProbe(wh: graft.catalog.Warehouse) = collectSpans(
      Dedup.substringSpansIncOf(SubstringIngest.committedIndex(wh),
        SubstringIngest.committedCensus(wh), ps(probe)))
    // the clean twin: no crashes
    val whClean = freshWh()
    SubstringIngest.ingestBatch(whClean, b0, batchId = 0L)
    var masks1Clean: Seq[(Long, Long, Long, Long)] = Nil
    val spans1Clean = collectSpans(
      SubstringIngest.ingestBatch(whClean, b1, batchId = 1L,
        maskSink = m => masks1Clean = collectMasks(m)).get)
    val cleanCensus = SubstringIngest.committedCensus(whClean)
      .agg(sum("occ_i")).as[Long].head()
    val cleanIndex = SubstringIngest.committedIndex(whClean).count()
    val cleanProbe = checkProbe(whClean)
    for (fp <- Seq("after_results", "after_census", "after_index")) {
      val wh = freshWh()
      SubstringIngest.ingestBatch(wh, b0, batchId = 0L)
      val post0 = (SubstringIngest.committedCensus(wh)
        .agg(sum("occ_i")).as[Long].head(),
        SubstringIngest.committedIndex(wh).count())
      intercept[IllegalStateException] {
        SubstringIngest.ingestBatch(wh, b1, batchId = 1L, failpoint = fp)
      }
      // nothing committed: the manifest never moved, so reads still see
      // exactly the post-batch-0 state (appended orphans are invisible)
      assert(SubstringIngest.highWaterMark(wh) == 0L, fp)
      assert((SubstringIngest.committedCensus(wh)
        .agg(sum("occ_i")).as[Long].head(),
        SubstringIngest.committedIndex(wh).count()) == post0, fp)
      // replay (same batch id, > hwm): re-runs, converges to clean state
      // (mask artifact included: rewritten identically by the replay)
      var masksReplay: Seq[(Long, Long, Long, Long)] = Nil
      val replayed = SubstringIngest.ingestBatch(wh, b1, batchId = 1L,
        maskSink = m => masksReplay = collectMasks(m))
      assert(collectSpans(replayed.get) == spans1Clean, fp)
      assert(masksReplay == masks1Clean && masks1Clean.nonEmpty, fp)
      assert(SubstringIngest.committedCensus(wh)
        .agg(sum("occ_i")).as[Long].head() == cleanCensus, fp)
      assert(SubstringIngest.committedIndex(wh).count() == cleanIndex, fp)
      // and a future batch's check sees identical state
      assert(checkProbe(wh) == cleanProbe, fp)
    }
  }

  test("compaction: future batch results identical, census consolidated " +
       "to one row per shingle, dead/orphan index rows dropped") {
    val docs = graft.etl.Feeds.table(spark, dir, "documents")
    val parts = (0 to 2).map(i => docs.where($"doc_id" % 4 === i))
    val probe = docs.where($"doc_id" % 4 === 3)
    // a small cap forces shingles OVER the cap across batches: their
    // index positions (appended while still under cap) become dead weight
    val cap = 4
    val wh = freshWh()
    parts.zipWithIndex.foreach { case (b, i) =>
      SubstringIngest.ingestBatch(wh, b, batchId = i.toLong, maxOcc = cap)
    }
    // plus one crashed attempt: its orphan rows must vanish physically
    intercept[IllegalStateException] {
      SubstringIngest.ingestBatch(wh, probe, batchId = 3L, maxOcc = cap,
                                  failpoint = "after_index")
    }
    def probeSpans() = collectSpans(Dedup.substringSpansIncOf(
      SubstringIngest.committedIndex(wh),
      SubstringIngest.committedCensus(wh), ps(probe), maxOcc = cap))
    val before = probeSpans()
    val censusSumBefore = SubstringIngest.committedCensus(wh)
      .agg(sum("occ_i")).as[Long].head()
    // the MATCHABLE set: committed positions whose shingle's committed
    // total is at/under the cap — committed rows of a shingle that went
    // over in a later batch are dead weight (admissibility re-excludes
    // them every check) and compaction is allowed to drop them
    val liveIdxBefore = SubstringIngest.committedIndex(wh)
      .join(SubstringIngest.committedCensus(wh)
              .where($"occ_i" <= cap).select("sh"), Seq("sh"))
      .count()
    val physCensusBefore =
      wh.readTable(SubstringIngest.Db, "ss_census").count()
    val physIndexBefore = wh.readTable(SubstringIngest.Db, "ss_index").count()
    // dead rows exist: positions in the physical index whose shingle's
    // committed total is over the cap (went over in a later batch), plus
    // the crashed attempt's orphans
    assert(physIndexBefore > liveIdxBefore,
      "test premise: dead/orphan index rows present before compaction")
    SubstringIngest.compactState(wh, maxOcc = cap)
    val st = SubstringIngest.state(wh)
    assert(st.gen == 1 && st.commits.size == 1)
    // old generation swept
    assert(!wh.exists(SubstringIngest.Db, "ss_census") &&
           !wh.exists(SubstringIngest.Db, "ss_index"))
    val censusT = SubstringIngest.tableName("ss_census", 1)
    val indexT = SubstringIngest.tableName("ss_index", 1)
    // identical logical state ...
    assert(probeSpans() == before && before.nonEmpty)
    assert(SubstringIngest.committedCensus(wh)
      .agg(sum("occ_i")).as[Long].head() == censusSumBefore)
    assert(SubstringIngest.committedIndex(wh).count() == liveIdxBefore)
    // ... on strictly less storage: one census row per shingle value,
    // index rows = live set only
    val physCensusAfter = wh.readTable(SubstringIngest.Db, censusT).count()
    val physIndexAfter = wh.readTable(SubstringIngest.Db, indexT).count()
    assert(physCensusAfter < physCensusBefore)
    assert(physIndexAfter == liveIdxBefore && physIndexAfter < physIndexBefore)
    // and the compacted state keeps ingesting: next batch commits cleanly
    // at gen 1 (wired form: runIngestAvailableNow(compactEvery = n))
    val r = SubstringIngest.ingestBatch(wh, probe, batchId = 3L, maxOcc = cap)
    assert(collectSpans(r.get) == before)
    assert(SubstringIngest.highWaterMark(wh) == 3L)
  }

  test("compactEvery wiring: a drain that crosses the threshold folds " +
       "state into a fresh generation and later results are unchanged") {
    val docs = graft.etl.Feeds.table(spark, dir, "documents")
    def batch(i: Int) = docs.where($"doc_id" % 4 === i)
    def drive(compactEvery: Int): (graft.catalog.Warehouse, String) = {
      val watch = tempDir("graft_cw")
      val ckpt = tempDir("graft_cc")
      val results = tempDir("graft_cr")
      val wh = freshWh()
      for (i <- 0 to 3) {
        val tmp = tempDir("graft_cd")
        batch(i).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(watch, s"crawl_$i.parquet"))
        SubstringIngest.runIngestAvailableNow(spark, dir, watch, ckpt, wh,
          results, compactEvery = compactEvery)
      }
      (wh, results)
    }
    val (whC, resC) = drive(compactEvery = 2)
    val (whN, resN) = drive(compactEvery = 0)
    // the compacting drain folded at least once and kept ingesting
    assert(SubstringIngest.state(whC).gen >= 1)
    assert(SubstringIngest.state(whN).gen == 0)
    assert(SubstringIngest.highWaterMark(whC) == 3L)
    // every batch's results artifacts (spans AND masks) identical across
    // the two drains
    for (b <- 1 to 3) {
      val c = collectSpans(spark.read.parquet(s"$resC/batch_id=$b"))
      val n = collectSpans(spark.read.parquet(s"$resN/batch_id=$b"))
      assert(c == n, s"batch $b diverged under compaction")
      val cm = collectMasks(spark.read.parquet(s"$resC/masks/batch_id=$b"))
      val nm = collectMasks(spark.read.parquet(s"$resN/masks/batch_id=$b"))
      assert(cm == nm, s"batch $b mask artifact diverged under compaction")
    }
    // and the final committed state agrees
    assert(SubstringIngest.committedCensus(whC)
      .agg(org.apache.spark.sql.functions.sum("occ_i")).as[Long].head() ==
      SubstringIngest.committedCensus(whN)
        .agg(org.apache.spark.sql.functions.sum("occ_i")).as[Long].head())
  }

  test("crash soak: a seeded random failpoint before every batch's " +
       "commit, replayed, converges to the clean run at every step") {
    val docs = graft.etl.Feeds.table(spark, dir, "documents")
    def batch(i: Int) = docs.where($"doc_id" % 5 === i)
    val whClean = freshWh()
    val cleanSpans = (0 to 4).map { i =>
      collectSpans(SubstringIngest.ingestBatch(whClean, batch(i),
        batchId = i.toLong).get)
    }
    val points = Seq("after_results", "after_census", "after_index")
    val rnd = new scala.util.Random(17) // seeded: deterministic replay
    val wh = freshWh()
    for (i <- 0 to 4) {
      intercept[IllegalStateException] {
        SubstringIngest.ingestBatch(wh, batch(i), batchId = i.toLong,
          failpoint = points(rnd.nextInt(points.size)))
      }
      val replayed = collectSpans(
        SubstringIngest.ingestBatch(wh, batch(i), batchId = i.toLong).get)
      assert(replayed == cleanSpans(i), s"batch $i diverged after crash")
    }
    assert(SubstringIngest.committedIndex(wh).count() ==
      SubstringIngest.committedIndex(whClean).count())
    assert(SubstringIngest.committedCensus(wh)
      .agg(org.apache.spark.sql.functions.sum("occ_i")).as[Long].head() ==
      SubstringIngest.committedCensus(whClean)
        .agg(org.apache.spark.sql.functions.sum("occ_i")).as[Long].head())
    // every batch crashed once, so every table carries exactly one
    // orphan attempt per batch — compaction drops them all
    SubstringIngest.compactState(wh)
    assert(SubstringIngest.committedIndex(wh).count() ==
      wh.readTable(SubstringIngest.Db,
        SubstringIngest.tableName("ss_index", 1)).count())
  }

  test("compaction sweep is bounded: a long-dead generation is left " +
       "alone in the normal path and reclaimed by sweepAll (r17 advice)") {
    val docs = graft.etl.Feeds.table(spark, dir, "documents")
    val wh = freshWh()
    for (i <- 0 to 2) {
      SubstringIngest.ingestBatch(wh, docs.where($"doc_id" % 3 === i),
        batchId = i.toLong)
      SubstringIngest.compactState(wh) // live gen climbs 1, 2, 3
    }
    assert(SubstringIngest.state(wh).gen == 3)
    // plant a stand-in for a generation the normal sweep already handled
    // long ago (e.g. files restored from a backup): gen 0 = bare name
    wh.overwrite(SubstringIngest.Db, "ss_census",
      Seq((Array[Byte](120), 1L)).toDF("sh", "occ_i"))
    SubstringIngest.ingestBatch(wh, docs.where($"doc_id" % 5 === 0)
      .withColumn("doc_id", $"doc_id" + 100000L), batchId = 3L)
    SubstringIngest.compactState(wh) // gen 4: sweeps gens 2-3 only
    assert(SubstringIngest.state(wh).gen == 4)
    assert(wh.exists(SubstringIngest.Db, "ss_census"),
      "normal-path sweep must not re-attempt long-dead generations")
    assert(!wh.exists(SubstringIngest.Db,
      SubstringIngest.tableName("ss_census", 3)),
      "the just-superseded generation must be swept")
    // the recovery escape hatch reclaims everything below the live gen
    SubstringIngest.ingestBatch(wh, docs.where($"doc_id" % 5 === 1)
      .withColumn("doc_id", $"doc_id" + 200000L), batchId = 4L)
    SubstringIngest.compactState(wh, sweepAll = true)
    assert(!wh.exists(SubstringIngest.Db, "ss_census"),
      "sweepAll must reclaim the planted gen-0 leftover")
  }

  test("committed reads stay co-located: the manifest semi-join is a " +
       "broadcast and the check's index side never shuffles") {
    val wh = freshWh()
    val docs = graft.etl.Feeds.table(spark, dir, "documents")
    SubstringIngest.ingestBatch(wh, docs.where($"doc_id" % 2 === 0), 0L)
    val newPs = ps(docs.where($"doc_id" % 2 === 1))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val matches = Dedup.substringIncMatchesOf(
        SubstringIngest.committedIndex(wh),
        SubstringIngest.committedCensus(wh), newPs)
      val plan = matches.queryExecution.executedPlan
      assert(plan.toString.contains("ss_"), plan.toString.take(800))
      // the only Exchanges allowed are broadcasts (the manifest
      // semi-join) and the increment side's own shuffles — a shuffle
      // Exchange anywhere ABOVE a bucketed ss_ scan means the manifest
      // filter broke the bucket layout's co-location
      def noShuffleAboveBucketedScan(
          p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          !e.child.toString.contains("ss_")
        case other => other.children.forall(noShuffleAboveBucketedScan)
      }
      assert(noShuffleAboveBucketedScan(plan), plan.toString.take(1200))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
