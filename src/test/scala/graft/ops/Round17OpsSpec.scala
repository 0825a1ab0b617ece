package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Round-17 additions: the substring-ingest storage-debt ledger — checked
  * against a hand-computed fixture AND against the actual streamed
  * ingest's physical appends (the ledger is the pure relational form of
  * [[graft.streaming.SubstringIngest]]'s batch math, so the two must
  * agree row for row).
  */
class Round17OpsSpec extends SparkSpec {
  import spark.implicits._

  // one shingle per doc (3-word texts): "a b c" repeats in docs 1/3/5
  // (one occurrence per batch), the rest are unique
  private def fixture = Seq(
    (1L, "a b c"), (2L, "u1 u2 u3"),
    (3L, "a b c"), (4L, "u4 u5 u6"),
    (5L, "a b c"), (6L, "u7 u8 u9")).toDF("doc_id", "text")

  test("ingest-debt ledger: hand-computed cumulative-cap math, cap 2") {
    // mx=6 -> batches {1,2},{3,4},{5,6}; shared shingle S: cum 1/2/3,
    // total 3 (over cap 2 -> never live); uniques: cum=total=1
    val got = Dedup.substringIngestDebtOf(
        TextOps.posShinglesOf(TextOps.withWords(TextOps.normalize(fixture))),
        maxOcc = 2)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == Seq(
      (0L, 2L, 2L, 1L, 1L), // S admitted (cum 1) but dead; unique lives
      (1L, 2L, 2L, 1L, 1L), // S admitted (cum 2) but dead; unique lives
      (2L, 2L, 1L, 1L, 0L)  // S over cap (cum 3): not admitted
    ))
  }

  test("ingest-debt ledger equals the streamed ingest's physical appends " +
       "and compaction reclaims exactly n_dead") {
    val wh = new graft.catalog.Warehouse(spark,
      tempDir("graft_r17"))
    val ledger = Dedup.substringIngestDebtOf(
        TextOps.posShinglesOf(TextOps.withWords(TextOps.normalize(fixture))),
        maxOcc = 2)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    for (b <- 0 to 2)
      graft.streaming.SubstringIngest.ingestBatch(wh,
        fixture.where($"doc_id" > b * 2 && $"doc_id" <= b * 2 + 2),
        batchId = b.toLong, maxOcc = 2)
    val physByBatch = wh.readTable(graft.streaming.SubstringIngest.Db,
        "ss_index")
      .groupBy("batch_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    for ((batch, _, nAppended, _, _) <- ledger)
      assert(physByBatch.getOrElse(batch, 0L) == nAppended,
        s"batch $batch: ledger says $nAppended appended")
    // compaction leaves exactly the live rows
    graft.streaming.SubstringIngest.compactState(wh, maxOcc = 2)
    val liveTotal = ledger.map(_._4).sum
    assert(graft.streaming.SubstringIngest.committedIndex(wh).count()
      == liveTotal)
  }

  test("mask ranges: overlapping spans merge into one per-doc range " +
       "(hand fixture)") {
    // doc1 = 20 distinct words; doc2 quotes words 0-11, doc3 quotes
    // words 8-19 -> doc1's two span ranges [0,11] and [8,19] must merge
    // to [0,19]; doc2/doc3 are fully covered ([0,11] each). The doc2-doc3
    // overlap (words 8-11, 2 shingles) is below minRun=8 -> no pair.
    val w = (0 to 19).map(i => s"a$i")
    val docs = Seq(
      (1L, w.mkString(" ")),
      (2L, w.slice(0, 12).mkString(" ")),
      (3L, w.slice(8, 20).mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.spanMaskRangesOf(
        TextOps.posShinglesOf(TextOps.withWords(TextOps.normalize(docs))))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == Seq(
      (1L, 0L, 19L, 20L),
      (2L, 0L, 11L, 12L),
      (3L, 0L, 11L, 12L)))
  }

  test("mask ranges on real docs: in-bounds, disjoint, and masked volume " +
       "never exceeds the double-counting span rollup (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val ranges = Dedup.spanMaskRanges(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(ranges.nonEmpty)
    // in-bounds vs each doc's word count
    val nWords = TextOps.withWords(
        TextOps.normalize(graft.etl.Feeds.table(spark, d, "documents")))
      .select($"doc_id", expr("size(words)").cast("long"))
      .as[(Long, Long)].collect().toMap
    for ((doc, s, e, m) <- ranges) {
      assert(s >= 0 && e < nWords(doc) && m == e - s + 1, s"doc $doc")
    }
    // per-doc ranges are sorted-disjoint (the merge's whole point)
    ranges.groupBy(_._1).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq((_, _, e1, _), (_, s2, _, _)) =>
          assert(s2 > e1, s"doc $doc: ranges overlap after merge")
        case _ =>
      }
    }
    // merged volume <= the span rollup's per-doc sum (which double
    // counts words shared by two spans)
    val rollup = Dedup.substringSpans(spark, d)
      .select(explode(array(
          struct($"doc_a".as("doc_id"), $"sum_span_words"),
          struct($"doc_b".as("doc_id"), $"sum_span_words"))).as("s"))
      .select("s.*").groupBy("doc_id")
      .agg(sum("sum_span_words").as("v"))
      .as[(Long, Long)].collect().toMap
    ranges.groupBy(_._1).foreach { case (doc, rs) =>
      assert(rs.map(_._4).sum <= rollup(doc), s"doc $doc")
    }
  }

  test("mask savings by source: totals reconcile with the range list " +
       "and the doc grain (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_mask_savings_by_source")(spark, d)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val ranges = Dedup.spanMaskRanges(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // masked volume reconciles exactly across the two grains
    assert(rows.map(_._5).sum == ranges.map(_._4).sum)
    val docs = graft.etl.Feeds.table(spark, d, "documents")
    assert(rows.map(_._2).sum == docs.count())
    for ((src, nDocs, nQuote, total, masked, ppm) <- rows) {
      assert(nQuote <= nDocs && masked <= total, src)
      assert(ppm == masked * 1000000L / total, src)
    }
  }

  test("incremental mask ranges equal the rebuild's restriction to " +
       "batch docs (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.etl.Feeds.table(spark, d, "documents")
    val cutoff = docs.agg(expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)"))
      .as[Long].head()
    val inc = Dedup.spanMaskRangesInc(spark, d)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(inc.nonEmpty && inc.forall(_._1 > cutoff),
      "inc ranges must cover batch docs only")
    val rebuild = Dedup.spanMaskRanges(spark, d)
      .where($"doc_id" > cutoff)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(inc == rebuild)
  }

  test("dup-rate-by-batch: batch 0 has no prior dups, counts bound by " +
       "batch size, ppm math exact, and prior-dup docs reconcile with " +
       "the guarded pair list (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val rows = Dedup.dupRateByBatch(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) == Seq(0L, 1L, 2L))
    for ((b, nDocs, nPrior, nIntra, ppm) <- rows) {
      assert(nPrior <= nDocs && nIntra <= nDocs, s"batch $b")
      assert(ppm == nPrior * 1000000L / nDocs, s"batch $b")
      if (b == 0L) assert(nPrior == 0L, "batch 0 cannot dup a prior batch")
    }
    // reconcile against the pair grain directly
    val mx = graft.etl.Feeds.table(spark, d, "documents")
      .agg(max("doc_id")).as[Long].head()
    def batchOf(id: Long): Long =
      if (id <= mx / 3) 0L else if (id <= 2 * mx / 3) 1L else 2L
    val pairs = Dedup.minhashPairs(spark, d)
      .as[(Long, Long)].collect().toSeq
    val wantPrior = pairs.filter { case (a, b) => batchOf(a) < batchOf(b) }
      .groupBy { case (_, b) => batchOf(b) }
      .view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    for ((b, _, nPrior, _, _) <- rows)
      assert(nPrior == wantPrior.getOrElse(b, 0L), s"batch $b prior count")
  }

  test("debt ledger on real docs: invariants hold at sf0.001") {
    val rows = SparkEntry.queries("q_substring_ingest_debt")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(rows.map(_._1) == Seq(0L, 1L, 2L))
    for ((_, nPos, nApp, nLive, nDead) <- rows) {
      assert(nApp <= nPos && nLive <= nApp && nDead == nApp - nLive)
      assert(nPos > 0)
    }
  }
}
