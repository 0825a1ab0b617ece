package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-16 additions: the incremental substring-tier check against the
  * occurrence-capped positional shingle index (r15 verdict task 4), the
  * index-build audit view, the cross-tier overlap census, and the shared
  * run-grain memo behind the four substring-tier queries (task 1).
  */
class Round16OpsSpec extends SparkSpec {
  import spark.implicits._

  private def ps(docs: DataFrame): DataFrame =
    TextOps.posShinglesOf(TextOps.withWords(TextOps.normalize(docs)))

  private def incSpans(idxDocs: DataFrame, newDocs: DataFrame,
                       minRun: Int = 8, maxOcc: Int = 64): DataFrame = {
    val idx = ps(idxDocs)
    val census = Dedup.substringCensusOf(idx)
    Dedup.substringSpansIncOf(
      Dedup.substringIndexOf(idx, census, maxOcc), census, ps(newDocs),
      minRun, maxOcc)
  }

  private val quote = (1 to 20).map(i => s"q$i").mkString(" ")

  test("incremental spans equal the full rebuild restricted to new docs " +
       "(sf0.001, the oracle's exact claim)") {
    val d = "/root/testdata/sf0.001"
    val cutoff = graft.etl.Feeds.table(spark, d, "documents")
      .agg(expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)")).as[Long].head()
    val got = Dedup.dedupSubstringInc(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    // new docs hold the max ids, so doc_b > cutoff ⇔ pair touches the batch
    val want = Dedup.substringSpansOf(TextOps.posShingles(spark, d))
      .as[(Long, Long, Long, Long, Long)].collect()
      .filter(_._2 > cutoff).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("incremental check finds a new doc quoting an indexed doc, plus " +
       "new x new; never re-reports old x old") {
    val filler = (n: Char) => (1 to 30).map(i => s"$n$i").mkString(" ")
    val idxDocs = Seq(
      (1L, s"$quote ${filler('a')}"),
      (2L, s"${filler('b')} $quote")). // old x old pair exists in rebuild
      toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, s"${filler('c')} $quote"),
      (11L, s"$quote ${filler('d')}")).toDF("doc_id", "text")
    val out = incSpans(idxDocs, newDocs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().sorted.toSeq
    // every pair with a new side: 2 old x 2 new + the new x new pair
    assert(out == Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
                      (10L, 11L)))
  }

  test("combined occurrence cap: a shingle under the index cap but over " +
       "cap with the increment is blocked (restriction-equivalence)") {
    // the quote sits in 10 indexed docs (occ 10 per shingle <= 12) and 4
    // new docs: combined occ 14 > 12, so the REBUILD at maxOcc=12 drops
    // it — the incremental check must drop it too, not report pairs off
    // the stale under-cap index rows
    val idxDocs = (1L to 10L)
      .map(i => (i, s"$quote ${(1 to 9).map(j => s"f${i}_$j").mkString(" ")}"))
      .toDF("doc_id", "text")
    val newDocs = (21L to 24L)
      .map(i => (i, s"$quote ${(1 to 9).map(j => s"g${i}_$j").mkString(" ")}"))
      .toDF("doc_id", "text")
    assert(incSpans(idxDocs, newDocs, maxOcc = 12).count() == 0)
    // at maxOcc=14 the combined census admits it: 10x4 old-new + C(4,2)
    assert(incSpans(idxDocs, newDocs, maxOcc = 14).count() == 46)
  }

  test("over-cap-in-index shingles stay blocked for new x new matches " +
       "(the census keeps over-cap values the position index drops)") {
    // 20 indexed copies put the quote over maxOcc=16 at index build; two
    // new docs share it — without the census row the increment would see
    // occ_i=0 and wrongly pair the new docs on template text
    val idxDocs = (1L to 20L)
      .map(i => (i, s"$quote ${(1 to 9).map(j => s"h${i}_$j").mkString(" ")}"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (31L, s"$quote ${(1 to 9).map(j => s"u$j").mkString(" ")}"),
      (32L, s"$quote ${(1 to 9).map(j => s"v$j").mkString(" ")}"))
      .toDF("doc_id", "text")
    assert(incSpans(idxDocs, newDocs, maxOcc = 16).count() == 0)
  }

  test("bucketed substring index: the incremental match grain builds " +
       "with no Exchange (index side never shuffles)") {
    val d = "/root/testdata/sf0.001"
    val root = tempDir("graft_ssidx")
    val wh = new graft.catalog.Warehouse(spark, root)
    val all = TextOps.posShingles(spark, d)
    val cutoff = graft.etl.Feeds.table(spark, d, "documents")
      .agg(expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)")).as[Long].head()
    val idx0 = all.where($"doc_id" <= cutoff)
    val census0 = Dedup.substringCensusOf(idx0)
    // the ingest job lands all three artifacts bucketed on the join key:
    // the capped position index, its census, and the day's increment
    wh.bucketedOverwrite("dedup", "ss_index",
      Dedup.substringIndexOf(idx0, census0), "sh", 8)
    wh.bucketedOverwrite("dedup", "ss_census", census0, "sh", 8)
    wh.bucketedOverwrite("dedup", "ss_inc",
      all.where($"doc_id" > cutoff), "sh", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val matches = Dedup.substringIncMatchesOf(
        wh.readTable("dedup", "ss_index"),
        wh.readTable("dedup", "ss_census"),
        wh.readTable("dedup", "ss_inc"))
      val plan = matches.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      // and the bucketed serving path computes the same match grain as
      // the unbucketed in-session one
      val want = Dedup.substringIncMatchesOf(
          Dedup.substringIndexOf(idx0, census0), census0,
          all.where($"doc_id" > cutoff))
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      val got = matches.as[(Long, Long, Long, Long)].collect().sorted.toSeq
      assert(got == want && got.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("index stats audit the cap: counts match the hand-computed census") {
    // quote shingles occur 3x (over cap 2); each doc also has 10 unique
    // filler words -> 8 unique shingles per doc at the filler, plus the
    // 2 boundary shingles quote->filler... compute from the census itself
    val docs = (1L to 3L)
      .map(i => (i, s"$quote ${(1 to 10).map(j => s"w${i}_$j").mkString(" ")}"))
      .toDF("doc_id", "text")
    val shingles = ps(docs)
    val occ = shingles.groupBy("sh").count()
      .select("count").as[Long].collect().map(((), _))
    val expectOver = occ.count(_._2 > 2L).toLong
    val expectKept = occ.filter(_._2 <= 2L).map(_._2).sum
    val row = Dedup.substringIndexStatsOf(shingles, maxOcc = 2)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(row == ((occ.length.toLong, expectOver, occ.map(_._2).sum,
                    expectKept, occ.map(_._2).max)))
  }

  test("tier overlap census: intersection bounded by both tiers and " +
       "counts match the joined frames (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val (nM, nS, nBoth) = SparkEntry.queries("q_dedup_tier_overlap")(spark, d)
      .as[(Long, Long, Long)].head()
    assert(nBoth <= math.min(nM, nS))
    val wantM = Dedup.minhashPairs(spark, d).count()
    val wantS = Dedup.substringSpans(spark, d).count()
    assert(nM == wantM && nS == wantS && nM > 0 && nS > 0)
  }

  test("curated v3: quote-heavy docs over the ppm ceiling are rejected; " +
       "under-ceiling and span-free docs pass untouched") {
    val curated = Seq(
      (1L, "en", 0.9, 0.1, 1L, "train"),   // over ceiling -> dropped
      (2L, "en", 0.8, 0.2, 1L, "val"),     // under ceiling -> kept
      (3L, "de", 0.7, 0.3, 2L, "train"))   // no quote row   -> kept
      .toDF("doc_id", "lang", "quality", "rep_ratio", "n_dups", "split")
    val quoteHeavy = Seq(
      (1L, 5L, 100L, 120L, Corpus.quotePpmCeiling + 1),
      (2L, 1L, 10L, 100L, 100000L))
      .toDF("doc_id", "n_spans", "dup_words", "n_tokens", "dup_ppm")
    val kept = Corpus.curatedV3Of(curated, quoteHeavy)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L))
  }

  test("run-grain memo: four substring queries share ONE cached frame, " +
       "reclaimed by Caches.invalidateAll (r15 verdict task 1)") {
    val d = "/root/testdata/sf0.001"
    graft.Caches.invalidateAll(spark)
    val before = graft.Caches.size(spark, "dedup.")
    Dedup.substringSpans(spark, d).count()
    val afterOne = graft.Caches.size(spark, "dedup.")
    Dedup.substringSpanHist(spark, d).count()
    Dedup.quoteHeavyDocs(spark, d).count()
    Dedup.spanSourceMatrix(spark, d).count()
    // the three follow-on queries add no new run-grain entry
    assert(graft.Caches.size(spark, "dedup.") == afterOne)
    assert(afterOne > before)
    graft.Caches.invalidateAll(spark)
    assert(graft.Caches.size(spark, "dedup.") == 0)
  }
}
