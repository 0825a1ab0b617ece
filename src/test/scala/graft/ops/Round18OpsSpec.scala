package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Round-18 additions: v4 curation (mask-instead-of-drop at the quote
  * gate) and the per-source mask-vs-drop token-yield readout — checked
  * against hand-computed fixtures plus corpus-level invariants that pin
  * the v3 ⊆ v4 containment the yield math relies on.
  */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // three admitted docs: doc 1 quote-heavy (two mask ranges), doc 2 has
  // a range but sits under the ppm ceiling (tolerated → unmasked), doc 3
  // clean
  private def v2 = Seq(
    (1L, "en", 0.9, 0.1, 0L, "train"),
    (2L, "en", 0.8, 0.2, 1L, "val"),
    (3L, "de", 0.7, 0.3, 0L, "train"))
    .toDF("doc_id", "lang", "quality", "rep_ratio", "n_dups", "split")

  private def quoteHeavy = Seq(
    (1L, 2L, 15L, 20L, 600000L),
    (2L, 1L, 4L, 10L, 100000L))
    .toDF("doc_id", "n_spans", "dup_words", "n_tokens", "dup_ppm")

  private def ranges = Seq(
    (1L, 0L, 4L, 5L), (1L, 10L, 12L, 3L), // doc 1: 8 masked words
    (2L, 2L, 5L, 4L))                     // doc 2: masked only if heavy
    .toDF("doc_id", "start_w", "end_w", "masked_words")

  private def words = Seq(
    (1L, (0 until 20).map(i => s"w$i"), "s1"),
    (2L, (0 until 10).map(i => s"w$i"), "s1"),
    (3L, (0 until 7).map(i => s"w$i"), "s2"))
    .toDF("doc_id", "words", "source")

  test("curated v4: quote-heavy docs keep n_words minus merged mask " +
       "volume; tolerated and clean docs keep everything (hand fixture)") {
    val got = Corpus.curatedV4Of(v2, quoteHeavy, ranges, words)
      .select("doc_id", "n_words", "masked_words", "kept_words")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == Seq(
      (1L, 20L, 8L, 12L), // heavy: both ranges excised
      (2L, 10L, 0L, 10L), // has a range but under the ceiling: untouched
      (3L, 7L, 0L, 7L)))  // no spans at all
  }

  test("mask-vs-drop yield: per-source doc/word gains equal the " +
       "quote-heavy docs' unmasked remainders (hand fixture)") {
    val v4 = Corpus.curatedV4Of(v2, quoteHeavy, ranges, words)
    val v3 = Corpus.curatedV3Of(v2, quoteHeavy) // drops doc 1
    assert(v3.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L))
    val got = Corpus.maskVsDropYieldOf(v3, v4, words)
      .select("source", "v3_docs", "v4_docs", "gained_docs", "v3_words",
              "v4_words", "gained_words", "gain_ppm")
      .as[(String, Long, Long, Long, Long, Long, Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      // s1: doc 1 comes back with 12 of its 20 words; doc 2 unchanged
      ("s1", 1L, 2L, 1L, 10L, 22L, 12L, Some(1200000L)),
      ("s2", 1L, 1L, 0L, 7L, 7L, 0L, Some(0L))))
  }

  test("corpus invariants at sf0.001: v3 ⊆ v4, v4 doc set = v2's, " +
       "non-heavy docs unmasked, gains non-negative") {
    val v2c = Corpus.curatedV2(spark, dir)
    val v3c = SparkEntry.queries("q_corpus_curated_v3")(spark, dir)
    val v4c = Corpus.curatedV4(spark, dir)
    assert(v4c.count() == v2c.count(), "v4 must admit every v2 doc")
    assert(v3c.join(v4c.select("doc_id"), Seq("doc_id"), "left_anti")
      .count() == 0L, "v3 must be a subset of v4")
    // exactly the quote-heavy admitted docs carry masks
    val heavy = Dedup.quoteHeavyDocs(spark, dir)
      .where($"dup_ppm" > Corpus.quotePpmCeiling).select("doc_id")
    assert(v4c.where($"masked_words" > 0)
      .join(heavy, Seq("doc_id"), "left_anti").count() == 0L)
    assert(v4c.where($"masked_words" === 0 || $"kept_words" < 0)
      .where($"kept_words" =!= $"n_words").count() == 0L)
    val y = SparkEntry.queries("q_mask_vs_drop_yield")(spark, dir)
    assert(y.where($"gained_words" < 0 || $"gained_docs" < 0).count() == 0L)
    // total gained docs = admitted quote-heavy docs
    val gained = y.agg(sum("gained_docs")).as[Long].head()
    assert(gained == v4c.count() - v3c.count())
  }

  // ---- incremental curation capstone ------------------------------------

  private def cutoff: Long =
    graft.etl.Feeds.table(spark, dir, "documents")
      .agg(expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)")).as[Long].head()

  test("incremental v4 curation equals the full rebuild restricted to " +
       "the batch (sf0.001, both directions)") {
    val cut = cutoff
    val want = Corpus.curatedV4(spark, dir).where($"doc_id" > cut)
    val got = Corpus.curatedV4Inc(spark, dir)
    assert(got.count() > 0L, "batch admission must be non-empty at sf0.001")
    assert(got.except(want).count() == 0L, "inc rows absent from rebuild")
    assert(want.except(got).count() == 0L, "rebuild rows missed by inc")
  }

  test("incremental quote gate equals the rebuild's quote-heavy frame " +
       "restricted to the batch") {
    val cut = cutoff
    val want = Dedup.quoteHeavyDocs(spark, dir).where($"doc_id" > cut)
    val got = Dedup.quoteHeavyDocsInc(spark, dir)
    assert(got.except(want).count() == 0L)
    assert(want.except(got).count() == 0L)
  }

  test("incremental funnel: 7 monotone stages over the batch; raw = batch " +
       "size, final stage = the v4 admission count") {
    val cut = cutoff
    val f = Corpus.curationFunnelInc(spark, dir)
      .orderBy("stage_id")
      .select("stage_id", "stage", "n_docs", "retained_ppm")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(f.map(_._1) == (1L to 7L), "exactly stages 1..7")
    val counts = f.map(_._3)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "stage counts must be non-increasing")
    val batchN = graft.ops.TextOps.docs(spark, dir)
      .where($"doc_id" > cut).count()
    assert(counts.head == batchN, "stage 1 is the raw batch")
    assert(f.head._4 == 1000000L)
    assert(counts.last == Corpus.curatedV4Inc(spark, dir).count(),
      "the funnel's survivor count IS the v4 admission count")
  }

  test("incremental run-grain memo: the four inc consumers share ONE " +
       "cached frame, reclaimed by Caches.invalidateAll") {
    graft.Caches.invalidateAll(spark)
    Dedup.dedupSubstringInc(spark, dir).count()
    val afterOne = graft.Caches.size(spark, "dedup.")
    Dedup.spanMaskRangesInc(spark, dir).count()
    Dedup.quoteHeavyDocsInc(spark, dir).count()
    // the follow-on inc queries add no new inc-run-grain entry (the
    // quote gate pulls in the shared full-run/shingle memos its stats
    // join needs on first touch, nothing more on repeat)
    val afterAll = graft.Caches.size(spark, "dedup.")
    Dedup.spanMaskRangesInc(spark, dir).count()
    Dedup.quoteHeavyDocsInc(spark, dir).count()
    assert(graft.Caches.size(spark, "dedup.") == afterAll)
    assert(afterOne >= 1)
    graft.Caches.invalidateAll(spark)
    assert(graft.Caches.size(spark, "dedup.") == 0)
  }

  test("v4 release card reconciles with the admitted corpus and keeps " +
       "ppm columns in range") {
    val v4c = Corpus.curatedV4(spark, dir)
    val card = SparkEntry.queries("q_corpus_stats_v4")(spark, dir)
    assert(card.agg(sum("n_docs")).as[Long].head() == v4c.count())
    assert(card.agg(sum("kept_words")).as[Long].head() ==
      v4c.agg(sum("kept_words")).as[Long].head())
    assert(card.where($"masked_ppm" < 0 || $"masked_ppm" > 1000000L)
      .count() == 0L)
    assert(card.where($"mean_quality_ppm" < 0 ||
      $"mean_quality_ppm" > 1000000L).count() == 0L)
    assert(card.where($"kept_words" + $"masked_words" =!= $"total_words")
      .count() == 0L)
  }
}
