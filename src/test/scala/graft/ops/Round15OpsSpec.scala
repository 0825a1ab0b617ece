package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Round-15 additions: the substring-tier dedup (maximal duplicated word
  * spans at arbitrary offsets — r14 verdict task 4) and the sampled
  * k-means trainer's drift monitor (task 5). The sampled-vs-full checks
  * of the fixed-budget vector monitors are in VectorsMultimodalSpec.
  */
class Round15OpsSpec extends SparkSpec {
  import spark.implicits._

  private def spansOf(docs: DataFrame, minRun: Int = 8,
                      maxOcc: Int = 64): DataFrame =
    Dedup.substringSpansOf(
      TextOps.posShinglesOf(TextOps.withWords(TextOps.normalize(docs))),
      minRun, maxOcc)

  // a 20-word verbatim quote planted inside two otherwise-unique docs
  private val quote = (1 to 20).map(i => s"q$i").mkString(" ")

  test("substring spans: planted quote found at ARBITRARY offsets") {
    // doc 1 leads with 5 filler words, doc 2 with 9 — the quote is
    // grid-misaligned for any fixed passage size, invisible to passage
    // dedup, and neither doc is a near-dup of the other overall
    val head1 = (1 to 5).map(i => s"a$i").mkString(" ")
    val head2 = (1 to 9).map(i => s"b$i").mkString(" ")
    val tail1 = (1 to 30).map(i => s"x$i").mkString(" ")
    val tail2 = (1 to 30).map(i => s"y$i").mkString(" ")
    val docs = Seq(
      (1L, s"$head1 $quote $tail1"),
      (2L, s"$head2 $quote $tail2"),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val out = spansOf(docs).as[(Long, Long, Long, Long, Long)].collect()
    // one pair, one span: 18 consecutive shared 3-shingles = 20 words
    assert(out.toSeq == Seq((1L, 2L, 1L, 20L, 20L)))
  }

  test("substring spans: two disjoint quotes coalesce into two runs") {
    val q2 = (1 to 12).map(i => s"p$i").mkString(" ")
    val mid1 = (1 to 10).map(i => s"m$i").mkString(" ")
    val mid2 = (1 to 4).map(i => s"n$i").mkString(" ")
    val docs = Seq(
      (1L, s"$quote $mid1 $q2"),
      (2L, s"$mid2 $quote $mid2 extra $q2")).toDF("doc_id", "text")
    val out = spansOf(docs).as[(Long, Long, Long, Long, Long)].collect()
    // spans: the 20-word quote and the 12-word quote, separately
    assert(out.toSeq == Seq((1L, 2L, 2L, 20L, 32L)))
  }

  test("substring spans: sub-minRun shared runs emit nothing") {
    val short = (1 to 5).map(i => s"s$i").mkString(" ") // 3 shingles < minRun
    val docs = Seq(
      (1L, s"$short ${(1 to 20).map(i => s"u$i").mkString(" ")}"),
      (2L, s"$short ${(1 to 20).map(i => s"v$i").mkString(" ")}"))
      .toDF("doc_id", "text")
    assert(spansOf(docs).count() == 0)
  }

  test("substring spans: over-cap boilerplate shingles are guarded out") {
    // the same quote in 40 docs: every quote shingle occurs 40 times, so
    // maxOcc=16 drops them all — the boilerplate tier never reaches the
    // pair join (the quadratic surface the guard exists for)
    val docs = (1L to 40L)
      .map(i => (i, s"$quote ${(1 to 10).map(j => s"t${i}_$j").mkString(" ")}"))
      .toDF("doc_id", "text")
    assert(spansOf(docs, maxOcc = 16).count() == 0)
    // under the default cap (occ 40 <= 64) all C(40,2) pairs report it
    assert(spansOf(docs).count() == 40L * 39 / 2)
  }

  test("span source matrix attributes quote flow by (source_a, source_b)") {
    // quote flows wiki->blog (docs 1->2) and wiki->wiki (docs 1->3):
    // pair orientation is doc-id order, so cells are (src(min), src(max))
    val docs = Seq(
      (1L, s"$quote ${(1 to 10).map(i => s"a$i").mkString(" ")}", "wiki"),
      (2L, s"${(1 to 7).map(i => s"b$i").mkString(" ")} $quote", "blog"),
      (3L, s"$quote ${(1 to 10).map(i => s"c$i").mkString(" ")}", "wiki"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.spanSourceMatrixOf(
      TextOps.posShinglesOf(TextOps.withWords(TextOps.normalize(docs))),
      docs, maxOcc = 64)
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("wiki", "blog", 1L, 1L, 20L),   // 1->2
      ("wiki", "wiki", 1L, 1L, 20L),   // 1->3
      ("blog", "wiki", 1L, 1L, 20L)))  // 2->3 (quote shared transitively)
  }

  test("span histogram buckets the planted quote by ⌊log2 words⌋") {
    val docs = Seq(
      (1L, s"a1 a2 a3 $quote z1 z2"),
      (2L, s"b1 $quote y1 y2 y3")).toDF("doc_id", "text")
    val hist = Dedup.substringSpanHistOf(
      TextOps.posShinglesOf(TextOps.withWords(TextOps.normalize(docs))))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // one 20-word span: bucket ⌊log2 20⌋ = 4, 1 span, 1 pair, max 20
    assert(hist == Seq((4L, 1L, 1L, 20L)))
  }

  test("quote-heavy docs: dup words over token count, per doc") {
    // doc 1 = quote + 20 filler, doc 2 = quote + 5 filler: same dup_words
    // (20), different token counts -> different ppm
    val docs = Seq(
      (1L, s"$quote ${(1 to 20).map(i => s"f$i").mkString(" ")}"),
      (2L, s"${(1 to 5).map(i => s"g$i").mkString(" ")} $quote"))
      .toDF("doc_id", "text")
    val dw = TextOps.withWords(TextOps.normalize(docs))
    val out = Dedup.quoteHeavyDocsOf(
      TextOps.posShinglesOf(dw), TextOps.textStatsOf(dw))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 1L, 20L, 40L, 500000L),   // 20 dup words of 40
      (2L, 1L, 20L, 25L, 800000L)))  // 20 of 25
  }

  test("trainer drift monitor reads 100% agreement when the sample " +
       "covers the corpus") {
    val out = Vectors.kmeansSampleDrift(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.size == 1 && out.head._1 == out.head._2 &&
      out.head._3 == 1000000L)
  }
}
