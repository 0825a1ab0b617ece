package graft.ops

import graft.SparkSpec

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = TextOps.normalize(Seq(
    (0L, "en", "The quick, brown fox is on the mat!"),
    (1L, "de", "der hund und die katze ist nicht da"))
    .toDF("doc_id", "lang", "text"))

  test("normalization lowercases, collapses whitespace, trims") {
    val n = docs.where($"doc_id" === 0L).select("norm").as[String].head()
    assert(n == "the quick, brown fox is on the mat!")
  }

  test("text stats: tokens, word tokens, punctuation, stopwords") {
    val s = TextOps.textStatsOf(TextOps.withWords(docs))
      .where($"doc_id" === 0L)
      .select("n_tokens", "n_word_tokens", "punct_cnt", "stop_cnt")
      .as[(Long, Long, Long, Long)].head()
    // tokens: the quick, brown fox is on the mat! -> 8 ws tokens
    // word tokens: 8; punct: ',' + '!' = 2; stop: the, is, on, the = 4
    assert(s == ((8L, 8L, 2L, 4L)))
  }

  test("quality score stays in [0,1]") {
    val q = TextOps.qualityScoreOf(TextOps.textStatsOf(TextOps.withWords(docs)))
      .select("quality").as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("langId picks the marker-dominant language") {
    val m = TextOps.langIdOf(TextOps.withWords(docs))
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(m(0L) == "en")
    assert(m(1L) == "de")
  }

  test("tfidf: integer-log2 idf scores and per-doc ranks") {
    // N=4 docs; "apple" in 1 doc (ilog2(4/1)=2), "banana" in 2 (ilog2 1),
    // "cherry" in all 4 (ilog2 0)
    val d = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "apple apple banana cherry"),
      (1L, "banana cherry"),
      (2L, "cherry"),
      (3L, "cherry"))
      .toDF("doc_id", "text")))
    val got = TextOps.tfidfTopOf(d, k = 3)
      .select("doc_id", "w", "tf", "df", "score", "rank")
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got((0L, "apple")) == ((0L, "apple", 2L, 1L, 4L, 1L)))
    assert(got((0L, "banana")) == ((0L, "banana", 1L, 2L, 1L, 2L)))
    assert(got((0L, "cherry"))._5 == 0L) // ubiquitous term scores 0
    assert(got((1L, "banana"))._6 == 1L) // doc 1's top term
  }

  test("collocPmi: ilog2 surrogate, support floor, deterministic ranks") {
    val d = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "new york is big"),
      (1L, "new york is old"),
      (2L, "the the the the"))
      .toDF("doc_id", "text")))
    // N=9 bigrams; unigrams: new 2, york 2, is 2, big 1, old 1, the 4
    // pmi = L(n_pair)+L(9)-L(n_w1)-L(n_w2), L = floor(log2):
    //   (new,york) 1+3-1-1=2 n=2; (york,is) 2 n=2; (is,big)/(is,old)
    //   0+3-1-0=2 n=1; (the,the) 1+3-2-2=0 n=3
    val r = TextOps.collocPmiOf(d, k = 10, minCount = 1L)
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(r == Seq(
      (1L, "new", "york", 2L, 2L),
      (2L, "york", "is", 2L, 2L),
      (3L, "is", "big", 1L, 2L),
      (4L, "is", "old", 1L, 2L),
      (5L, "the", "the", 3L, 0L)))
    // the default support floor drops everything in this tiny fixture
    assert(TextOps.collocPmiOf(d, k = 10).count() == 0L)
  }

  test("bigram top-k: counts, rank tiebreak, short docs contribute none") {
    // 5-, 2-, 1- and 0-word docs: only the first two have a bigram
    val d = Seq((0L, "s1", Seq("a", "b", "a", "b", "c")),
                (1L, "s1", Seq("a", "b")),
                (2L, "s2", Seq("solo")),
                (3L, "s2", Seq.empty[String]))
      .toDF("doc_id", "source", "words")
    val got = TextOps.bigramFreqOf(d, k = 10)
      .select("bigram", "n", "rank").as[(String, Long, Long)]
      .collect().sortBy(_._3).toSeq
    // "a b": doc0 twice + doc1 once = 3; "b a", "b c" once each
    assert(got == Seq(("a b", 3L, 1L), ("b a", 1L, 2L), ("b c", 1L, 3L)))
    // N=5 pairs; unigrams a 3, b 3, c 1: pmi(a,b) = 1+2-1-1 = 1,
    // pmi(b,c) = 0+2-1-0 = 1, pmi(b,a) = 0+2-1-1 = 0
    val pmi = TextOps.collocPmiOf(d, k = 10, minCount = 1L)
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(pmi == Seq((1L, "a", "b", 3L, 1L), (2L, "b", "c", 1L, 1L),
                      (3L, "b", "a", 1L, 0L)))
    // heads a 3, b 2; doc0: ab 0 + ba (1-0) + ab 0 + bc (1-0) = 2
    val sur = TextOps.bigramSurprisalOf(d)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(sur == Seq((0L, 4L, 2L, 500000L), (1L, 1L, 0L, 0L)))
    // s2's docs have no bigram, so s2 has no row
    val div = TextOps.sourceBigramDiversityOf(d)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(div == Seq(("s1", 5L, 3L, 600000L)))
  }

  test("a 2-word doc is its own one shingle and has no positional shingle") {
    val d = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "Hello   World"), (1L, "one two three"))
      .toDF("doc_id", "text")))
    val sh = TextOps.shinglesOf(d).as[(Long, String)].collect().sortBy(_._1)
    assert(sh.toSeq == Seq((0L, "hello world"), (1L, "one two three")))
    val pos = TextOps.posShinglesOf(d).select("doc_id", "pos")
      .as[(Long, Long)].collect().toSeq
    assert(pos == Seq((1L, 0L)))
  }

  test("language ID ties: all-zero scores pick en, a de = fr tie picks de") {
    val d = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "xx", "qqq zzz"),          // no marker word, no marker trigram
      (1L, "xx", "der le"),           // one de and one fr marker word
      (2L, "xx", "sch les"))          // one de and one fr marker trigram
      .toDF("doc_id", "lang", "text")))
    def pred(f: org.apache.spark.sql.DataFrame) =
      f.select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    val words = pred(TextOps.langIdOf(d))
    assert(words(0L) == "en")
    assert(words(1L) == "de")
    val grams = pred(TextOps.langIdNgramOf(d))
    assert(grams(0L) == "en")
    assert(grams(2L) == "de")
  }

  test("contamination: docs sharing needle shingles are counted, others not") {
    val d = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "alpha beta gamma delta"),        // needle doc
      (1L, "x alpha beta gamma y"),          // shares "alpha beta gamma"
      (2L, "nothing in common here at all"))
      .toDF("doc_id", "text")))
    val sh = TextOps.shinglesOf(d)
    val hits = TextOps.contaminationOf(sh, sh.where($"doc_id" === 0L))
      .as[(Long, Long)].collect().toMap
    assert(hits(0L) == 2L) // both of its own shingles
    assert(hits(1L) == 1L)
    assert(!hits.contains(2L))
  }

  test("pii scan: email and phone patterns count; clean docs flag false") {
    val d = TextOps.normalize(Seq(
      (0L, "contact me at John.Doe@example.com or 555-123-4567 today"),
      (1L, "no personal data in this document"))
      .toDF("doc_id", "text"))
    val m = TextOps.piiScanOf(d)
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(m(0L) == ((0L, 1L, 1L, true)))
    assert(m(1L) == ((1L, 0L, 0L, false)))
  }

  test("repetition ratio: repeated shingles raise it, unique text scores 0") {
    val d = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "spam spam spam spam spam spam"), // 4 shingles, 1 distinct
      (1L, "each word here is fully unique"))
      .toDF("doc_id", "text")))
    val m = TextOps.repetitionOf(d, TextOps.shinglesOf(d))
      .select("doc_id", "n_total", "n_distinct", "rep_ratio")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(m(0L) == ((0L, 4L, 1L, 0.75)))
    assert(m(1L)._4 == 0.0)
  }

  test("bm25: hand-computed integer scores, rank order, absent docs dropped") {
    // N=3, tot=11, avgdl=11 div 3=3; every term df=1 -> w_t=3000
    // d0 rel=400 div 3=133:
    //   spark tf=2: (3000*440) div (200+(120*(2500+75*133)) div 100) = 87
    //   hash  tf=1: (3000*220) div (100+14970)                       = 43
    // d1 rel=500 div 3=166:
    //   join  tf=3: (3000*660) div (300+(120*(2500+75*166)) div 100) = 108
    val dw = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "spark spark hash x"),
      (1L, "join join join y z"),
      (2L, "alpha beta"))
      .toDF("doc_id", "text")))
    val got = TextOps.bm25TopOf(dw, Seq("spark", "hash", "join"))
      .select("doc_id", "score", "n_terms_hit", "rank")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4).toSeq
    assert(got == Seq((0L, 130L, 2L, 1L), (1L, 108L, 1L, 2L)))
  }

  test("bm25: longer docs score below shorter ones at equal tf (length norm)") {
    val dw = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "needle a b"),
      (1L, "needle a b c d e f g h i j k l m n o p q r s t u v w x y z"))
      .toDF("doc_id", "text")))
    val m = TextOps.bm25TopOf(dw, Seq("needle"))
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    assert(m(0L) > m(1L))
  }

  test("fingerprint: identical normalized docs get identical fingerprints") {
    val two = TextOps.normalize(Seq(
      (0L, "same text here okay"), (1L, "Same   text here okay"))
      .toDF("doc_id", "text"))
    val fp = TextOps.fingerprintOf(two,
      TextOps.shinglesOf(TextOps.withWords(two)))
      .select("md5_norm", "min_shingle_hash").as[(String, String)].collect()
    assert(fp.distinct.length == 1)
  }

  test("token fertility: ppm-exact chars-per-token per language") {
    // en: "ab cd" (5 chars, 2 tokens) + "a b c" (5 chars, 3 tokens)
    //   -> 10 chars / 5 tokens = 2.000000 -> 2_000_000 ppm
    // de: "abcdefg" (7 chars, 1 token) -> 7_000_000 ppm
    val dw = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "en", "ab cd"), (1L, "en", "a b c"), (2L, "de", "abcdefg"))
      .toDF("doc_id", "lang", "text")))
    val r = TextOps.tokenFertilityOf(dw)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(r("en") == ((2L, 10L, 5L, 2000000L)))
    assert(r("de") == ((1L, 7L, 1L, 7000000L)))
    // non-integral ratio: 7 chars / 3 tokens = 2.333333 -> truncated ppm
    val dw2 = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "fr", "ab c d")).toDF("doc_id", "lang", "text")))
    assert(TextOps.tokenFertilityOf(dw2).select("fert_ppm")
      .as[Long].head() == 2000000L)
    val dw3 = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "fr", "abc d e")).toDF("doc_id", "lang", "text")))
    assert(TextOps.tokenFertilityOf(dw3).select("fert_ppm")
      .as[Long].head() == 2333333L)
  }

  test("unigram surprisal: rare tokens score high, the ilog2 sums are exact") {
    // corpus: a a a a b c  (N=6; bin-lengths: N->3, a(4)->3, b(1)->1, c->1)
    // doc 0 = "a a a a" -> 4 tokens, each s = 3-3 = 0 -> surprisal 0
    // doc 1 = "b c"     -> 2 tokens, each s = 3-1 = 2 -> surprisal 4,
    //   mean_ppm = 4*1e6 div 2 = 2_000_000
    val dw = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "a a a a"), (1L, "b c")).toDF("doc_id", "text")))
    val r = TextOps.unigramSurprisalOf(dw)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r(0L) == ((4L, 0L, 0L)))
    assert(r(1L) == ((2L, 4L, 2000000L)))
  }

  test("token drift: exact ppm per split, signed difference, val excluded") {
    // train: "a a b" + "a c" (5 tokens: a=3, b=1, c=1)
    // test:  "a b b b" (4 tokens: a=1, b=3); val doc must not count
    val dw = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "a a b"), (1L, "a c"), (2L, "a b b b"), (3L, "zzz zzz zzz"))
      .toDF("doc_id", "text")))
    val split = Seq((0L, "train"), (1L, "train"), (2L, "test"), (3L, "val"))
      .toDF("doc_id", "split")
    val r = TextOps.tokenFreqDriftOf(dw, split, k = 3)
      .select("rank", "w", "n_train", "n_test", "f_train_ppm", "f_test_ppm",
              "drift_ppm")
      .as[(Long, String, Long, Long, Long, Long, Long)].collect().toSeq
      .sortBy(_._1)
    assert(r == Seq(
      (1L, "a", 3L, 1L, 600000L, 250000L, -350000L),
      (2L, "b", 1L, 3L, 200000L, 750000L, 550000L),
      (3L, "c", 1L, 0L, 200000L, 0L, -200000L)))
  }

  test("char entropy surrogate: concentrated chars score 0, spread scores up") {
    // "aaaa": n=4 ilog2=2 -> 4*2 - 4*2 = 0 (maximally concentrated)
    // "aab":  n=3 ilog2=1 -> 3*1 - (2*1 + 1*0) = 1
    val d = TextOps.normalize(Seq((0L, "aaaa"), (1L, "aab"))
      .toDF("doc_id", "text"))
    val r = TextOps.charEntropyOf(d)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r(0L) == ((4L, 1L, 0L)))
    assert(r(1L) == ((3L, 2L, 1L)))
  }

  test("char entropy splits by code point — non-BMP chars stay whole") {
    // U+1F600 is two UTF-16 code units; a surrogate-blind split would see
    // "😀😀a" as 5 chars (3 distinct). Code-point
    // split (= DuckDB string_split(s,'')) sees 3 chars, 2 distinct:
    // n=3 ilog2=1 -> 3*1 - (2*1 + 1*0) = 1
    val d = TextOps.normalize(Seq((0L, "😀😀a"))
      .toDF("doc_id", "text"))
    val r = TextOps.charEntropyOf(d)
      .as[(Long, Long, Long, Long)].head()
    assert(r == ((0L, 3L, 2L, 1L)))
  }

  test("ngram novelty: shared shingles are not novel, df=1 shingles are") {
    val docs = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "alpha beta gamma delta"),   // shingles: ab-g, b-g-d
      (1L, "alpha beta gamma epsilon"), // shares "alpha beta gamma"
      (2L, "zeta eta theta iota"))      // fully novel
      .toDF("doc_id", "text")))
    val r = TextOps.ngramNoveltyOf(TextOps.shinglesOf(docs))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r(2L) == ((2L, 2L, 1000000L)))          // all df=1
    assert(r(0L) == ((2L, 1L, 500000L)))           // one shared, one unique
    assert(r(1L) == ((2L, 1L, 500000L)))
  }

  test("incremental novelty: history shingles are not novel") {
    // cutoff = max(9)*9 div 10 = 8 -> doc 9 is the batch
    val sh = Seq(
      (0L, "a b c"), (5L, "d e f"),           // history
      (9L, "a b c"), (9L, "x y z"), (9L, "p q r")) // batch doc 9
      .toDF("doc_id", "shingle")
    val r = TextOps.ngramNoveltyIncOf(sh)
      .as[(Long, Long, Long, Long)].head()
    assert(r == ((9L, 3L, 2L, 666666L)))
  }

  test("charset profile counts code points, non-BMP chars included") {
    val docs = TextOps.normalize(Seq(
      (0L, "src1", "abc"), (1L, "src1", "a😀b"), (2L, "src2", "xyz"))
      .toDF("doc_id", "source", "text"))
    val r = TextOps.charsetProfileOf(docs)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    // src1: 5 ascii + 1 emoji (ONE code point, not two surrogate halves)
    assert(r("src1") == ((2L, 5L, 1L, 166666L)))
    assert(r("src2") == ((1L, 3L, 0L, 0L)))
  }

  test("bigram surprisal: conditional ilog2 difference per doc") {
    val dw = Seq(
      (1L, Seq("a", "b")), (2L, Seq("a", "b")), (3L, Seq("a", "c")))
      .toDF("doc_id", "words")
    val r = TextOps.bigramSurprisalOf(dw)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // heads: a=3; pairs: (a,b)=2, (a,c)=1
    assert(r(1L) == ((1L, 0L, 0L)))       // ilog2-len(3)-len(2) = 2-2
    assert(r(3L) == ((1L, 1L, 1000000L))) // len(bin 3)-len(bin 1) = 2-1
  }

  test("lexical diversity: map-side token/type counts") {
    val dw = Seq((1L, Seq("a", "b", "a")), (2L, Seq("x")))
      .toDF("doc_id", "words")
    val r = TextOps.lexicalDiversityOf(dw)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r(1L) == ((3L, 2L, 666666L)))
    assert(r(2L) == ((1L, 1L, 1000000L)))
  }

  test("length trim: discrete p5/p95 picks and side counts") {
    val dw = (1 to 20).map(i => (i.toLong, "en", Seq.fill(i)("w")))
      .toDF("doc_id", "lang", "words")
    val r = TextOps.lengthTrimOf(dw)
      .as[(String, Long, Long, Long, Long, Long, Long)].head()
    // n=20: p5 at rank ceil(20/20)=1 -> 1; p95 at ceil(380/20)=19 -> 19
    assert(r == (("en", 20L, 1L, 19L, 0L, 1L, 19L)))
  }

  test("source bigram diversity: repeats collapse, ratio in ppm") {
    val dw = Seq((1L, "s1", Seq("a", "b", "a", "b")),
                 (2L, "s2", Seq("x", "y")))
      .toDF("doc_id", "source", "words")
    val r = TextOps.sourceBigramDiversityOf(dw)
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r("s1") == ((3L, 2L, 666666L))) // ab, ba, ab
    assert(r("s2") == ((1L, 1L, 1000000L)))
  }

  test("contrastive terms: log-odds surrogate ranks source-exclusive up") {
    val dw = Seq(
      (1L, "s1", Seq("apple", "apple", "apple", "pear", "pear")),
      (2L, "s2", Seq("apple", "zebra", "zebra", "zebra")))
      .toDF("doc_id", "source", "words")
    val r = TextOps.contrastiveTermsOf(dw, k = 2, minCount = 2L)
      .as[(String, Long, String, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5, t._6))).toMap
    // s2/zebra: n_sw=3 exclusive -> ilog2(3)-ilog2(0+1) = 1
    assert(r(("s2", 1L)) == (("zebra", 3L, 0L, 1L)))
    // s1/pear: n_sw=2 exclusive -> ilog2(2)-ilog2(1) = 1; beats apple's 0
    assert(r(("s1", 1L)) == (("pear", 2L, 0L, 1L)))
    assert(r(("s1", 2L)) == (("apple", 3L, 1L, 0L)))
  }

  test("hapax: per-source once-words and ppm ratios") {
    val dw = Seq(
      (1L, "s1", Seq("a", "a", "b", "c")),
      (2L, "s1", Seq("a", "d")),
      (3L, "s2", Seq("x", "x")))
      .toDF("doc_id", "source", "words")
    val r = TextOps.hapaxRateOf(dw)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5, t._6))).toMap
    // s1: tokens 6, vocab {a:3,b:1,c:1,d:1} -> 4, hapax 3
    assert(r("s1") == ((6L, 4L, 3L, 750000L, 500000L)))
    // s2: tokens 2, vocab {x:2}, hapax 0
    assert(r("s2") == ((2L, 1L, 0L, 0L, 0L)))
  }

  test("readability: integer centiratios per language") {
    // en: norm "ab cd. ef" -> 9 chars, 3 tokens, 2 sentences
    val docs = Seq((1L, "ab cd. ef", "en"), (2L, "x y", "de"))
      .toDF("doc_id", "text", "lang")
    val r = TextOps.readabilityOf(TextOps.withWords(TextOps.normalize(docs)))
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r("en") == ((1L, 300L, 150L))) // 9*100/3, 3*100/2
    assert(r("de") == ((1L, 150L, 200L))) // 3*100/2, 2*100/1
  }
}
