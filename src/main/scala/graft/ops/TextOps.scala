package graft.ops

import graft.Memo.TruncateOps
import graft.etl.Feeds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface beyond the reference (BASELINE.json north
  * star): token counting, quality scoring, n-gram language ID, document
  * fingerprinting.
  *
  * All operators are pure Column expressions (whole-stage codegen, no UDFs).
  * Per-doc word work uses array higher-order functions (`filter`/`size`)
  * instead of explode+groupBy where possible — no shuffle at all for the
  * per-document statistics; these scale embarrassingly-parallel over doc
  * partitions at 100 TB.
  *
  * `*Of` variants take the input DataFrame (unit-testable on fixtures);
  * the (spark, dir) variants read the driver's documents.parquet.
  */
object TextOps {

  /** Canonical normalization shared by every text operator (and mirrored
    * byte-for-byte in the DuckDB oracle): lowercase, whitespace-collapse,
    * trim. Input needs a `text` column. */
  def normalize(documents: DataFrame): DataFrame =
    documents.withColumn("norm",
      lower(trim(regexp_replace(col("text"), "\\s+", " "))))

  def withWords(docsNorm: DataFrame): DataFrame =
    docsNorm.withColumn("words", split(col("norm"), " "))

  def docs(spark: SparkSession, dir: String): DataFrame =
    normalize(Feeds.table(spark, dir, "documents"))

  def docsWords(spark: SparkSession, dir: String): DataFrame =
    withWords(docs(spark, dir))

  private val stoplist =
    "'the','a','of','and','to','in','is','it','for','on'"

  /** Whitespace tokens, regex word tokens, punctuation and stopword counts. */
  def textStatsOf(docsWords: DataFrame): DataFrame =
    docsWords.select(
      col("doc_id"),
      length(col("norm")).cast("long").as("n_chars_norm"),
      size(col("words")).cast("long").as("n_tokens"),
      expr("regexp_count(norm, '[a-z0-9]+')").cast("long").as("n_word_tokens"),
      (length(col("norm")) -
        length(regexp_replace(col("norm"), "[.,;:!?]", "")))
        .cast("long").as("punct_cnt"),
      expr(s"size(filter(words, w -> w IN ($stoplist)))")
        .cast("long").as("stop_cnt"))

  // r18: the per-doc stats frame feeds a dozen query families (quality,
  // readability, length histograms/moments, the curation chains, the
  // quote-heavy rollups) — each call re-ran the normalize + split +
  // 4-regex scan without the memo. Six small numeric columns per doc:
  // tiny to hold, expensive to recompute. Same contract as shingles.
  def textStats(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "text.stats") {
      textStatsOf(docsWords(spark, dir)).staged
    }

  /** Composite quality score in [0,1]: length, punctuation-density and
    * stopword-ratio components (deterministic double arithmetic — the
    * expression tree is identical in the oracle, so results are
    * bit-identical). */
  def qualityScoreOf(stats: DataFrame): DataFrame =
    stats.select(
      col("doc_id"),
      expr(
        """least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
           + (1.0 - least(CAST(punct_cnt AS DOUBLE)
                          / CAST(n_chars_norm AS DOUBLE) * 5.0, 1.0)) * 0.3
           + least(CAST(stop_cnt AS DOUBLE)
                   / CAST(n_tokens AS DOUBLE) * 4.0, 1.0) * 0.2""")
        .as("quality"))

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreOf(textStats(spark, dir))

  /** Corpus length distribution in power-of-2 token buckets (bucket =
    * [[ilog2]] of n_tokens) — the length histogram every dataset card
    * ships and every packing/truncation decision reads.
    *
    * Scale shape: map-side bucket assignment fused into the stats scan,
    * then one partial-agg groupBy on the ~30-value bucket key — output is
    * constant-sized at any corpus scale. */
  def docLenHistOf(stats: DataFrame): DataFrame =
    stats
      .select(
        ilog2(greatest(col("n_tokens"), lit(1))).as("bucket"),
        col("n_tokens"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tokens").as("sum_tokens"),
           min("n_tokens").as("min_tokens"),
           max("n_tokens").as("max_tokens"))

  /** Per-language scores `<p>_en` … `<p>_es`, one `score(marker)` per
    * language, and their pinned argmax: a tie goes to the language listed
    * first (en ≥ de ≥ fr ≥ es), so an all-zero doc predicts `en`. Both
    * language-ID forms rank through it. Input needs doc_id and lang. */
  private def langArgmaxOf(frame: DataFrame, p: String,
                           markers: Seq[(String, String)])
                          (score: String => String): DataFrame = {
    val cols = markers.map { case (l, _) => s"${p}_$l" }
    val arms = cols.indices.init.map { i =>
      val beats = cols.drop(i + 1).map(o => s"${cols(i)} >= $o")
      s"WHEN ${beats.mkString(" AND ")} THEN '${markers(i)._1}'"
    }
    frame
      .select(col("doc_id") +: col("lang") +: markers.map { case (l, m) =>
        expr(score(m)).cast("long").as(s"${p}_$l") }: _*)
      .select(col("doc_id") +: cols.map(col) :+
        expr(s"CASE ${arms.mkString(" ")} ELSE '${markers.last._1}' END")
          .as("pred_lang") :+ col("lang"): _*)
      .withColumn("correct", col("pred_lang") === col("lang"))
  }

  private val wordMarkers = Seq(
    "en" -> "'the','a','of','and','to','is'",
    "de" -> "'der','die','das','und','ist','nicht'",
    "fr" -> "'le','la','les','et','est','dans'",
    "es" -> "'el','los','las','y','es','en'")

  /** Marker-word (1-gram) language scoring with the pinned argmax of
    * [[langArgmaxOf]]. Real-world accuracy needs real marker lists; the
    * operator shape — per-language counts + deterministic argmax — is what
    * scales. Input needs doc_id, lang, words. */
  def langIdOf(docsWords: DataFrame): DataFrame =
    langArgmaxOf(docsWords, "s", wordMarkers)(
      ws => s"size(filter(words, w -> w IN ($ws)))")

  /** Language-ID confusion matrix — predicted vs labeled language counts,
    * the accuracy readout every classifier-in-the-pipeline ships with
    * (which languages leak into which). One partial-agg groupBy on the
    * 16-cell (lang, pred_lang) key over the per-doc predictions —
    * constant-sized output at any corpus scale. */
  def langConfusionOf(langId: DataFrame): DataFrame =
    langId.groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))

  /** Character-n-gram language ID — the classic n-gram-profile heuristic
    * at its minimum: per-language counts of characteristic character
    * trigrams over the normalized text (regexp alternation = one
    * non-overlapping scan per language), argmax with the same pinned
    * order as [[langIdOf]] ([[langArgmaxOf]]). Map-side only, like every
    * text operator.
    * Real systems use ranked profile distance over the top-k corpus
    * n-grams; the shape — per-language feature counts + deterministic
    * argmax — is identical. */
  private val triMarkers = Seq(
    "en" -> "(the|and|ing|ion)",
    "de" -> "(der|sch|ein|ich)",
    "fr" -> "(les|ent|des|une)",
    "es" -> "(los|ado|una|ción)")

  def langIdNgramOf(docsNorm: DataFrame): DataFrame =
    langArgmaxOf(docsNorm, "t", triMarkers)(
      pat => s"regexp_count(norm, '$pat')")

  /** The adjacent-word window over `words`: for each start offset i in
    * 0..size(words) − n, one element `gram(words[i], …, words[i+n−1])`
    * (SQL fragments in, one SQL fragment out). Under n words `sequence`
    * would count down from 0 and index outside `words`, so every caller
    * guards with `size(words) >= n` and picks its own short-doc fallback. */
  private def ngramWindow(n: Int)(gram: Seq[String] => String): String = {
    val ws = "words[i]" +: (1 until n).map(j => s"words[i+$j]")
    s"transform(sequence(0, size(words) - $n), i -> ${gram(ws)})"
  }

  private def joined(ws: Seq[String]) = s"concat_ws(' ', ${ws.mkString(", ")})"

  /** Word-bigram strings `w1 w2`; docs under 2 words give none. */
  private def bigrams = expr(s"""CASE WHEN size(words) >= 2
    THEN ${ngramWindow(2)(joined)} ELSE CAST(array() AS ARRAY<STRING>) END""")

  /** Word-bigram `(w1, w2)` structs; docs under 2 words give none. */
  private def bigramPairs = expr(s"""CASE WHEN size(words) >= 2
    THEN ${ngramWindow(2)(ws => s"struct(${ws(0)} AS w1, ${ws(1)} AS w2)")}
    ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END""")

  /** Word-3-gram shingles (fallback: the whole normalized doc when shorter
    * than 3 words), deduplicated per doc. The base of MinHash / Jaccard. */
  def shinglesOf(docsWords: DataFrame): DataFrame =
    docsWords
      .select(col("doc_id"), explode(expr(s"""CASE WHEN size(words) >= 3
        THEN ${ngramWindow(3)(joined)} ELSE array(norm) END""")).as("shingle"))
      .distinct()

  /** POSITIONAL word-3-gram shingle hashes — (doc_id, pos, sh) with the
    * 0-based word offset kept and NO per-doc dedup: the substring-tier
    * dedup input ([[Dedup.substringSpansOf]]), where runs of consecutive
    * positions are the signal the distinct-set shingles erase. Hashed at
    * the source — `unhex(md5(...))`, the raw 16-BYTE digest (r19, guide
    * §2.3 narrower types: the hex rendering doubled every downstream
    * shuffle/index key to 32 bytes for zero information; unhex is
    * bijective on md5 output so grouping/join semantics are identical,
    * and no query ever emits `sh` itself). Docs under 3 words emit no
    * row (a sub-3-word doc has no 3-gram span by definition). Map-side
    * explode — scales like [[shinglesOf]]. */
  def posShinglesOf(docsWords: DataFrame): DataFrame =
    docsWords
      .where(expr("size(words) >= 3"))
      .select(col("doc_id"), posexplode(expr(
        ngramWindow(3)(ws => s"unhex(md5(${joined(ws)}))")))
        .as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("sh"))

  // r18: memoized + checkpointed — the positional explode (corpus-words
  // rows) feeds the span-run grain, the incremental-run grain, the
  // index-stats audit and the ingest-debt ledger; the latter two re-ran
  // the full explode + md5 per call without the memo.
  def posShingles(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "text.pos-shingles") {
      posShinglesOf(docsWords(spark, dir)).staged
    }

  // The distinct-shingle set feeds five query families (jaccard,
  // fingerprint, contamination, repetition, curation v2) — memoize and
  // persist one instance per (session, dir) so the explode+distinct
  // shuffle runs once, not per consumer. Same stale-read contract as
  // every [[graft.Caches]] grain.
  def shingles(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "text.shingles") {
      shinglesOf(docsWords(spark, dir)).staged
    }

  // The (doc, word) term-frequency frame feeds four plan positions in the
  // bag-cosine verify tier alone (both dot sides + both norm attaches) —
  // without the memo Catalyst plans FOUR full docs scans+explodes per
  // query (plan-audited, round 13). Same contract as shingles.
  /** Memoized (doc_id, w, tf) term frequencies over the whitespace
    * tokens. */
  def tf(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.grain(spark, dir, "text.tf") {
      docsWords(spark, dir)
        .select(col("doc_id"), explode(col("words")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        .staged
    }

  /** Full-doc md5 + min-shingle-hash fingerprint (rolling-hash-style
    * winnowing reduced to its minimum: the smallest k-gram hash). */
  def fingerprintOf(docsNorm: DataFrame, shingles: DataFrame): DataFrame =
    docsNorm.select(col("doc_id"), md5(col("norm")).as("md5_norm"))
      .join(
        shingles.groupBy("doc_id")
          .agg(min(md5(col("shingle"))).as("min_shingle_hash")),
        Seq("doc_id"))
      .select("doc_id", "md5_norm", "min_shingle_hash")

  /** Corpus word-frequency top-k — the vocabulary/Zipf profile a tokenizer
    * build starts from. Two-phase count (map-side partial agg on word),
    * then the global [[topKHead]] (TakeOrdered, no full sort): rank by
    * (count desc, word) for a deterministic tiebreak. Integer-only output —
    * trivially cross-engine. */
  def wordFreqOf(docsWords: DataFrame, k: Int = 100): DataFrame =
    topKHead(docsWords.select(explode(col("words")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n")), k, "rank")(
      col("n").desc, col("w"))

  /** Per-doc top-k terms by TF-IDF — the term-salience profile feeding
    * keyword extraction / topic labeling in a curation pipeline.
    *
    * Scoring is ALL-INTEGER for bit-stable cross-engine results (same rule
    * as the quantized cosine scores): idf is [[ilog2]] of N div df, and
    * score = tf * ilog2(N/df); ties break by term.
    *
    * Scale: tf is a (doc, term) partial-agg groupBy; df rides a COUNT
    * window partitioned by term over the SAME aggregate — tf's grain is
    * exactly one row per distinct (doc, term), so counting its rows per
    * term IS the document frequency (r18, guide §2.4: the old plan
    * exploded the corpus a second time into a distinct + groupBy branch
    * and joined it back on term — one extra corpus scan, one distinct
    * shuffle and one join exchange for a value the first aggregate
    * already determines). N joins as a 1-row broadcast. The top-k window
    * partitions by doc — bounded by terms-per-doc, never global. */
  def tfidfTopOf(docsWords: DataFrame, k: Int = 3): DataFrame = {
    val wf = docsWords.select(col("doc_id"), explode(col("words")).as("w"))
    val tf = wf.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val n = docsWords.select(countDistinct("doc_id").as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("w")))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * ilog2(expr("n_docs div df")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("w"))).cast("long"))
      .where(col("rank") <= k)
      .select("doc_id", "w", "tf", "df", "score", "rank")
  }

  /** BM25-shaped relevance ranking of the corpus against a fixed query —
    * the retrieval scorer a data pipeline uses for "find training docs
    * about X" sweeps. Top-k docs by summed per-term score, ties by doc_id.
    *
    * Scoring is ALL-INTEGER (house rule, same reason as tfidf): each term
    * contributes
    *   w_t · (tf·220) div (100·tf + (120·(2500 + 75·rel)) div 100)
    * which is the BM25 saturation term with k1=1.2, b=0.75 quantized to
    * hundredths, where rel = (dl·100) div avgdl is the doc-length ratio in
    * percent and avgdl = total_tokens div N. The term weight is the LINEAR
    * rarity w_t = (1000·N) div df rather than log-idf: on this corpus's
    * ~30-word vocabulary every df is within 2× of N, so integer log2(N/df)
    * would be uniformly zero and rank nothing, while the linear weight
    * keeps the same rarer-counts-more monotonicity at full integer
    * resolution. (At a real corpus's df spread, swap w_t for the tfidf
    * operator's `ilog2(N div df)` — one line, same plan.)
    *
    * Determinism: every operand is a BIGINT and `div` floors exactly like
    * DuckDB's `//` on these non-negative values; the per-doc sum is an
    * integer sum of ≤|terms| values, so accumulation order can't change
    * it. Scale: tf is a (doc, dl, term) partial agg pre-filtered to the
    * query terms map-side (the scan keeps only matching tokens, so the
    * shuffle carries ≤|terms| rows per doc, with the doc length riding
    * the grouping key — no per-doc-length join); df re-aggregates the
    * collapsed tf rows; df and the corpus stats join as |terms|-row /
    * 1-row broadcasts; the final top-k is the [[topKHead]] — no global
    * sort, no global window. */
  def bm25TopOf(docsWords: DataFrame, terms: Seq[String],
                k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val stats = docsWords.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(size(col("words"))).cast("long").as("tot_tokens"))
    // dl rides the tf grouping key (functionally dependent on doc_id), so
    // no separate per-doc-length relation or join exists; df is one more
    // partial agg over the already-collapsed tf rows (≤|terms| per doc)
    val tf = docsWords
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"),
              explode(col("words")).as("w"))
      .where(col("w").isin(terms: _*))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfq), "w")
      .crossJoin(broadcast(stats))
      .withColumn("rel",
        expr("(dl * 100L) div (tot_tokens div n_docs)"))
      .withColumn("term_score", expr(
        "((1000L * n_docs) div df) * (tf * 220L) div " +
          "(100L * tf + (120L * (2500L + 75L * rel)) div 100L)"))
      .groupBy("doc_id")
      .agg(sum(col("term_score")).as("score"),
           count(lit(1)).as("n_terms_hit"))
    topKHead(scored, k, "rank")(col("score").desc, col("doc_id"))
  }

  /** Benchmark DECONTAMINATION — the curation step that removes training
    * docs overlapping an eval set: count per doc the distinct 3-gram
    * shingles it shares with the needle set. The needle set is tiny
    * relative to the corpus (an eval suite), so the join broadcasts it;
    * docs shingle map-side; output only matching docs. */
  def contaminationOf(shingles: DataFrame, needles: DataFrame): DataFrame =
    shingles
      .join(broadcast(needles.select(col("shingle")).distinct()), Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))

  /** Query form: docs 0-4's shingles play the "benchmark" needle set. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir)
    contaminationOf(sh, sh.where(col("doc_id") < 5))
  }

  /** PII pattern scan — per-doc counts of email- and phone-shaped spans
    * over the normalized text plus a has_pii flag. Map-side regex only;
    * patterns kept to the regex subset with identical semantics in Java
    * (Spark) and RE2 (DuckDB). A production filter would swap in a
    * validated PII library — the operator shape (per-doc pattern counts →
    * flag → drop/redact) is the real one. */
  def piiScanOf(docsNorm: DataFrame): DataFrame =
    docsNorm.select(
      col("doc_id"),
      expr("regexp_count(norm, '[a-z0-9._%+-]+@[a-z0-9.-]+\\\\.[a-z][a-z]+')")
        .cast("long").as("n_email"),
      expr("regexp_count(norm, '[0-9][0-9][0-9][- ][0-9][0-9][0-9][- ][0-9][0-9][0-9][0-9]')")
        .cast("long").as("n_phone"))
      .withColumn("has_pii", col("n_email") + col("n_phone") > 0)

  def piiScan(spark: SparkSession, dir: String): DataFrame =
    piiScanOf(docs(spark, dir))

  /** Repetition ratio — the boilerplate/repetition quality heuristic
    * (fraction of duplicated 3-gram shingles): 1 - distinct/total. Total
    * comes map-side from the words array; distinct from the deduplicated
    * shingle set. High ratio ⇒ templated/repetitive text. */
  def repetitionOf(docsWords: DataFrame, shinglesDist: DataFrame): DataFrame = {
    val totals = docsWords.select(col("doc_id"),
      greatest(size(col("words")) - 2, lit(1)).cast("long").as("n_total"))
    val dist = shinglesDist.groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct"))
    totals.join(dist, Seq("doc_id"))
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_total").cast("double"))
  }

  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(docsWords(spark, dir), shingles(spark, dir))

  /** Non-overlapping k-word passages per document (multiplicity and 0-based
    * passage index kept) — the unit of PASSAGE-LEVEL exact dedup, the
    * standard sub-document dedup granularity in LLM corpus pipelines
    * (boilerplate headers/footers repeat across pages whose full texts
    * differ, so document-level dedup never sees them). Docs shorter than k
    * words emit no passage. Map-side explode; scales like shingling. */
  def passagesOf(docsWords: DataFrame, k: Int = 8): DataFrame =
    docsWords.select(col("doc_id"), posexplode(expr(
      s"""CASE WHEN size(words) >= $k
            THEN transform(sequence(0, size(words) div $k - 1),
                   i -> concat_ws(' ', slice(words, i * $k + 1, $k)))
            ELSE CAST(array() AS ARRAY<STRING>) END"""))
      .as(Seq("p_idx", "passage")))

  /** Per-passage occurrence stats keyed on the md5 of the passage text —
    * the groupBy shuffles 32-byte hashes, never passage strings. */
  def passageStatsOf(passages: DataFrame): DataFrame =
    passages.select(col("doc_id"), md5(col("passage")).as("passage_hash"))
      .groupBy("passage_hash")
      .agg(countDistinct("doc_id").as("n_docs"),
           count(lit(1)).as("n_occ"),
           min("doc_id").as("keeper_doc_id"))

  /** Passages appearing in ≥2 distinct documents — the cross-document
    * duplicated-passage inventory (hash, spread, multiplicity, keeper). */
  def dedupPassagesOf(passages: DataFrame): DataFrame =
    passageStatsOf(passages).where(col("n_docs") >= 2)

  /** Per-document duplicated-passage ratio — the filter signal: a doc whose
    * passages mostly exist elsewhere is boilerplate even if its full text
    * is unique. Occurrences (with multiplicity) join the passage stats on
    * the hash; docs with zero passages (< k words) emit no row. */
  def passageDupRatioOf(passages: DataFrame): DataFrame = {
    val occ = passages.select(col("doc_id"), md5(col("passage")).as("passage_hash"))
    val stats = passageStatsOf(passages).select("passage_hash", "n_docs")
    occ.join(stats, Seq("passage_hash"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
           sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        col("n_dup").cast("double") / col("n_passages").cast("double"))
  }

  /** Corpus word-BIGRAM top-k — the adjacent-pair statistics a BPE-style
    * tokenizer merge step starts from (here at word granularity: the most
    * frequent pair is the first merge candidate). Same two-phase
    * count + [[topKHead]] shape as [[wordFreqOf]]. */
  def bigramFreqOf(docsWords: DataFrame, k: Int = 50): DataFrame =
    topKHead(docsWords.select(explode(bigrams).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n")), k, "rank")(
      col("n").desc, col("bigram"))

  /** Collocation mining — adjacent word pairs ranked by a pointwise-mutual-
    * information surrogate. Raw bigram frequency (above) surfaces "of the";
    * PMI surfaces the pairs that co-occur far MORE than their unigram
    * frequencies predict — the multi-word expressions a tokenizer or phrase
    * vocabulary wants as single units.
    *
    * True PMI is log2(n_pair·N / (n_w1·n_w2)). The product n_pair·N
    * overflows int64 at corpus scale and float log2 is not bit-stable
    * across engines, so the score is the SUM-OF-INTEGER-LOG2 surrogate
    *   pmi = ⌊log2 n_pair⌋ + ⌊log2 N⌋ − ⌊log2 n_w1⌋ − ⌊log2 n_w2⌋
    * ([[ilog2]]) — within ±2 bits of the true value, exact integer
    * arithmetic at ANY corpus size, negative for under-associated pairs.
    * A min-support floor (`minCount`) drops the noise pairs whose PMI is
    * inflated by tiny denominators, the standard collocation guard.
    *
    * Scale shape: bigram and unigram rollups are partial-agg groupBys
    * (map-side combine before each exchange); the support filter prunes
    * the pair table BEFORE the two vocabulary equi-joins; the grand total
    * folds in as a 1-row broadcast; the top-k head is the [[topKHead]]. */
  def collocPmiOf(docsWords: DataFrame, k: Int = 50,
                  minCount: Long = 5L): DataFrame = {
    val pairs = docsWords.select(explode(bigramPairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val biCnt = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
    val uni = docsWords.select(explode(col("words")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val total = pairs.agg(count(lit(1)).as("n_total"))
    val scored = biCnt
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_pair"),
        (ilog2(col("n_pair")) + ilog2(col("n_total"))
          - ilog2(col("n_w1")) - ilog2(col("n_w2"))).as("pmi"))
    topKHead(scored, k, "rank")(
        col("pmi").desc, col("n_pair").desc, col("w1"), col("w2"))
      .select(col("rank"), col("w1"), col("w2"), col("n_pair"), col("pmi"))
  }

  /** Vocabulary coverage curve — for the top-`k` words by corpus frequency,
    * the cumulative fraction of ALL tokens they cover. The Zipf head-mass
    * curve a tokenizer/vocab designer reads to size a vocabulary.
    *
    * Scale shape: the vocab rollup is one partial-agg groupBy; the top-k
    * head is the [[topKHead]] (never a full vocab sort); the cumulative
    * window runs over k rows only; the token total folds in as a 1-row
    * broadcast.
    * Coverage = exact integer counts, one double division per row. */
  def vocabCoverageOf(docsWords: DataFrame, k: Int = 100): DataFrame = {
    val byN = Seq(col("n").desc, col("w"))
    val top = topKHead(docsWords.select(explode(col("words")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n")), k, "rank")(byN: _*)
    // token total WITHOUT a second explode: sum of array sizes map-side
    // (== count of exploded rows; the 8× probe showed the doubled explode
    // scan as this query's whole excess over its linear ideal)
    val total = docsWords
      .agg(sum(size(col("words")).cast("long")).as("n_total"))
    top
      .withColumn("cum_n", sum("n").over(Window.orderBy(byN: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("w"), col("n"), col("cum_n"),
        (col("cum_n").cast("double") / col("n_total").cast("double"))
          .as("coverage"))
  }

  /** Per-language percentile-rank normalization of the quality score — the
    * curation-side prerequisite for "keep the top X% per language" filters
    * (absolute quality thresholds are incomparable across languages).
    * pct_rank = (rank-1)/(n-1) within the language, ties pinned on doc_id.
    *
    * Scale shape: one shuffle on lang, per-language window sorts. A
    * dominant language makes its partition the straggler — the documented
    * fix at 100 TB is the two-phase rank ([[graft.Ids.dense]], as
    * customer_deciles does globally) applied per heavy group; at any
    * realistic language skew the per-group sort is fine. All-integer
    * window arithmetic, one double division. */
  def qualityPctRankOf(stats: DataFrame): DataFrame = {
    val byLang = Window.partitionBy("lang")
    val q = qualityScoreOf(stats)
      .join(stats.select(col("doc_id"), col("lang")), Seq("doc_id"))
    q.withColumn("rank",
        row_number().over(byLang.orderBy(col("quality"), col("doc_id")))
          .cast("long"))
      .withColumn("n_lang", count(lit(1)).over(byLang))
      .select(col("doc_id"), col("lang"), col("quality"), col("rank"),
        ((col("rank") - lit(1)).cast("double") /
          greatest(col("n_lang") - lit(1), lit(1)).cast("double"))
          .as("pct_rank"))
  }

  def qualityPctRank(spark: SparkSession, dir: String): DataFrame = {
    val stats = textStats(spark, dir)
      .join(docs(spark, dir).select("doc_id", "lang"), Seq("doc_id"))
    qualityPctRankOf(stats)
  }

  /** Coordination-level (coverage-first) retrieval ranking: docs ordered by
    * how many DISTINCT query terms they contain, then total term frequency,
    * then doc_id — the boolean-ish second signal a hybrid retrieval stack
    * fuses with a weighted scorer. Same tf pipeline shape as BM25 (map-side
    * term filter, partial-agg rollup, [[topKHead]]). */
  def coverageTopOf(docsWords: DataFrame, terms: Seq[String],
                    k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "coverage ranking needs at least one query term")
    val perDoc = docsWords
      .select(col("doc_id"), explode(col("words")).as("w"))
      .where(col("w").isin(terms: _*))
      .groupBy("doc_id")
      .agg(countDistinct("w").as("n_hit"), count(lit(1)).as("tot_tf"))
    topKHead(perDoc, k, "rank_cov")(
      col("n_hit").desc, col("tot_tf").desc, col("doc_id"))
  }

  /** Reciprocal-rank fusion of the BM25 and coverage rankings — the
    * standard hybrid-retrieval merge (score = Σ 1/(c + rank) over the
    * systems that ranked the doc; c=60 per Cormack et al.). Docs ranked by
    * only one system keep a NULL rank there and contribute one term.
    *
    * Scale: both inputs are top-k (TakeOrdered) frames, so the fusion —
    * full-outer join + window — runs over ≤2k rows regardless of corpus
    * size; all the heavy lifting stays in the per-system scorers. Float
    * determinism: each RRF term is ONE division of exact integers,
    * summed in a fixed two-term tree — bit-identical cross-engine. */
  def rrfFusionOf(docsWords: DataFrame, terms: Seq[String], k: Int = 10,
                  c: Int = 60): DataFrame = {
    val bm = bm25TopOf(docsWords, terms, k)
      .select(col("doc_id"), col("rank").as("rank_bm25"))
    val cov = coverageTopOf(docsWords, terms, k)
      .select(col("doc_id"), col("rank_cov"))
    val term = (r: org.apache.spark.sql.Column) =>
      coalesce(lit(1).cast("double") / (r + lit(c)).cast("double"), lit(0.0))
    val fused = bm.join(cov, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        term(col("rank_bm25")) + term(col("rank_cov")))
    fused.withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_score").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_bm25", "rank_cov", "rrf_score", "rank")
  }

  /** Tokenizer fertility per language: chars-per-token (ppm-exact) from
    * whole-corpus sums — the readout that tells you which languages your
    * tokenizer fragments (high fertility → more tokens per char of text →
    * higher serving cost; the first table any multilingual tokenizer
    * evaluation prints).
    *
    * Scale shape: per-doc char/token counts fuse into the normalize scan
    * (map-side, no explode), then ONE partial-agg groupBy on the ~100-value
    * lang key — constant-size output at any corpus scale. The ppm ratio is
    * exact-integer: split into whole + remainder parts so the widest
    * intermediate is `remainder * 1e6 < sum_tokens * 1e6` — overflows only
    * past ~9e12 tokens PER LANGUAGE (≈40 TB of text in one language;
    * widen to DECIMAL(38,0) at that point). */
  def tokenFertilityOf(docsWords: DataFrame): DataFrame =
    docsWords
      .select(col("lang"),
        length(col("norm")).cast("long").as("nc"),
        size(col("words")).cast("long").as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum("nc").as("sum_chars"),
           sum("nt").as("sum_tokens"))
      .withColumn("fert_ppm",
        expr("""CAST((sum_chars DIV sum_tokens) * 1000000
                + ((sum_chars % sum_tokens) * 1000000) DIV sum_tokens
                AS BIGINT)"""))

  /** Per-doc unigram surprisal under the corpus's own unigram LM — the
    * cheap perplexity proxy quality filters use before any neural scorer
    * (a doc of globally-rare tokens scores high; boilerplate scores low).
    * surprisal(w) = [[ilog2]](N) − ilog2(count(w)) (bit-stable
    * cross-engine).
    *
    * Scale shape: one vocab rollup (partial-agg groupBy on word), an
    * equi-join of the exploded tokens against it (AQE broadcasts it while
    * the vocab is small; at web scale it's a shuffle join on a
    * Zipf-skewed key — the head words are exactly the ones AQE's skew
    * split handles), the grand total as a 1-row broadcast, then a
    * partial-agg fold back to doc grain. Sum bound: surprisal < 64 per
    * token, so the per-doc sum and its ppm mean never overflow. */
  def unigramSurprisalOf(docsWords: DataFrame): DataFrame = {
    val flat = docsWords.select(col("doc_id"), explode(col("words")).as("w"))
    val vocab = flat.groupBy("w").agg(count(lit(1)).as("n_w"))
    // map-side token total (== flat count), no second explode scan
    val total = docsWords
      .agg(sum(size(col("words")).cast("long")).as("n_total"))
    flat.join(vocab, "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (ilog2(col("n_total")) - ilog2(col("n_w"))).as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("s").as("surprisal"))
      .withColumn("mean_ppm",
        expr("CAST(surprisal * 1000000 DIV n_tokens AS BIGINT)"))
  }

  /** Per-doc character-diversity entropy surrogate — the gibberish /
    * binary-junk detector that runs before any tokenizer: a doc whose
    * characters concentrate on a few symbols scores near zero. The score
    * is the integer entropy surrogate [[entropySurrOf]] over the
    * per-character counts.
    *
    * Scale shape: per-(doc, char) counts are a partial-agg groupBy whose
    * key fanout is ≤ alphabet-size per doc, folded back to doc grain in a
    * second partial agg — both exchanges carry ≤ |alphabet| rows per doc,
    * not per-character rows.
    *
    * Unicode parity: Spark's `split(col, "")` is CODE-POINT safe — Java
    * regex zero-width matches never land inside a surrogate pair, so a
    * non-BMP character (e.g. an emoji) stays one token, exactly matching
    * DuckDB's `string_split(s, '')` (verified empirically; pinned by
    * CharEntropySpec's non-BMP case). */
  def charEntropyOf(docsNorm: DataFrame): DataFrame =
    entropySurrOf(docsNorm
      .select(col("doc_id"), explode(split(col("norm"), "")).as("c"))
      .where(col("c") =!= "") // Java split keeps a trailing empty token
      .groupBy("doc_id", "c").agg(count(lit(1)).as("n_c")),
      "doc_id", "n_c", "n_chars")(
      sum("n_c").as("n_chars"), count(lit(1)).as("n_distinct_chars"))

  /** Per-doc n-gram NOVELTY: the ppm fraction of a doc's distinct
    * 3-gram shingles that appear in NO other document (corpus df = 1).
    * The inverse readout of the dedup stack — low novelty flags
    * templated/boilerplate-assembled docs that exact and near-dup
    * tiers miss because no single other doc matches them; high novelty
    * marks the genuinely-new content a curation pass wants to keep.
    *
    * Scale shape: one partial-agg groupBy on the shingle key for df
    * (the memoized shingle frame feeds it), one equi-join back on
    * shingle, one per-doc partial-agg rollup — all hash-partitioned on
    * their keys, never all-pairs, ppm exact-integer. */
  def ngramNoveltyOf(shingles: DataFrame): DataFrame = {
    val df = shingles.groupBy("shingle")
      .agg(count(lit(1)).as("sh_df"))
    shingles.join(df, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
           count(when(col("sh_df") === 1L, lit(1))).as("n_unique"))
      .withColumn("novelty_ppm", expr("n_unique * 1000000L div n_sh"))
  }

  /** INCREMENTAL novelty: per new-batch doc, the ppm of its shingles
    * absent from the HISTORY's shingle set — the daily-admission
    * "how much genuinely new content did today bring" readout (the
    * batch twin of [[ngramNoveltyOf]], which scores df=1 against the
    * whole corpus; here the reference set is history only, so a batch
    * of mutual near-dups still scores high if none of it was seen
    * before). Batch = top decile of doc_ids ([[Dedup.decileSplit]],
    * the incremental dedup queries' cutoff).
    *
    * Scale shape: history collapses to a DISTINCT shingle-key frame
    * once (partial-agg distinct); the batch's shingles left-join it on
    * the shingle key — work is O(batch shingles + history distinct),
    * both hash-partitioned, never corpus × batch. */
  def ngramNoveltyIncOf(shingles: DataFrame): DataFrame = {
    val (history, batch) = Dedup.decileSplit(shingles, shingles)
    val hist = history.select("shingle").distinct().withColumn("seen", lit(1))
    batch.select("doc_id", "shingle")
      .join(hist, Seq("shingle"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
           count(when(col("seen").isNull, lit(1))).as("n_new"))
      .withColumn("novelty_ppm", expr("n_new * 1000000L div n_sh"))
  }

  /** Per-source charset profile: ASCII-printable vs non-ASCII code-point
    * counts and the non-ASCII ppm — the encoding-junk detector a crawl
    * pipeline runs per source (a source whose non-ASCII ppm jumps
    * shipped a charset regression or switched language). Counted by
    * regexp over single code points on BOTH engines (Java regex and
    * DuckDB both match per code point, so the total is a code-point
    * count — immune to the UTF-16 length() divergence). Map-side
    * projection + one ≤|sources|-row partial agg. */
  def charsetProfileOf(docsNorm: DataFrame): DataFrame =
    docsNorm
      .select(col("source"),
        expr("CAST(regexp_count(norm, '[ -~]') AS BIGINT)").as("n_ascii"),
        expr("CAST(regexp_count(norm, '[^ -~]') AS BIGINT)")
          .as("n_non_ascii"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_ascii").as("n_ascii"),
           sum("n_non_ascii").as("n_non_ascii"))
      .withColumn("non_ascii_ppm",
        expr("n_non_ascii * 1000000L div (n_ascii + n_non_ascii)"))

  /** Train/test token-distribution drift over the top-`k` training words:
    * per-split relative frequency in ppm and their signed difference —
    * the distribution-shift check a split pipeline runs before trusting
    * its eval numbers (a word 10× more frequent in test than train means
    * the hash split correlates with content). The val split is excluded;
    * ties rank by word.
    *
    * Scale shape: one (split, word) partial-agg rollup feeds both sides,
    * split totals fold in as 1-row broadcasts, the train top-k head is
    * the [[topKHead]], and the test lookup joins k rows. Frequencies are
    * exact-integer ppm (n_w · 1e6 ⫽ total — overflow past ~9e12 tokens
    * per split; widen to DECIMAL(38,0) there). */
  def tokenFreqDriftOf(docsWords: DataFrame, split: DataFrame,
                       k: Int = 50): DataFrame = {
    val words = docsWords.join(split.select("doc_id", "split"), Seq("doc_id"))
      .select(col("split"), explode(col("words")).as("w"))
      .where(col("split") =!= "val")
    val counts = words.groupBy("split", "w").agg(count(lit(1)).as("n"))
    val totals = words.groupBy("split").agg(count(lit(1)).as("tot"))
    val trTot = broadcast(totals.where(col("split") === "train")
      .select(col("tot").as("tot_train")))
    val teTot = broadcast(totals.where(col("split") === "test")
      .select(col("tot").as("tot_test")))
    topKHead(counts.where(col("split") === "train")
        .select(col("w"), col("n").as("n_train")), k, "rank")(
        col("n_train").desc, col("w"))
      .join(counts.where(col("split") === "test")
              .select(col("w"), col("n").as("n_test")), Seq("w"), "left")
      .na.fill(0L, Seq("n_test"))
      .crossJoin(trTot).crossJoin(teTot)
      .select(col("rank"), col("w"), col("n_train"), col("n_test"),
        expr("CAST(n_train * 1000000 DIV tot_train AS BIGINT)")
          .as("f_train_ppm"),
        expr("CAST(n_test * 1000000 DIV tot_test AS BIGINT)")
          .as("f_test_ppm"))
      .withColumn("drift_ppm",
        (col("f_test_ppm") - col("f_train_ppm")).cast("long"))
  }

  /** Per-doc BIGRAM surprisal under the corpus's own bigram LM — one
    * order up from [[unigramSurprisalOf]]: the conditional surprisal of
    * each adjacent pair, s(w₁w₂) = [[ilog2]](n(w₁·)) − ilog2(n(w₁w₂)),
    * where n(w₁·) counts w₁ as a bigram HEAD (so the ratio is the
    * conditional P(w₂|w₁)). Boilerplate whose
    * pairs repeat corpus-wide scores near zero; incoherent word salad
    * scores high — the bigram-perplexity proxy that separates "rare
    * words" (unigram) from "rare transitions" (this).
    *
    * Scale shape: one exploded pair frame feeds BOTH vocab rollups
    * (pair counts and head counts — partial-agg groupBys); the pair
    * frame joins back against each on its key (Zipf-skewed heads are
    * AQE-skew-split territory at web scale, same as the unigram path);
    * fold to doc grain is a final partial agg. Surprisal < 64 per
    * pair — no overflow. */
  def bigramSurprisalOf(docsWords: DataFrame): DataFrame = {
    val pairs = graft.Memo.pin(docsWords
      .select(col("doc_id"), explode(bigramPairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2")))
    val biCnt = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val headCnt = pairs.groupBy("w1").agg(count(lit(1)).as("n_head"))
    pairs
      .join(biCnt, Seq("w1", "w2"))
      .join(headCnt, Seq("w1"))
      .select(col("doc_id"),
        (ilog2(col("n_head")) - ilog2(col("n_pair"))).as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("s").as("surprisal"))
      .withColumn("mean_ppm",
        expr("CAST(surprisal * 1000000 DIV n_bigrams AS BIGINT)"))
  }

  /** Per-doc lexical diversity — token count, type (distinct-token)
    * count, and the type-token ratio in ppm. The repetition detector's
    * cheap cousin: templated or keyword-stuffed docs have few types per
    * token; TTR thresholds are a standard pre-tokenizer quality gate.
    *
    * Scale shape: entirely map-side — size() and array_distinct() are
    * per-row codegen'd HOFs fused into the scan stage; no explode, no
    * shuffle, no exchange at any corpus size. */
  def lexicalDiversityOf(docsWords: DataFrame): DataFrame =
    docsWords.select(
      col("doc_id"),
      size(col("words")).cast("long").as("n_tokens"),
      size(array_distinct(col("words"))).cast("long").as("n_types"))
      .withColumn("ttr_ppm",
        expr("CAST(n_types * 1000000 DIV n_tokens AS BIGINT)"))

  /** Per-language length-trim fences: DISCRETE p5/p95 token-length picks
    * (order statistics at rank ⌈n/20⌉ / ⌈19n/20⌉ — the same
    * interpolation-free exactness trick as the IQR op) plus how many
    * docs a [p5, p95] length filter would drop on each side. Length
    * trimming is a standard curation stage (truncated fragments below,
    * concatenation junk above); this is its dry-run readout.
    *
    * Scale shape: one shuffle on the language key for the rank window,
    * fences collapse to a lang-cardinality frame that broadcasts back
    * onto the same partitioning for the side counts. */
  def lengthTrimOf(docsWords: DataFrame): DataFrame = {
    val byLang = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    val ranked = docsWords
      .select(col("lang"), col("doc_id"),
        size(col("words")).cast("long").as("n_tokens"))
      .withColumn("rn", row_number().over(byLang).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
    val fences = ranked.groupBy("lang")
      .agg(max("n").cast("long").as("n_docs"),
        max(when(col("rn") === expr("(n + 19) DIV 20"), col("n_tokens")))
          .as("p5"),
        max(when(col("rn") === expr("(19 * n + 19) DIV 20"), col("n_tokens")))
          .as("p95"))
    ranked.select(col("lang"), col("n_tokens"))
      .join(broadcast(fences), Seq("lang"))
      .groupBy("lang")
      .agg(max("n_docs").as("n_docs"), max("p5").as("p5"),
        max("p95").as("p95"),
        sum(when(col("n_tokens") < col("p5"), 1L).otherwise(0L))
          .as("n_below"),
        sum(when(col("n_tokens") > col("p95"), 1L).otherwise(0L))
          .as("n_above"),
        sum(when(col("n_tokens") >= col("p5") &&
                 col("n_tokens") <= col("p95"), 1L).otherwise(0L))
          .as("n_kept"))
  }

  /** Per-source bigram (transition) diversity: total vs distinct
    * adjacent-pair counts and their ppm ratio — the source-grain twin of
    * [[lexicalDiversityOf]] one Markov order up. A source whose
    * transition inventory is tiny relative to its volume is template
    * output (same sentences re-emitted); mixture designers read it next
    * to the vocab-overlap readout.
    *
    * Scale shape: one exploded-pair partial agg per (source, bigram) —
    * map-side combine absorbs the repeats that make templated sources
    * cheap — then a source-grain fold. Exact integers + one ppm div. */
  def sourceBigramDiversityOf(docsWords: DataFrame): DataFrame =
    docsWords.select(col("source"), explode(bigrams).as("bg"))
      .groupBy("source", "bg")
      .agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum("n").as("n_bigrams"),
           count(lit(1)).as("n_distinct_bigrams"))
      .withColumn("diversity_ppm",
        expr("CAST(n_distinct_bigrams * 1000000 DIV n_bigrams AS BIGINT)"))

  /** CONTRASTIVE source vocabulary: per source, the top-`k` words that
    * are frequent IN this source relative to the rest of the corpus —
    * the log-odds keyword readout ("what is source A actually about")
    * behind corpus cards and domain labeling. Score is the integer
    * log-odds surrogate [[ilog2]](n_in) − ilog2(n_rest+1) (+1 smooths
    * source-exclusive words); a min-count floor drops the noise tail
    * whose odds are inflated by tiny denominators.
    *
    * Scale shape: one (source, word) partial-agg rollup, one vocab
    * rollup, the support filter prunes BEFORE the vocabulary equi-join,
    * and the per-source head is a rank-window top-k that planner
    * rewrites to WindowGroupLimit (never a full per-source sort). */
  def contrastiveTermsOf(docsWords: DataFrame, k: Int = 5,
                         minCount: Long = 10L): DataFrame = {
    val sw = docsWords.select(col("source"), explode(col("words")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("n_sw"))
    val tot = sw.groupBy("w").agg(sum("n_sw").cast("long").as("n_w"))
    val scored = sw.where(col("n_sw") >= minCount)
      .join(tot, "w")
      .select(col("source"), col("w"), col("n_sw"),
        (col("n_w") - col("n_sw")).as("n_rest"))
      .withColumn("score", ilog2(col("n_sw")) - ilog2(col("n_rest") + 1))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("score").desc, col("n_sw").desc, col("w")))
        .cast("long"))
      .where(col("rank") <= k)
      .select("source", "rank", "w", "n_sw", "n_rest", "score")
  }

  /** Per-source hapax-legomena profile: vocabulary size, the count of
    * words occurring exactly once IN THAT SOURCE, and two ppm ratios —
    * hapax share of the vocabulary (Zipf-tail health: natural text sits
    * near 40-60%, templated/boilerplate output collapses toward 0) and
    * hapax share of the token stream (how much of the corpus a
    * rare-word-aware tokenizer would see as singletons). Complements
    * [[contrastiveTermsOf]] (head of the per-source distribution) with
    * the tail, and the corpus-level TTR/Gini readouts with a per-source
    * rare-mass cut.
    *
    * Scale shape: one partial-agg groupBy on the (source, word) key —
    * map-side combine collapses each partition's repeats, the exchange
    * carries ≤ per-source-vocab rows — then a second partial agg to
    * source grain; ppm ratios are exact-integer DIV (non-negative). */
  def hapaxRateOf(docsWords: DataFrame): DataFrame =
    docsWords
      .select(col("source"), explode(col("words")).as("w"))
      .where(col("w") =!= "")
      .groupBy("source", "w")
      .agg(count(lit(1)).as("n_w"))
      .groupBy("source")
      .agg(sum("n_w").as("n_tokens"),
           count(lit(1)).as("vocab"),
           count(when(col("n_w") === 1L, lit(1))).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        expr("hapax * 1000000 DIV vocab").cast("long").as("hapax_vocab_ppm"),
        expr("hapax * 1000000 DIV n_tokens").cast("long")
          .as("hapax_token_ppm"))

  /** Per-language readability profile: characters-per-word and
    * words-per-sentence (sentences ≈ period count + 1), as exact
    * integer centiratios — the Flesch-style complexity readout a corpus
    * card ships per language.
    *
    * Scale shape: per-doc counters fuse into the normalize scan
    * (map-side), then one partial-agg groupBy on the |langs|-sized key.
    * Ratios are integer cross-divisions of exact sums — no float sums
    * to reorder. */
  def readabilityOf(docsWords: DataFrame): DataFrame =
    docsWords
      .select(col("lang"),
        length(col("norm")).cast("long").as("n_chars_n"),
        size(col("words")).cast("long").as("n_tok"),
        (length(col("norm")) -
          length(regexp_replace(col("norm"), "\\.", "")) + 1)
          .cast("long").as("n_sent"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chars_n").as("sum_chars"),
           sum("n_tok").as("sum_tok"),
           sum("n_sent").as("sum_sent"))
      .select(col("lang"), col("n_docs"),
        expr("CAST(sum_chars * 100 DIV sum_tok AS BIGINT)")
          .as("chars_per_word_c"),
        expr("CAST(sum_tok * 100 DIV sum_sent AS BIGINT)")
          .as("words_per_sent_c"))

}
