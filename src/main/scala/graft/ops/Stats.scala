package graft.ops

import graft.Memo.TruncateOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical corpus-health profiles — the distribution-shape readouts a
  * training-data pipeline watches BETWEEN snapshots (is the length mix
  * drifting per source? is the vocabulary still Zipfian? are the simhash
  * bits balanced?). All-integer arithmetic throughout (the ⌊log2⌋ /
  * exact-rational surrogates the text stack already uses), so every
  * number is bit-stable cross-engine at any scale.
  *
  * Scale shape shared by every op here: one partial-agg groupBy collapses
  * the corpus to a SMALL statistic domain (distinct frequencies, distinct
  * lengths, 64 bits, |sources|), and any window/sort runs over that
  * bounded domain — never over rows. Nothing here keeps per-document
  * state past the first exchange.
  */
object Stats {

  /** Zipf-law fit of the word-frequency distribution as EXACT integer
    * least-squares moments over (x=⌊log2 rank⌋, y=⌊log2 freq⌋): a healthy
    * natural-language corpus has slope ≈ −1; boilerplate floods or
    * synthetic-text contamination bend it. The slope is reported as the
    * exact rational slope_num/slope_den (no float regression — consumers
    * divide; both engines emit identical BIGINTs).
    *
    * Ranks without a vocabulary-wide window: vocabulary collapses to the
    * frequency HISTOGRAM (freq → n_words, a few hundred rows at any
    * corpus size since distinct frequencies are ≲ max doc freq), and a
    * word's rank-block lower bound is 1 + Σ n_words over strictly higher
    * frequencies — a window over the tiny histogram. Every word in a
    * block shares x = ⌊log2 rank_lo⌋, so the moment sums weight by
    * n_words instead of iterating words. Magnitude: moments are ≤
    * vocab·63² ≈ 4·10¹² at 10⁹ vocab and the slope products ≤ n·sxy —
    * widen to DECIMAL(38,0) beyond ~10⁸ distinct words (same headroom
    * note as the principal-dims accumulator). */
  def zipfFitOf(wordsFlat: DataFrame): DataFrame = {
    val vocab = wordsFlat.groupBy("w").agg(count(lit(1)).as("n"))
    val hist = vocab.groupBy("n").agg(count(lit(1)).as("n_words"))
    val byFreqDesc = Window.orderBy(col("n").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = hist
      .withColumn("rank_lo",
        (coalesce(sum(col("n_words")).over(byFreqDesc), lit(0L)) + 1L))
      .select(col("n_words"),
        ilog2(greatest(col("rank_lo"), lit(1))).as("x"),
        ilog2(greatest(col("n"), lit(1))).as("y"))
    blocks.agg(
        sum(col("n_words")).as("n_vocab"),
        sum(col("n_words") * col("x")).as("sx"),
        sum(col("n_words") * col("y")).as("sy"),
        sum(col("n_words") * col("x") * col("x")).as("sxx"),
        sum(col("n_words") * col("x") * col("y")).as("sxy"))
      .select(col("n_vocab"), col("sx"), col("sy"), col("sxx"), col("sxy"),
        (col("n_vocab") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_vocab") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
  }

  /** Per-source Kolmogorov–Smirnov drift of the doc-length distribution
    * against the whole corpus: ks_num = max over observed lengths of
    * |cdf_source·n_total − cdf_all·n_source| (the KS statistic scaled by
    * n_source·n_total — an exact integer; ks_ppm divides it back out).
    * The canary for "source X started shipping truncated/concatenated
    * docs" that a mean-length monitor misses.
    *
    * Scale: docs collapse to the (source × distinct-length) histogram in
    * one partial-agg groupBy; the CDF windows run over the dense
    * source×length grid (|sources|·|distinct lengths| — thousands of
    * rows, corpus-size-independent). Product headroom: cdf·n ≤
    * n_source·n_total — BIGINT-safe to ~3·10⁹ total docs; widen to
    * DECIMAL(38,0) beyond. */
  def ksSourceDriftOf(documents: DataFrame): DataFrame = {
    // The cell histogram feeds FIVE derivations (lengths, per-source
    // totals, global CDF, grid, corpus total); without truncation each
    // branch re-scans the corpus. localCheckpoint materializes the tiny
    // (|sources|·|lengths|-bounded) frame once — ONE fact-sized pass
    // end to end, everything downstream is histogram-sized.
    val cell = documents.groupBy("source", "n_chars")
      .agg(count(lit(1)).as("cnt"))
      .truncated
    val lengths = cell.select("n_chars").distinct()
    val sources = cell.groupBy("source").agg(sum("cnt").as("n_source"))
    val globalCdf = cell.groupBy("n_chars").agg(sum("cnt").as("gcnt"))
      .withColumn("cum_all",
        sum(col("gcnt")).over(Window.orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val grid = sources.crossJoin(broadcast(lengths))
      .join(cell, Seq("source", "n_chars"), "left_outer")
      .na.fill(0L, Seq("cnt"))
      .withColumn("cum_s",
        sum(col("cnt")).over(Window.partitionBy("source").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(globalCdf.select("n_chars", "cum_all"), "n_chars")
    val total = cell.agg(sum("cnt").cast("long").as("n_total"))
    grid.crossJoin(broadcast(total))
      .groupBy(col("source"), col("n_source"), col("n_total"))
      .agg(max(abs(col("cum_s") * col("n_total") -
                   col("cum_all") * col("n_source"))).as("ks_num"))
      .select(col("source"), col("n_source"), col("n_total"), col("ks_num"),
        expr("CAST(ks_num * 1000000 DIV (n_source * n_total) AS BIGINT)")
          .as("ks_ppm"))
  }

  /** Per-source exact second-order moments of (chars, tokens): n, Σx, Σy,
    * Σx², Σy², Σxy as BIGINTs — the sufficient statistics for mean,
    * variance and Pearson correlation of length-vs-tokenization, kept as
    * raw integer sums so the artifact is bit-exact and mergeable across
    * shards (moments ADD; correlations don't). A tokenizer regression
    * (chars/token ratio shift) shows up here before any eval does.
    *
    * Scale: one partial-agg groupBy on source over map-side integer
    * products. Headroom: Σx² ≤ n·max_chars² — BIGINT-safe to ~10⁹ docs of
    * 30k chars; widen to DECIMAL(38,0) beyond. */
  def lengthTokenMomentsOf(textStats: DataFrame, documents: DataFrame)
      : DataFrame = {
    val x = col("n_chars_norm")
    val y = col("n_tokens")
    textStats.join(documents.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
           sum(x).as("sx"), sum(y).as("sy"),
           sum(x * x).as("sxx"), sum(y * y).as("syy"),
           sum(x * y).as("sxy"))
  }

  /** Per-bit ones-rate of the 64-bit SimHash across the corpus — the
    * sketch-health monitor: a healthy hash keeps every bit near 500 000
    * ppm; a skewed bit (bad hash mixing, degenerate vocabulary) silently
    * halves that bit's discriminating power and inflates near-dup false
    * positives. 64-row output at any corpus size.
    *
    * Scale: the hash is the existing map-side codegen kernel; the bit
    * explode is 64 rows per doc collapsed by a partial-agg groupBy on
    * bit, so the exchange carries ≤ 64 rows per map partition. */
  def simhashBitBalanceOf(simhash64: DataFrame): DataFrame =
    simhash64
      .select(explode(expr(
        """transform(sequence(0, 63), b ->
             struct(CAST(b AS BIGINT) AS bit,
                    shiftright(simhash64, b) & 1 AS one))""")).as("e"))
      .groupBy(col("e.bit").as("bit"))
      .agg(sum(col("e.one")).as("n_ones"), count(lit(1)).as("n_docs"))
      .withColumn("ones_ppm",
        expr("CAST(n_ones * 1000000 DIV n_docs AS BIGINT)"))

  /** Top-k shingles by DISTINCT-document frequency — the boilerplate
    * detector: navigation chrome, license headers and template footers
    * are exactly the shingles that recur across many documents, and they
    * are what poisons MinHash buckets (the giant-bucket guard's root
    * cause) and inflates n-gram novelty. df_ppm = share of docs carrying
    * the shingle.
    *
    * Scale: reuses the memoized distinct-shingle frame (one shuffle,
    * shared with the dedup/contamination family); the df rollup is a
    * partial-agg groupBy; the head is the [[topKHead]]. */
  def boilerplateShinglesOf(shingles: DataFrame, nDocs: DataFrame,
                            k: Int = 20): DataFrame = {
    val df = shingles.groupBy("shingle").agg(count(lit(1)).as("n_docs"))
    topKHead(df, k, "rank")(col("n_docs").desc, col("shingle"))
      .crossJoin(broadcast(nDocs))
      .select(col("rank"), col("shingle"), col("n_docs"),
        expr("CAST(n_docs * 1000000 DIV n_total AS BIGINT)").as("df_ppm"))
  }

  /** Per-source stopword-token rate (ppm) — the coarse register/quality
    * mix card: natural prose sits in a band, code/tables/navigation fall
    * far below it, so a source whose stop_ppm drifts is changing WHAT it
    * ships, not just how much. Composes the existing per-doc text stats;
    * one partial-agg groupBy on source. */
  def stopwordProfileOf(textStats: DataFrame, documents: DataFrame)
      : DataFrame =
    textStats.join(documents.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("sum_tokens"),
           sum(col("stop_cnt")).as("sum_stop"))
      .withColumn("stop_ppm",
        expr("CAST(sum_stop * 1000000 DIV sum_tokens AS BIGINT)"))

  /** Per-source exact-dup token inflation — the "what does dedup save
    * HERE" card: token volume per source vs the volume surviving exact
    * dedup (keeper = min doc_id per normalized-text fingerprint, the
    * corpus-wide keeper contract), with the savings in ppm. Sources
    * quoting big savings are re-crawls/mirrors; the mixture weights
    * should see post-dedup counts, not raw.
    *
    * Scale shape: one exchange on the fingerprint key (the window-min
    * keeper flag); the readout is a partial agg on source. */
  def dupInflationOf(docsNorm: DataFrame, textStats: DataFrame)
      : DataFrame =
    docsNorm
      .select(col("doc_id"), col("source"), md5(col("norm")).as("fp"))
      .join(textStats.select("doc_id", "n_tokens"), "doc_id")
      // keeper via a window min over the fingerprint partition — same
      // keeper contract as Dedup.exactOf (min doc_id per fp) with ONE
      // exchange on fp instead of a groupBy branch + join-back (which
      // would re-derive the normalized corpus a second time)
      .withColumn("keeper_doc_id",
        min(col("doc_id")).over(Window.partitionBy("fp")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("doc_id") === col("keeper_doc_id"), 1L)
             .otherwise(0L)).as("n_keep"),
           sum(col("n_tokens")).as("tokens_total"),
           sum(when(col("doc_id") === col("keeper_doc_id"), col("n_tokens"))
             .otherwise(0L)).as("tokens_keep"))
      .withColumn("savings_ppm",
        expr("""CAST((tokens_total - tokens_keep) * 1000000
                DIV tokens_total AS BIGINT)"""))

  /** Token-length histogram in BYTES (octet_length on both engines —
    * byte semantics are identical across engines for ANY Unicode input,
    * unlike length(), which counts UTF-16 units in Spark and code
    * points in DuckDB): per length, total occurrences and distinct
    * words. The tokenizer-shape card: a byte-length mass shift means
    * the tokenizer's chars-per-token budget is about to move.
    *
    * Scale: one partial-agg groupBy on the ≤~40-value length key; the
    * distinct-word count shuffles the vocabulary once (the same grain
    * every vocab readout pays). */
  def tokenLenHistOf(wordsFlat: DataFrame): DataFrame =
    wordsFlat
      .select(octet_length(col("w")).cast("long").as("len_bytes"), col("w"))
      .groupBy("len_bytes")
      .agg(count(lit(1)).as("n_tokens"),
           countDistinct(col("w")).as("n_words"))

  /** Size distribution of the deterministic training shards — the
    * skew monitor for the (shard, rank) addressing scheme: a healthy
    * md5 split keeps every shard within a few percent of the mean;
    * skew_ppm is max/mean in ppm (exact integer cross-multiplication).
    * One row out at any corpus size.
    *
    * Scale: composes the existing shard assignment (map-side md5),
    * collapses to |shards| rows in one partial agg, folds to one row. */
  def shardSkewOf(shards: DataFrame): DataFrame =
    shards.groupBy("shard").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_shards"),
           min("sz").cast("long").as("min_sz"),
           max("sz").cast("long").as("max_sz"),
           sum("sz").cast("long").as("n_docs"))
      .withColumn("skew_ppm",
        expr("CAST(max_sz * 1000000 * n_shards DIV n_docs AS BIGINT)"))

  /** Document-frequency histogram: vocabulary words bucketed by
    * [[ilog2]] of df, with the word
    * and posting counts per bucket — the IDF-side readout that sizes
    * stopword cutoffs and inverted-index tiers.
    *
    * Scale shape: one vocab-sized partial-agg groupBy over the distinct
    * (doc, word) postings, then a constant-size (≤~40 buckets) rollup —
    * no vocab-wide window anywhere. */
  def tokenDocFreqOf(wordsDist: DataFrame): DataFrame =
    wordsDist
      .groupBy("w").agg(count(lit(1)).as("df"))
      .select(ilog2(greatest(col("df"), lit(1))).as("bucket"), col("df"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_words"), sum("df").as("sum_df"))

  /** Heaps-law vocabulary growth curve: per ⌊log₂ doc_id⌋ ingestion
    * bucket, how many NEW words first appear there, plus the cumulative
    * vocabulary — the sublinear vocab-vs-corpus readout every tokenizer
    * budget reads. First occurrence = min(doc_id) per word (doc_id is
    * the ingestion order of the synthetic corpus).
    *
    * Scale shape: one vocab-sized groupBy (min doc per word), a
    * constant-size bucket rollup, and a cumulative window over the ≤~40
    * bucket rows — bounded frame, no vocab-wide window. */
  def heapsLawOf(wordsDist: DataFrame): DataFrame = {
    val buckets = wordsDist
      .groupBy("w").agg(min("doc_id").as("min_doc"))
      .select(ilog2(greatest(col("min_doc"), lit(1))).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("new_words"))
    buckets.withColumn("cum_vocab",
      sum("new_words").over(Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Quality-vs-length Pearson correlation (one row): does the quality
    * score just proxy document length? Computed from exact integer
    * moments — quality quantized to ppm, length as ⌊log2 tokens⌋ — with
    * the squared-term sums in DECIMAL(38,0) (ppm² overflows int64 at
    * ~10⁷ docs) and the final Pearson arithmetic in DOUBLE on the one-row
    * fold, denominator nullif-pinned (zero variance ⇒ NULL on both
    * engines). A |corr| near 1 says the curation thresholds should bind
    * on residual quality, not raw quality.
    *
    * Scale shape: one map-side projection over the memoized stats frame,
    * one global partial-agg fold to a single row. */
  def qualityLenCorrOf(quality: DataFrame, stats: DataFrame): DataFrame = {
    val qv = quality
      .select(col("doc_id"), floor(col("quality") * lit(1000000))
        .cast("long").as("qppm"))
      .join(stats.select(col("doc_id"),
        ilog2(greatest(col("n_tokens"), lit(1))).as("lbits")), Seq("doc_id"))
    qv.agg(count(lit(1)).as("n"),
           sum("qppm").as("s_q"),
           sum("lbits").as("s_l"),
           sum(col("qppm").cast("decimal(19,0)") *
               col("qppm").cast("decimal(19,0)")).as("s_qq"),
           sum(col("lbits") * col("lbits")).as("s_ll"),
           sum(col("qppm").cast("decimal(19,0)") *
               col("lbits").cast("decimal(19,0)")).as("s_ql"))
      .select(col("n"), col("s_q"), col("s_l"), col("s_ll"),
        expr("""(CAST(n AS DOUBLE) * CAST(s_ql AS DOUBLE)
                 - CAST(s_q AS DOUBLE) * CAST(s_l AS DOUBLE))
                / nullif(
                    sqrt(CAST(n AS DOUBLE) * CAST(s_qq AS DOUBLE)
                         - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(s_ll AS DOUBLE)
                         - CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE)),
                    0.0D)""").as("corr"))
  }

}
