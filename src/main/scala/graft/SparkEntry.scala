package graft

import graft.etl.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named query
  * over the sf-dir parquet tables, with a DuckDB oracle in [[Oracle]].
  */
object SparkEntry {

  /** The CLI mains' session: `local[SPARK_GRAFT_CPUS]` (default
    * `defaultCpus`) with as many shuffle partitions, UTC, AQE, no UI. */
  def localSession(defaultCpus: Int, logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.of(spark, "/root/testdata/sf0.001").retentionCompact

  /** Money columns are DECIMAL(14,2) inside the engine but canonicalized to
    * DOUBLE at query output — see Oracle's scaladoc for why. */
  private def money(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((acc, c) => acc.withColumn(c, col(c).cast("double")))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 sources + §2.2 projections/casts (S4-S6, P1-P2, P9)
    "q_user_order_log"     -> ((s, d) => money(Pipeline.of(s, d).uol, "payment_amount")),
    "q_user_order_log_inc" -> ((s, d) => money(Pipeline.of(s, d).uolTemp, "payment_amount")),
    // U2/S13: history ∪ increment with status backfill
    "q_user_order_log_v2"  -> ((s, d) => money(Pipeline.of(s, d).uolV2, "payment_amount")),
    "q_user_activity_log"  -> ((s, d) => Pipeline.of(s, d).ual),
    "q_customer_research"  -> ((s, d) => money(Pipeline.of(s, d).research, "sales_amt")),
    "q_price_log"          -> ((s, d) => Pipeline.of(s, d).priceLog),
    // A1 + P3/P4 + W2 (surrogate ids)
    "q_d_calendar"         -> ((s, d) => Pipeline.of(s, d).dCalendar),
    "q_d_calendar_inc"     -> ((s, d) => Pipeline.of(s, d).dCalendarTemp),
    // A2/A3 (DISTINCT ON with pinned determinism)
    "q_d_customer"         -> ((s, d) => Pipeline.of(s, d).dCustomer),
    "q_d_item"             -> ((s, d) => Pipeline.of(s, d).dItem),
    // J1 + S15 (dense ids via two-phase assignment)
    "q_f_sales"            -> ((s, d) => money(Pipeline.of(s, d).fSales, "payment_amount")),
    "q_f_sales_inc"        -> ((s, d) => money(Pipeline.of(s, d).fSalesTemp, "payment_amount")),
    "q_f_sales_v2"         -> ((s, d) => money(Pipeline.of(s, d).fSalesV2, "payment_amount")),
    // P5 + A8 + W1
    "q_d_calendar_weeks"   -> ((s, d) => Pipeline.of(s, d).weeks),
    // J3 + A4-A7 (two-level aggregates with HAVING)
    "q_new_customers"              -> ((s, d) => money(Pipeline.of(s, d).newCust(true), "new_cust_revenue")),
    "q_new_customers_compact"      -> ((s, d) => money(Pipeline.of(s, d).newCust(false), "new_cust_revenue")),
    "q_returned_customers"         -> ((s, d) => money(Pipeline.of(s, d).returnedCust(true), "returned_revenue")),
    "q_returned_customers_compact" -> ((s, d) => money(Pipeline.of(s, d).returnedCust(false), "returned_revenue")),
    "q_refunded_customers"         -> ((s, d) => Pipeline.of(s, d).refundedCust(true)),
    "q_refunded_customers_compact" -> ((s, d) => Pipeline.of(s, d).refundedCust(false)),
    // J2 + N5/N6
    "q_retention_compact"     -> ((s, d) => money(Pipeline.of(s, d).retentionCompact,
                                                  "new_cust_revenue", "returned_revenue")),
    "q_f_customer_retention"  -> ((s, d) => Pipeline.of(s, d).fCustomerRetention),
    // (period,item)-grain variant — the scale-sane default (see Retention)
    "q_f_customer_retention_grain" ->
      ((s, d) => Pipeline.of(s, d).fCustomerRetentionGrain),
    // --- training-data-pipeline operators (BASELINE.json north star) ---
    "q_dedup_exact"         -> ((s, d) => ops.Dedup.exact(s, d)),
    "q_dedup_minhash_lsh"   -> ((s, d) => ops.Dedup.bandsCached(s, d)),
    // exact dense pair list (guard off) — matches the oracle's dense pairs
    "q_dedup_minhash_pairs" -> ((s, d) =>
      ops.Dedup.minhashPairs(s, d, Int.MaxValue)),
    // production guard level — star-pairs giant buckets; the degradation is
    // deterministic, so the oracle mirrors it (minhash_pairs_guarded CTE)
    "q_dedup_minhash_pairs_guarded" -> ((s, d) => ops.Dedup.minhashPairs(s, d)),
    "q_dedup_simhash"       -> ((s, d) => ops.Dedup.simhash(s, d)),
    // hamming-banded simhash candidates (pigeonhole LSH, no all-pairs)
    "q_dedup_simhash_pairs" -> ((s, d) => ops.Dedup.simhashPairs(s, d)),
    // 64-bit hash + 16-bit chunks: the corpus-scale banding shape
    "q_dedup_simhash64"       -> ((s, d) => ops.Dedup.simhash64(s, d)),
    "q_dedup_simhash64_pairs" -> ((s, d) => ops.Dedup.simhash64Pairs(s, d)),
    // ensemble tier: pairs BOTH hash families agree on (high precision)
    "q_dedup_consensus"     -> ((s, d) => ops.Dedup.consensusPairs(s, d)),
    "q_dedup_ngram_jaccard" -> ((s, d) => ops.Dedup.ngramJaccard(s, d)),
    "q_dedup_embedding"     -> ((s, d) => ops.Vectors.nearDup(s, d)),
    // IVF-cell-blocked near-dup — the corpus-scale blocking (no label oracle)
    "q_dedup_embedding_ivf" -> ((s, d) => ops.Vectors.nearDupIvf(s, d)),
    // random-hyperplane LSH blocking — model-free (no labels, no centroids)
    "q_dedup_embedding_lsh" -> ((s, d) => ops.Vectors.nearDupLsh(s, d)),
    "q_text_stats"          -> ((s, d) => ops.TextOps.textStats(s, d)),
    "q_quality_score"       -> ((s, d) => ops.TextOps.qualityScore(s, d)),
    "q_lang_id"             -> ((s, d) => ops.TextOps.langId(s, d)),
    // character-trigram variant of the n-gram language heuristic
    "q_lang_id_ngram"       -> ((s, d) => ops.TextOps.langIdNgram(s, d)),
    "q_doc_fingerprint"     -> ((s, d) => ops.TextOps.fingerprint(s, d)),
    // vocabulary/Zipf profile: top-100 words, deterministic tiebreak
    "q_word_freq"           -> ((s, d) => ops.TextOps.wordFreq(s, d)),
    "q_multimodal_meta"     -> ((s, d) => ops.Multimodal.meta(s, d)),
    "q_multimodal_frames"   -> ((s, d) => ops.Multimodal.frames(s, d)),
    "q_ann_cosine_topk"     -> ((s, d) => ops.Vectors.annCosineTopK(s, d)),
    // rank-set contract: float scores are engine-specific, ranks are not
    "q_ann_cosine_topk_fast" -> ((s, d) => ops.Vectors.annCosineTopKFast(s, d)),
    // near-dup clustering + deterministic sampling/splitting
    "q_dedup_clusters"       -> ((s, d) => ops.Dedup.clusters(s, d)),
    // O(log n)-round star-contraction CC — same contract, same oracle
    "q_dedup_clusters_fast"  -> ((s, d) => ops.Dedup.clustersFast(s, d)),
    "q_sample_stratified"    -> ((s, d) => ops.Sampling.stratifiedDocs(s, d)),
    "q_split_train_val_test" -> ((s, d) => ops.Sampling.trainValTestSplit(s, d)),
    // end-to-end curation: dedup clusters → keepers → quality → split
    "q_corpus_curated"       -> ((s, d) => ops.Corpus.curated(s, d)),
    // classic analytics anchors + data profiling
    "q_pricing_summary"   -> ((s, d) => ops.Analytics.pricingSummary(s, d)),
    "q_shipping_priority" -> ((s, d) => ops.Analytics.shippingPriority(s, d)),
    "q_top_customers"     -> ((s, d) => ops.Analytics.topCustomers(s, d)),
    "q_profile_orders"    -> ((s, d) => ops.Profile.ordersProfile(s, d)),
    "q_profile_quantiles" -> ((s, d) => ops.Profile.ordersQuantiles(s, d)),
    // sketch-quantile tolerance contract: the GK sketch's answers proved
    // within rank error n/accuracy against the exact data, per p
    "q_profile_quantiles_sketch" -> ((s, d) =>
      ops.Profile.ordersQuantilesSketch(s, d)),
    // as-of join (union+window composition — single shuffle, no range probe)
    "q_asof_latest_order" -> ((s, d) => ops.AsOf.latestOrderPerEvent(s, d)),
    // banded interval self-join: event pairs per user within ±6 hours —
    // 3-banded equi-join, never a nested-loop range probe
    "q_event_pairs" -> ((s, d) => ops.RangeJoin.eventPairs(s, d)),
    "q_ann_ivf_assign"      -> ((s, d) => ops.Vectors.ivfAssign(s, d)),
    "q_ann_ivf_topk"        -> ((s, d) => ops.Vectors.ivfTopK(s, d)),
    // multi-probe IVF: nprobe=2 nearest cells per query
    "q_ann_ivf_topk_probe2" -> ((s, d) => ops.Vectors.ivfTopKProbed(s, d)),
    // IVF centroid training: 2 Lloyd rounds, exact integer centroids
    "q_ann_kmeans_assign"   -> ((s, d) => ops.Vectors.kmeansAssign(s, d)),
    // fixed-budget (md5-ranked 4096) sampled Lloyd trainer, 1 full assign
    "q_ann_kmeans_assign_sampled" ->
      ((s, d) => ops.Vectors.kmeansAssignSampled(s, d)),
    // sampled-vs-full trainer cell-agreement monitor (ppm)
    "q_kmeans_sample_drift" ->
      ((s, d) => ops.Vectors.kmeansSampleDrift(s, d)),
    // event-stream analytics: gap sessionization (batch twin of the
    // streaming sessionizer) + per-type stats with exact distinct users
    "q_sessionize"       -> ((s, d) => ops.Sessions.sessions(s, d)),
    "q_event_type_stats" -> ((s, d) => ops.Sessions.eventTypeStats(s, d)),
    // deterministic KMV distinct-user sketch (oracle-checkable, unlike HLL)
    "q_kmv_users" -> ((s, d) => ops.Sessions.kmvUsers(s, d)),
    // first-order Markov transition counts over per-user event streams
    "q_event_transitions" -> ((s, d) => ops.Sessions.eventTransitions(s, d)),
    // BM25-shaped retrieval: top-k docs for a fixed query (integer-quantized)
    "q_bm25_top" -> ((s, d) => ops.TextOps.bm25Top(s, d)),
    // trailing-7-day rolling revenue per item (RANGE window over daily grain)
    "q_sales_rolling_7d" -> ((s, d) => money(
      ops.Analytics.rollingSales7dOf(Pipeline.of(s, d).uol),
      "day_revenue", "rev_7d")),
    // referential-integrity audit: orphan keys/rows per FK edge
    "q_fk_audit"         -> ((s, d) => ops.Audit.fkAudit(s, d)),
    // per-doc top-k TF-IDF terms (integer-log2 idf — bit-stable ranks)
    "q_tfidf_top"        -> ((s, d) => ops.TextOps.tfidfTop(s, d)),
    // incremental ingest: new-decile docs near-dup-checked against the
    // indexed corpus (no full re-dedup)
    "q_dedup_pairs_inc"  -> ((s, d) => ops.Dedup.minhashPairsIncremental(s, d)),
    // per-group top-k / pivot / ROLLUP marts + SCD2 dimension history
    "q_top_items_per_city" -> ((s, d) => money(
      ops.Analytics.topItemsPerCityOf(Pipeline.of(s, d).uol), "revenue")),
    "q_sales_pivot" -> ((s, d) => money(
      ops.Analytics.salesStatusPivotOf(Pipeline.of(s, d).uolV2),
      "shipped_amount", "refunded_amount")),
    "q_sales_rollup" -> ((s, d) => { val p = Pipeline.of(s, d)
      money(ops.Analytics.salesRollupOf(p.uol, p.registerCached), "revenue") }),
    "q_d_customer_scd" -> ((s, d) => Pipeline.of(s, d).dCustomerScdV2),
    // per-group exact quantiles + equi-width histogram profiling
    "q_quantiles_by_flag"    -> ((s, d) => ops.Profile.priceQuantilesByFlag(s, d)),
    "q_histogram_totalprice" -> ((s, d) => ops.Profile.totalpriceHistogram(s, d)),
    // curation filters: decontamination, PII scan, repetition ratio
    "q_contamination" -> ((s, d) => ops.TextOps.contamination(s, d)),
    "q_pii_scan"      -> ((s, d) => ops.TextOps.piiScan(s, d)),
    "q_repetition"    -> ((s, d) => ops.TextOps.repetition(s, d)),
    // ordered funnel conversion + BPE-style bigram statistics
    "q_funnel"        -> ((s, d) => ops.Sessions.funnel(s, d)),
    "q_bigram_freq"   -> ((s, d) => ops.TextOps.bigramFreq(s, d)),
    // PMI-surrogate collocations (multi-word expression mining)
    "q_colloc_pmi"    -> ((s, d) => ops.TextOps.collocPmi(s, d)),
    // full admission pipeline: curation + decontamination + PII +
    // repetition gates
    "q_corpus_curated_v2" -> ((s, d) => ops.Corpus.curatedV2(s, d)),
    // per-customer lifetime running revenue (LTV curve)
    "q_customer_cumrev" -> ((s, d) => money(
      ops.Analytics.customerCumRevOf(Pipeline.of(s, d).uol),
      "day_rev", "cum_rev")),
    // sketch-accelerated exact queries: bloom semi-join reduction and
    // CMS-verified heavy hitters (codegen probe expressions)
    "q_bloom_join"    -> ((s, d) => ops.RuntimeFilters.bloomUrgentRevenue(s, d)),
    "q_heavy_hitters" -> ((s, d) => ops.RuntimeFilters.heavyHitterParts(s, d)),
    // CUBE grouping sets via hierarchical re-agg (oracle runs real CUBE)
    "q_sales_cube" -> ((s, d) => { val p = Pipeline.of(s, d)
      money(ops.Analytics.salesCubeOf(p.uolV2, p.registerCached), "revenue") }),
    // exact ntile deciles without a single-partition window (two-phase rank)
    "q_customer_deciles" -> ((s, d) =>
      ops.Analytics.customerDecilesOf(Pipeline.of(s, d).uol)),
    // ANN quality: recall@3 of the IVF probe vs exact brute force
    "q_ann_recall" -> ((s, d) => ops.Vectors.annRecall(s, d)),
    // Morton (Z-order) layout keys — multi-dim file-skipping primitive
    "q_zorder_key" -> ((s, d) => ops.Layout.orderZKeys(s, d)),
    // explicit skew mitigation: salted two-phase agg over a 5-value key,
    // salted replicated join (≡ plain join/groupBy — the oracle states it)
    "q_priority_sales_salted" -> ((s, d) => ops.Skew.prioritySalesSalted(s, d)),
    "q_brand_qty_salted"      -> ((s, d) => ops.Skew.brandQtySalted(s, d)),
    // passage-level exact dedup: cross-doc duplicated k-word windows and
    // the per-doc duplicated-passage ratio (sub-document boilerplate signal)
    "q_dedup_passages"    -> ((s, d) => ops.TextOps.dedupPassages(s, d)),
    // substring tier: maximal duplicated word spans at arbitrary offsets
    "q_dedup_substring_spans" -> ((s, d) => ops.Dedup.substringSpans(s, d)),
    // corpus-level span-length histogram (power-of-2 word buckets)
    "q_substring_span_hist" -> ((s, d) => ops.Dedup.substringSpanHist(s, d)),
    // per-doc duplicated-span words vs token count (quote-heavy filter)
    "q_quote_heavy_docs" -> ((s, d) => ops.Dedup.quoteHeavyDocs(s, d)),
    // cross-source quote-flow matrix over the substring-span grain
    "q_span_source_matrix" -> ((s, d) => ops.Dedup.spanSourceMatrix(s, d)),
    // incremental substring check: new-batch spans vs the capped
    // positional shingle index (restriction-equivalent to the rebuild)
    "q_dedup_substring_inc" -> ((s, d) => ops.Dedup.dedupSubstringInc(s, d)),
    // index-build audit: what the occurrence cap removed (no silent caps)
    "q_substring_index_stats" ->
      ((s, d) => ops.Dedup.substringIndexStats(s, d)),
    // append-only ingest storage-debt ledger: per replayed batch, the
    // admitted / still-live / stranded-dead index rows (what compaction
    // reclaims, as an oracle-checked number)
    "q_substring_ingest_debt" ->
      ((s, d) => ops.Dedup.substringIngestDebt(s, d)),
    // the tier's APPLY step: per-doc merged word ranges covered by
    // duplicated spans — what a training pipeline masks, overlap-free
    "q_span_mask_ranges" -> ((s, d) => ops.Dedup.spanMaskRanges(s, d)),
    // per-source maskable volume (overlap-free ppm) — curation sizing
    "q_mask_savings_by_source" ->
      ((s, d) => ops.Dedup.maskSavingsBySource(s, d)),
    // ingest-time masking: new-batch docs' ranges off the incremental
    // match grain (== the rebuild's ranges restricted to batch docs)
    "q_span_mask_ranges_inc" ->
      ((s, d) => ops.Dedup.spanMaskRangesInc(s, d)),
    // crawl-health trend: per replayed batch, docs near-duplicating an
    // earlier batch (wasted crawl) vs within-batch dups
    "q_dup_rate_by_batch" -> ((s, d) => ops.Dedup.dupRateByBatch(s, d)),
    // cross-tier pair overlap: guarded minhash vs substring-span pairs
    "q_dedup_tier_overlap" -> ((s, d) => ops.Dedup.dedupTierOverlap(s, d)),
    // v3 admission: v2 plus the substring-tier quote-heavy gate
    "q_corpus_curated_v3" -> ((s, d) => ops.Corpus.curatedV3(s, d)),
    // v4 admission: mask instead of drop — quote-heavy docs kept with
    // their duplicated-span ranges excised from the token count
    "q_corpus_curated_v4" -> ((s, d) => ops.Corpus.curatedV4(s, d)),
    // per-source tokens retained v4 (mask) vs v3 (drop) — the yield
    // readout that justifies the span tier's apply step
    "q_mask_vs_drop_yield" -> ((s, d) => ops.Corpus.maskVsDropYield(s, d)),
    // incremental curation capstone — per-batch v4 admission off the
    // incremental cluster/substring tiers (≡ rebuild restricted)
    "q_corpus_curated_v4_inc" ->
      ((s, d) => ops.Corpus.curatedV4Inc(s, d)),
    // per-stage admission funnel of the arriving batch
    "q_curation_funnel_inc" ->
      ((s, d) => ops.Corpus.curationFunnelInc(s, d)),
    // incremental quote gate: arriving docs' quote signal off the
    // memoized incremental run grain
    "q_quote_heavy_docs_inc" ->
      ((s, d) => ops.Dedup.quoteHeavyDocsInc(s, d)),
    // v4 release card: per-(lang, source) post-mask token accounting
    "q_corpus_stats_v4" -> ((s, d) => ops.Corpus.corpusStatsV4(s, d)),
    "q_passage_dup_ratio" -> ((s, d) => ops.TextOps.passageDupRatio(s, d)),
    // product quantization: per-subspace encode + ADC table-lookup top-k,
    // and the IVF-PQ composition (cell-blocked candidates, ADC scoring)
    "q_pq_codes"    -> ((s, d) => ops.Vectors.pqCodes(s, d)),
    "q_pq_adc_topk" -> ((s, d) => ops.Vectors.pqAdcTopK(s, d)),
    "q_ivfpq_topk"  -> ((s, d) => ops.Vectors.ivfPqTopK(s, d)),
    // recall@3 of the full IVF-PQ serving path (multi-probe cells + ADC
    // ranking) vs exact brute force — probe misses AND quantization error
    "q_ivfpq_recall" -> ((s, d) => ops.Vectors.ivfPqRecall(s, d)),
    // the multi-probe payoff, measured: aggregate recall@3 at nprobe=1 vs
    // nprobe=2 against the same exact truth (one row per setting)
    "q_ivf_probe_recall" -> ((s, d) => ops.Vectors.ivfProbeRecallCmp(s, d)),
    // ingest-drift monitor for the frozen-quantizer append path: recall of
    // the mixed-embedding-version index vs the version-consistent truth
    "q_ivf_ingest_recall" -> ((s, d) => ops.Vectors.ivfIngestRecall(s, d)),
    // two-stage serving: ADC shortlist (k=10) -> exact rerank (top-3) —
    // only the shortlist rows ever touch full vectors
    "q_ivfpq_rerank" -> ((s, d) => ops.Vectors.ivfPqRerank(s, d)),
    // LSH candidates verified by exact Jaccard (false-positive removal
    // before clustering — the step banding trades for)
    "q_dedup_pairs_verified" -> ((s, d) =>
      ops.Dedup.minhashPairsVerified(s, d)),
    // the corpus card: per-(lang, source) doc/token counts, mean quality,
    // PII incidence, mean repetition — micro-quantized exact means
    "q_corpus_stats" -> ((s, d) => ops.Corpus.corpusStats(s, d)),
    // the full production dedup composition: candidates → exact-Jaccard
    // verification → connected components
    "q_dedup_clusters_verified" -> ((s, d) =>
      ops.Dedup.clustersVerified(s, d)),
    // market-basket co-occurrence: bounded per-order pair fanout + lift
    "q_basket_pairs" -> ((s, d) => ops.Basket.partPairs(s, d)),
    // DAU / trailing-7d WAU / stickiness via bounded window expansion
    "q_rolling_active_users" -> ((s, d) => ops.Sessions.rollingActiveUsers(s, d)),
    // blocked fuzzy match: block on head noun, verify by edit distance
    "q_fuzzy_part_pairs" -> ((s, d) => ops.Fuzzy.fuzzyPartPairs(s, d)),
    // concat-then-chunk sequence packing, sharded for parallelism
    "q_pack_sequences" -> ((s, d) => ops.Pack.packSequences(s, d)),
    // rolling z-score anomaly flags over daily revenue (exact-cents window)
    "q_revenue_anomaly" -> ((s, d) => ops.Analytics.revenueAnomaly(s, d)),
    // SCD2 point-in-time attribution: city as of 30 days before each sale
    "q_scd_pit" -> ((s, d) => { val p = Pipeline.of(s, d)
      ops.Analytics.scdPointInTimeOf(p.uolV2, p.dCustomerScdV2) }),
    // degree-ordered triangle census of the co-purchase graph
    "q_triangle_stats" -> ((s, d) => ops.Basket.triangleStats(s, d)),
    // Zipf head-mass curve: cumulative token coverage of the top-100 vocab
    "q_vocab_coverage" -> ((s, d) => ops.TextOps.vocabCoverage(s, d)),
    // per-language percentile-rank quality normalization (curation filter)
    "q_quality_pct_rank" -> ((s, d) => ops.TextOps.qualityPctRank(s, d)),
    // per-customer inter-order gap histogram (churn latency bands)
    "q_order_gaps" -> ((s, d) => ops.Analytics.orderGaps(s, d)),
    // reciprocal-rank fusion of BM25 + coverage rankings (hybrid retrieval)
    "q_rrf_fusion" -> ((s, d) => ops.TextOps.rrfFusion(s, d)),
    // INCREMENTAL SCD2 maintenance — merge the increment into the history
    // SCD; the oracle is the FULL-REBUILD SQL (merge ≡ rebuild)
    "q_d_customer_scd_inc" -> ((s, d) => { val p = Pipeline.of(s, d)
      etl.Dims.dCustomerScdMerge(
        p.dCustomerScdHist,
        p.uolTemp.groupBy(col("customer_id"),
            col("date_time").as("day"))
          .agg(org.apache.spark.sql.functions.max("city_id").as("city_id"))) }),
    // connected components of the co-purchase graph (star contraction)
    "q_basket_components" -> ((s, d) => ops.Basket.coPurchaseComponents(s, d)),
    // typed extraction from the JSON event-property bag + per-type rollup
    "q_props_json" -> ((s, d) => ops.Analytics.propsJsonStats(s, d)),
    // weekly cohort-retention matrix (first-purchase week × weeks-since)
    "q_cohort_retention" -> ((s, d) =>
      ops.Analytics.cohortRetentionOf(Pipeline.of(s, d).uol)),
    // per-source admission cap by deterministic md5 lottery (domain mix)
    "q_domain_quota" -> ((s, d) => ops.Corpus.domainQuota(s, d)),
    // α=1/2 temperature mixture weights (data mixing, ppm-exact)
    "q_mix_weights"  -> ((s, d) => ops.Corpus.mixWeights(s, d)),
    // per-cluster canonical doc: highest quality wins, not min doc_id
    "q_dedup_keep_best" -> ((s, d) => ops.Corpus.keepBest(s, d)),
    // power-of-2 token-length histogram (dataset-card length readout)
    "q_doclen_hist" -> ((s, d) => ops.TextOps.docLenHist(s, d)),
    // dimension snapshot diff: history-built vs full-feed d_customer (CDC)
    "q_snapshot_diff" -> ((s, d) => ops.Audit.customerSnapshotDiff(s, d)),
    // integer fixed-point PageRank (3 power iterations, damping 17/20)
    "q_pagerank" -> ((s, d) => ops.Basket.pageRank(s, d)),
    // MinHash-estimate vs exact Jaccard per candidate (sketch calibration)
    "q_minhash_est_err" -> ((s, d) => ops.Dedup.minhashEstError(s, d)),
    // co-purchase degree distribution (power-law readout)
    "q_degree_dist" -> ((s, d) => ops.Basket.degreeDist(s, d)),
    // weekly revenue concentration (HHI from exact integer sums)
    "q_revenue_hhi" -> ((s, d) =>
      ops.Analytics.revenueHhiOf(Pipeline.of(s, d).uol)),
    // per-column row/null/distinct data-quality profile (one-scan Expand)
    "q_dq_profile" -> ((s, d) => ops.Audit.dqProfile(s, d)),
    // language-ID confusion matrix (predicted vs labeled language)
    "q_lang_confusion" -> ((s, d) => ops.TextOps.langConfusion(s, d)),
    // per-join-key skew ratios (the pre-flight readout behind salting)
    "q_skew_report" -> ((s, d) => ops.Audit.skewReport(s, d)),
    // last-touch attribution: purchases credited to the latest prior
    // non-purchase event within 7 days (as-of machinery reuse)
    "q_attribution" -> ((s, d) => ops.AsOf.lastTouchAttribution(s, d)),
    // INCREMENTAL near-dup cluster maintenance — affected clusters only;
    // the oracle is the FULL-REBUILD clustering (merge ≡ rebuild)
    "q_dedup_clusters_inc" -> ((s, d) => ops.Dedup.clustersIncremental(s, d)),
    // bag-of-words fingerprint dedup (catches reordered duplicates)
    "q_dedup_bag" -> ((s, d) => ops.Dedup.bagExact(s, d)),
    // deterministic global training shuffle: (shard, rank) per doc
    "q_shuffle_shards" -> ((s, d) => ops.Sampling.shuffleShards(s, d)),
    // per-language chars-per-token fertility (ppm-exact)
    "q_token_fertility" -> ((s, d) => ops.TextOps.tokenFertility(s, d)),
    // per-doc unigram-LM surprisal (integer-log2 perplexity proxy)
    "q_unigram_logprob" -> ((s, d) => ops.TextOps.unigramSurprisal(s, d)),
    // pairwise vocabulary Jaccard between sources (mixing redundancy)
    "q_source_vocab_overlap" -> ((s, d) => ops.Corpus.sourceVocabOverlap(s, d)),
    // same-(user,type) 300s telemetry debounce (kept events)
    "q_event_debounce" -> ((s, d) => ops.Sessions.debounce(s, d)),
    // month-over-month revenue growth (signed ppm, truncate-toward-zero)
    "q_sales_mom" -> ((s, d) =>
      money(ops.Analytics.salesMomOf(Pipeline.of(s, d).uol), "rev")),
    // per-user event-rate power-of-2 histogram (bot/outlier readout)
    "q_event_rate_hist" -> ((s, d) => ops.Sessions.eventRateHist(s, d)),
    // per-label embedding norm histogram (norm-drift health check)
    "q_emb_norm_hist" -> ((s, d) => ops.Vectors.normHist(s, d)),
    // per-doc char-diversity entropy surrogate (gibberish detector)
    "q_char_entropy" -> ((s, d) => ops.TextOps.charEntropy(s, d)),
    // per-edge neighbor Jaccard of the co-purchase graph (link strength)
    "q_copurchase_jaccard" -> ((s, d) => ops.Basket.neighborJaccard(s, d)),
    // TPC-H Q5 shape: local-supplier revenue per nation (snowflake joins)
    "q_local_supplier_volume" -> ((s, d) =>
      ops.Analytics.localSupplierVolume(s, d)),
    // LSH candidates verified by edit distance (near-exact dup tier)
    "q_dedup_pairs_editdist" -> ((s, d) =>
      ops.Dedup.minhashPairsEditVerified(s, d)),
    // per-source exact-duplicate rate (corpus-card dup attribution)
    "q_dup_rate_by_source" -> ((s, d) => ops.Corpus.dupRateBySource(s, d)),
    // packing fill factor per shard (padding-waste readout)
    "q_pack_efficiency" -> ((s, d) => ops.Pack.packEfficiency(s, d)),
    // label-filtered ANN top-k (metadata-constrained vector search)
    "q_ann_filtered_topk" -> ((s, d) =>
      ops.Vectors.annCosineTopKFiltered(s, d)),
    // IVF cell-size balance report (serving tail-latency health)
    "q_ivf_cell_balance" -> ((s, d) => ops.Vectors.ivfCellBalance(s, d)),
    // LSH band-bucket size distribution (banding health)
    "q_minhash_band_stats" -> ((s, d) => ops.Dedup.minhashBandStats(s, d)),
    // train/test token-frequency drift over top-50 train words
    "q_token_freq_drift" -> ((s, d) => ops.TextOps.tokenFreqDrift(s, d)),
    // first-16-token prefix fingerprint dedup (footer-variant duplicates)
    "q_dedup_prefix" -> ((s, d) => ops.Dedup.prefixExact(s, d)),
    // near-dup cluster membership rate per source (verify-stage sizing)
    "q_near_dup_rate_by_source" -> ((s, d) =>
      ops.Corpus.nearDupRateBySource(s, d)),
    // benchmark-contamination rate per source (leak attribution)
    "q_contam_rate_by_source" -> ((s, d) =>
      ops.Corpus.contamRateBySource(s, d)),
    // hour-of-day x event-type seasonality profile
    "q_events_hour_profile" -> ((s, d) => ops.Sessions.hourProfile(s, d)),
    // per-source top-3 docs by quality (corpus-card showcase sample)
    "q_top_docs_per_source" -> ((s, d) => ops.Corpus.topDocsPerSource(s, d)),
    // cross-source near-dup pair counts (syndication overlap)
    "q_cross_source_dup_pairs" -> ((s, d) =>
      ops.Corpus.crossSourceDupPairs(s, d)),
    // label-agreement@k of the exact top-k (embedding-quality readout)
    "q_ann_label_agreement" -> ((s, d) =>
      ops.Vectors.annLabelAgreement(s, d)),
    // --- round 12: containment tier, novelty, budget/curriculum/
    //     weighted-sample curation, bucketed packing, embedding health ---
    // asymmetric shingle containment over guarded candidates (sub-doc dup)
    "q_minhash_containment" -> ((s, d) => ops.Dedup.minhashContainment(s, d)),
    // ppm fraction of a doc's shingles with corpus df=1 (novelty readout)
    "q_ngram_novelty" -> ((s, d) => ops.TextOps.ngramNovelty(s, d)),
    // best-quality docs per source under a token budget (bucket-pruned)
    "q_token_budget_select" -> ((s, d) => ops.Corpus.tokenBudgetSelect(s, d)),
    // (stage, shard, pos) curriculum address per doc (decile stages)
    "q_curriculum_order" -> ((s, d) => ops.Corpus.curriculumOrder(s, d)),
    // quality-weighted deterministic hash sampling (importance thinning)
    "q_weighted_sample" -> ((s, d) => ops.Sampling.weightedSample(s, d)),
    // length-bucketed packing summary (shuffle-friendly batch builder)
    "q_pack_buckets" -> ((s, d) => ops.Pack.packBuckets(s, d)),
    // per-dimension quantized sum/sumsq profile (collapse detector)
    "q_emb_dim_profile" -> ((s, d) => ops.Vectors.embDimProfile(s, d)),
    // mean-direction concentration ppm (cone-collapse readout)
    "q_emb_anisotropy" -> ((s, d) => ops.Vectors.embAnisotropy(s, d)),
    // quality-decile vs exact-dup rate calibration (signal cross-check)
    "q_quality_dup_calibration" -> ((s, d) =>
      ops.Corpus.qualityDupCalibration(s, d)),
    // integer tenth-bucket Jaccard histogram over guarded candidates
    "q_jaccard_hist" -> ((s, d) => ops.Dedup.jaccardHist(s, d)),
    // new-batch novelty vs history shingles (daily-admission readout)
    "q_ngram_novelty_inc" -> ((s, d) => ops.TextOps.ngramNoveltyInc(s, d)),
    // per-source ASCII/non-ASCII code-point profile (charset junk)
    "q_charset_profile" -> ((s, d) => ops.TextOps.charsetProfile(s, d)),
    // per-label embedding cohesion ppm (class-cluster tightness)
    "q_emb_label_cohesion" -> ((s, d) => ops.Vectors.embLabelCohesion(s, d)),
    // per-user lifecycle mart (first/last/active days/span)
    "q_user_lifecycle" -> ((s, d) => ops.Sessions.userLifecycle(s, d)),
    // per-label PQ reconstruction error (compressed-index signal loss)
    "q_pq_distortion" -> ((s, d) => ops.Vectors.pqDistortion(s, d)),
    // power-of-2 near-dup cluster-size histogram (dedup yield forecast)
    "q_dedup_cluster_sizes" -> ((s, d) => ops.Dedup.clusterSizesHist(s, d)),
    // per-doc candidate-degree histogram (post-join banding health)
    "q_pair_degree_dist" -> ((s, d) => ops.Dedup.pairDegreeDist(s, d)),
    // fractional passes per source implied by the tempered mixture
    "q_mix_epochs" -> ((s, d) => ops.Corpus.mixEpochs(s, d)),
    // Benford first-digit DQ profile of order totals (fraud/synth smoke)
    "q_benford_totalprice" -> ((s, d) => ops.Analytics.benfordTotalprice(s, d)),
    // discrete-quartile Tukey fences + outlier counts per order priority
    "q_price_outliers_iqr" -> ((s, d) => ops.Analytics.priceOutliersIqr(s, d)),
    // fixed-round BFS reachability histogram from the co-purchase hub
    "q_graph_hops" -> ((s, d) => ops.Basket.graphHops(s, d)),
    // payload-chunk fingerprint near-dup pairs (frame-level media dedup)
    "q_multimodal_frame_dedup" -> ((s, d) => ops.Multimodal.frameDedupPairs(s, d)),
    // per-doc bigram-LM conditional surprisal (rare-transition detector)
    "q_bigram_surprisal" -> ((s, d) => ops.TextOps.bigramSurprisal(s, d)),
    // per-doc type-token ratio (map-side lexical-diversity gate)
    "q_lexical_diversity" -> ((s, d) => ops.TextOps.lexicalDiversity(s, d)),
    // per-source token-concentration Gini (mixture-design readout)
    "q_token_gini" -> ((s, d) => ops.Corpus.tokenGiniBySource(s, d)),
    // near-dup cluster source-purity (syndication family readout)
    "q_cluster_purity" -> ((s, d) => ops.Dedup.clusterSourcePurity(s, d)),
    // train/test near-dup leakage matrix (eval-integrity readout)
    "q_split_leakage" -> ((s, d) => ops.Corpus.splitLeakage(s, d)),
    // dedup yield vs Jaccard threshold (integer cross-multiplied sweep)
    "q_dedup_threshold_sweep" -> ((s, d) => ops.Dedup.dedupThresholdSweep(s, d)),
    // per-lang discrete p5/p95 token-length trim dry-run
    "q_length_trim" -> ((s, d) => ops.TextOps.lengthTrim(s, d)),
    // per-source bigram transition diversity (template detector)
    "q_source_bigram_diversity" -> ((s, d) =>
      ops.TextOps.sourceBigramDiversity(s, d)),
    // sweep-line daily peak session concurrency (capacity profile)
    "q_session_concurrency" -> ((s, d) => ops.Sessions.sessionConcurrency(s, d)),
    // late-order rate per priority (TPC-H Q4 EXISTS/semi-join anchor)
    "q_late_orders" -> ((s, d) => ops.Analytics.lateOrders(s, d)),
    // customer order-count distribution incl. zero-order (Q13 shape)
    "q_cust_order_dist" -> ((s, d) => ops.Analytics.custOrderDist(s, d)),
    // RFM quintile segmentation cube (two-phase ranks, integer ntile)
    "q_customer_rfm" -> ((s, d) => ops.Analytics.customerRfm(s, d)),
    // contrastive per-source keywords (integer log-odds surrogate)
    "q_contrastive_terms" -> ((s, d) => ops.TextOps.contrastiveTerms(s, d)),
    // MRR of the IVF-PQ serving path vs the exact top-1 (rank-aware eval)
    "q_ann_mrr" -> ((s, d) => ops.Vectors.annMrr(s, d)),
    // discrete median/p90 stage-to-stage funnel latency
    "q_funnel_time" -> ((s, d) => ops.Sessions.funnelTimeToConvert(s, d)),
    // bilateral nation-pair trade matrix per ship year (TPC-H Q7 shape)
    "q_q7_volume" -> ((s, d) => ops.Analytics.volumeShipping(s, d)),
    // national ppm market share per order year (TPC-H Q8 shape)
    "q_q8_market_share" -> ((s, d) => ops.Analytics.marketShare(s, d)),
    // top-20 customers by refunded revenue in a quarter (TPC-H Q10 shape)
    "q_q10_returned_top" -> ((s, d) => ops.Analytics.returnedTop(s, d)),
    // monthly promo-revenue ppm share (TPC-H Q14 shape)
    "q_q14_promo_share" -> ((s, d) => ops.Analytics.promoShare(s, d)),
    // bulk orders over the quantity threshold (TPC-H Q18 shape)
    "q_q18_bulk_orders" -> ((s, d) => ops.Analytics.bulkOrders(s, d)),
    // idle above-average balances per nation (TPC-H Q22 shape)
    "q_q22_idle_balance" -> ((s, d) => ops.Analytics.idleBalance(s, d)),
    // round-13: the remaining TPC-H classic shapes, adapted to the
    // driver tables (no partsupp / shipmode / receipt columns) — with
    // these all 22 classic shapes are covered
    "q_q2_min_cost_supp" -> ((s, d) => ops.TpchShapes.minCostSupplier(s, d)),
    "q_q11_important_share" -> ((s, d) => ops.TpchShapes.importantPartValue(s, d)),
    "q_q12_priority_ship" -> ((s, d) => ops.TpchShapes.priorityShipClasses(s, d)),
    "q_q16_part_supplier_cnt" -> ((s, d) => ops.TpchShapes.partSupplierCnt(s, d)),
    "q_q19_disc_revenue" -> ((s, d) => ops.TpchShapes.discountedRevenue(s, d)),
    "q_q20_dominant_supplier" -> ((s, d) => ops.TpchShapes.dominantSuppliers(s, d)),
    "q_q21_late_only_supplier" -> ((s, d) => ops.TpchShapes.lateOnlySupplier(s, d)),
    // round-13 training-data ops: range search, readability, DF/Heaps
    // vocabulary curves, simhash precision curve, cross-lang dup matrix,
    // source-quality grid, supplier lead-time, brand price drift
    "q_ann_range_count" -> ((s, d) => ops.Vectors.annRangeCount(s, d)),
    "q_readability" -> ((s, d) => ops.TextOps.readability(s, d)),
    "q_token_doc_freq" -> ((s, d) => ops.Stats.tokenDocFreq(s, d)),
    "q_heaps_law" -> ((s, d) => ops.Stats.heapsLaw(s, d)),
    "q_simhash_precision_curve" -> ((s, d) => ops.Dedup.simhashPrecisionCurve(s, d)),
    "q_dup_lang_pairs" -> ((s, d) => ops.Dedup.dupLangPairs(s, d)),
    "q_source_quality_matrix" -> ((s, d) => ops.Corpus.sourceQualityMatrix(s, d)),
    "q_supplier_leadtime" -> ((s, d) => ops.Analytics.supplierLeadtime(s, d)),
    "q_brand_price_drift" -> ((s, d) => ops.Analytics.brandPriceDrift(s, d)),
    // round-13 batch 3: graph assortativity, cosine score mass curve,
    // 3-sigma telemetry outliers, partition-layout planner card
    "q_degree_assortativity" -> ((s, d) => ops.Basket.degreeAssortativity(s, d)),
    "q_cos_score_hist" -> ((s, d) => ops.Vectors.cosScoreHist(s, d)),
    "q_value_sigma_outliers" -> ((s, d) => ops.Sessions.valueSigmaOutliers(s, d)),
    "q_partition_planner" -> ((s, d) => ops.Layout.partitionPlanner(s, d)),
    // bag-cosine verify tier + sampled LSH recall
    "q_dedup_pairs_cosine" -> ((s, d) => ops.Dedup.bagCosinePairs(s, d)),
    "q_lsh_recall_sampled" -> ((s, d) => ops.Dedup.lshRecallSampled(s, d)),
    // near-dup FRAME pairs (4-gram simhash + hamming banding over chunks)
    // — exact pair list, the oracle baseline (output quadratic in clone
    // group size BY DESIGN; gate raises on oversized value buckets)
    "q_multimodal_near_dup" -> ((s, d) => ops.Multimodal.frameNearDup(s, d)),
    // guarded clustered sibling — the production entry: spanning edges +
    // CC, linear output, maxBucket star degradation (r13 verdict task 1)
    "q_multimodal_near_dup_clusters" -> ((s, d) =>
      ops.Multimodal.frameNearDupClusters(s, d)),
    // per-source hapax-legomena vocabulary-tail profile
    "q_hapax_rate" -> ((s, d) => ops.TextOps.hapaxRate(s, d)),
    // per-user event-type diversity entropy (integer surrogate)
    "q_event_entropy" -> ((s, d) => ops.Sessions.eventEntropy(s, d)),
    // no-join filter-scan what-if revenue fold (TPC-H Q6 shape)
    "q_q6_forecast" -> ((s, d) => ops.Analytics.forecastRevenue(s, d)),
    // scalar-max-subquery top supplier(s) by quarter revenue (Q15 shape)
    "q_q15_top_supplier" -> ((s, d) => ops.Analytics.topSupplier(s, d)),
    // correlated-average small-quantity revenue, cross-multiplied (Q17)
    "q_q17_small_qty" -> ((s, d) => ops.Analytics.smallQtyRevenue(s, d)),
    // stage-by-stage admission-funnel survivor counts (corpus card)
    "q_curation_funnel" -> ((s, d) => ops.Corpus.curationFunnel(s, d)),
    // per-log2-length-bucket raw vs curated survivor shift
    "q_dedup_length_shift" -> ((s, d) => ops.Corpus.dedupLengthShift(s, d)),
    // kNN-graph reciprocity rate over the exact top-k (hubness monitor)
    "q_knn_mutual" -> ((s, d) => ops.Vectors.knnMutual(s, d)),
    // asymmetric GROUPING SETS ((city,status),(status),()) report
    "q_sales_grouping_sets" -> ((s, d) => { val p = Pipeline.of(s, d)
      money(ops.Analytics.salesGroupingSetsOf(p.uolV2, p.registerCached),
            "revenue") }),
    // SCD2 version-opening churn per month (dimension-rewrite monitor)
    "q_scd_change_rate" -> ((s, d) => ops.Analytics.scdChangeRateOf(
      Pipeline.of(s, d).dCustomerScdV2)),
    // power-of-2 session-duration histogram (engagement shape card)
    "q_session_duration_hist" -> ((s, d) =>
      ops.Sessions.sessionDurationHist(s, d)),
    // power-of-2 media payload-size histogram (storage planning card)
    "q_multimodal_size_hist" -> ((s, d) => ops.Multimodal.sizeHist(s, d)),
    // top-|y| dimensions of one exact power-iteration step (anisotropy
    // direction profile, all-integer)
    "q_emb_principal_dims" -> ((s, d) => ops.Vectors.principalDims(s, d)),
    // Zipf-law fit: exact integer least-squares moments + rational slope
    "q_zipf_fit" -> ((s, d) => ops.Stats.zipfFit(s, d)),
    // per-source KS drift of doc-length distribution vs the corpus
    "q_ks_source_drift" -> ((s, d) => ops.Stats.ksSourceDrift(s, d)),
    // per-source exact (chars, tokens) second-order moments
    "q_length_token_moments" -> ((s, d) => ops.Stats.lengthTokenMoments(s, d)),
    // per-bit ones-rate of the 64-bit SimHash (sketch health, 64 rows)
    "q_simhash_bit_balance" -> ((s, d) => ops.Stats.simhashBitBalance(s, d)),
    // top-k shingles by distinct-doc df (boilerplate detector)
    "q_boilerplate_shingles" -> ((s, d) => ops.Stats.boilerplateShingles(s, d)),
    // connected components over the mutual-kNN reciprocity graph
    "q_knn_components" -> ((s, d) => ops.Vectors.knnComponents(s, d)),
    // fixed-budget (md5-ranked 1024) sampled sibling — exact in-sample
    "q_knn_components_sampled" ->
      ((s, d) => ops.Vectors.knnComponentsSampled(s, d)),
    // cohort lifetime value: cumulative revenue per signup-month cohort
    "q_cohort_ltv" -> ((s, d) =>
      ops.Analytics.cohortLtvOf(Pipeline.of(s, d).uol)),
    // TPC-H Q9 shape adapted: nation x product line x year profit
    "q_q9_profit" -> ((s, d) => ops.Analytics.productTypeProfit(s, d)),
    // users bucketed by floor-log2 mean inter-event gap (traffic shape)
    "q_user_burstiness" -> ((s, d) => ops.Sessions.userBurstiness(s, d)),
    // per-user Markov surprisal histogram (behavioral anomaly card)
    "q_event_seq_surprisal" -> ((s, d) => ops.Sessions.eventSeqSurprisal(s, d)),
    // per-source stopword-token rate (register/quality mix card)
    "q_stopword_profile" -> ((s, d) => ops.Stats.stopwordProfile(s, d)),
    // per-source exact-dup token savings (dedup inflation card)
    "q_dup_inflation" -> ((s, d) => ops.Stats.dupInflation(s, d)),
    // ISO day-of-week sales seasonality profile
    "q_sales_dow_profile" -> ((s, d) =>
      ops.Analytics.salesDowProfileOf(Pipeline.of(s, d).uol)),
    // monthly customer-revenue Gini (exact integer ppm)
    "q_customer_gini_monthly" -> ((s, d) =>
      ops.Analytics.customerGiniMonthlyOf(Pipeline.of(s, d).uol)),
    // token BYTE-length histogram (octet_length — engine-neutral)
    "q_token_len_hist" -> ((s, d) => ops.Stats.tokenLenHist(s, d)),
    // deterministic shard-size skew monitor (one row)
    "q_shard_skew_profile" -> ((s, d) => ops.Stats.shardSkew(s, d)),
    // monthly open-order share + cumulative backlog curve
    "q_order_backlog" -> ((s, d) => ops.Analytics.orderBacklog(s, d)),
    // per-product-line exact (quantity, price) moments
    "q_price_qty_moments" -> ((s, d) => ops.Analytics.priceQtyMoments(s, d)),
    // weekly telemetry-value drift card
    "q_event_value_weekly" -> ((s, d) => ops.Sessions.eventValueWeekly(s, d)),
    // --- round 14: recommender/graph serving tables, media dup ratio,
    //     corpus-health correlation, order seasonality/churn/sequence,
    //     ANN rank stability, LSH banding entropy ---
    // per-part top-3 co-purchase partners (integer-tiebreak rank)
    "q_copurchase_partners" -> ((s, d) => ops.Basket.topPartners(s, d)),
    // local clustering-coefficient decile histogram (community shape)
    "q_local_cc_hist" -> ((s, d) => ops.Basket.localCcHist(s, d)),
    // per-media duplicated-frame share (re-upload detector tier)
    "q_frame_dup_ratio" -> ((s, d) => ops.Multimodal.frameDupRatio(s, d)),
    // quality-vs-log-length Pearson (is quality just length?)
    "q_quality_len_corr" -> ((s, d) => ops.Stats.qualityLenCorr(s, d)),
    // month-of-year revenue seasonal index (integer ppm)
    "q_seasonal_index" -> ((s, d) => ops.Analytics.seasonalIndex(s, d)),
    // churned customers (>=90d inactive) per market segment
    "q_churn_by_segment" -> ((s, d) => ops.Analytics.churnBySegment(s, d)),
    // consecutive order-priority Markov transitions per customer
    "q_priority_transitions" -> ((s, d) =>
      ops.Analytics.priorityTransitions(s, d)),
    // power-of-2-weighted trailing-8-week revenue trend (integer EWMA)
    "q_ewma_revenue" -> ((s, d) => ops.Analytics.ewmaRevenue(s, d)),
    // per-event-type log2 inter-event-gap histogram (debounce sizing)
    "q_gap_hist_by_type" -> ((s, d) => ops.Sessions.gapHistByType(s, d)),
    // exact-vs-ADC top-k inversion count (quantization rank drift)
    "q_ann_rank_stability" -> ((s, d) => ops.Vectors.rankStability(s, d)),
    // fixed-budget (md5-ranked 256) sampled sibling of the monitor
    "q_ann_rank_stability_sampled" ->
      ((s, d) => ops.Vectors.rankStabilitySampled(s, d)),
    // per-band bucket-occupancy entropy (banding health, one row per band)
    "q_minhash_band_entropy" -> ((s, d) => ops.Dedup.bandEntropy(s, d)))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Oracle.sql
}
