package graft

import graft.catalog.{PipelineRunner, Warehouse}
import graft.etl.{Retention, Sales}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark. Prints TWO JSON lines to stdout:
  *
  *  1. the FULL line — canonical query names, 3-decimal seconds, the raw
  *     `passes` arrays plus a first-class `cold` map (pass 1 — the
  *     build-inclusive cost) and a `memo_backed` list stamping every query
  *     whose steady-state plan reads an in-session materialized frame (r19:
  *     those rows' min-of-passes price a cache read, so claims about them
  *     must cite `cold`), warehouse detail, errors. Also written to
  *     `BENCH_full.json`.
  *  2. the COMPACT driver line, printed LAST — the driver captures only the
  *     final 2000 characters of stdout (measured from the r3/r4 artifacts:
  *     `tail` is exactly 2000 chars and ends with sbt's `[success] …` line,
  *     ~80 chars), so this line must fit entirely inside ~1900 bytes or the
  *     artifact's `parsed` field is null. With 85 canonical names at
  *     2-decimal precision the map alone is ~2.2 KB, so the compact line
  *     applies [[Bench.shortKey]] — a mechanical, collision-checked token
  *     substitution (q_→'', dedup_→dd_, …) documented in ARCHITECTURE.md;
  *     canonical names live in line 1 / BENCH_full.json.
  *
  * Two series:
  *  - `queries` (pipeline mode): every SparkEntry query timed end-to-end,
  *    THREE times. Pass 1 (`cold`) starts from an empty JVM: queries that
  *    first touch a shared memoized subplan (the order feed, shingles,
  *    bands, cluster labels) pay its build; passes 2-3 are the steady
  *    state. The single `queries` map reports min-of-passes — comparable
  *    to the r1-r6 series (min-of-two) — with `median` and the raw
  *    `passes` arrays beside it so a claim can be stated as a range.
  *  - `warehouse` mode: PipelineRunner materializes staging+marts to
  *    parquet THREE times (reported as min-of-passes `materialize_sec`
  *    plus the raw `materialize_passes`; pass 1 reuses the shared
  *    Pipeline's cached staging frames — the honest cost of materializing
  *    after the query series, not a cold rebuild), then EVERY in-session
  *    cache is invalidated (every memo-registry entry of the sf-dir +
  *    `catalog.clearCache()`) so the read-back queries run against the
  *    warehouse parquet with no cross-series cache pressure or flattery —
  *    r4's w_* read-back drag was exactly this interference. The synthetic
  *    daily cycle (drain → pruned merge → scoped compaction against the
  *    80-month fact) runs three times after the read-back series, one
  *    equivalent week per pass (`daily_cycle_sec` = min,
  *    `daily_cycle_passes` raw). The min-of-N on both sections is the r9
  *    fix: as 1-pass numbers they absorbed host load raw (a loaded driver
  *    run published dc 26.73 s vs the clean 3.88 s).
  *
  * SELF-DEFENSE against a loaded host (the r5/r6 artifact-contamination
  * root cause): each query's `suspect` flags fire when (a) the warm passes
  * run >3× slower than the cold pass of the SAME plan in the SAME JVM —
  * physically impossible as a plan cost, so the run itself is contaminated
  * — or (b) min-of-passes regressed >3× vs the previous round's COMMITTED
  * BENCH_full.json (read before this run overwrites it). A contaminated
  * run therefore flags itself in the artifact instead of shipping
  * silently; the compact line carries the count as `sus`.
  *
  * RESIDUAL RISK the flags cannot cover: a query ABSENT from the previous
  * committed artifact (a new query's first round) whose contamination hits
  * only the cold pass — min-of-passes comes from the clean warm passes, so
  * the headline is right, but warm_gt_cold (needs warm >> cold) and
  * vs_prev (needs a prev entry) both stay silent. First-round rows are
  * therefore headline-robust but flag-unprotected; don't over-trust their
  * cold numbers.
  *
  * Whole-RUN load labeling (r7 driver run: a 42× pass spread with
  * `suspect:[]` was visible only by reading the raw `passes` arrays):
  * `pass_spread_gt5` counts rows whose max/min pass ratio exceeds 5×
  * (min ≥ 0.05 s floor, as for the flags — sub-noise rows don't count),
  * `warm_spread_gt5` counts the same ratio over the WARM passes only
  * (cold pass dropped), and `loadavg_start`/`loadavg_end` record
  * /proc/loadavg's 1-minute figure before the warmup and after the last
  * timed step. The two spread fields differ on purpose — measured on
  * this host: a clean run shows pass_spread ≈ 20 (first-pass codegen +
  * memo-cache materialization make a >5× cold pass STRUCTURAL for the
  * cache-backed queries) but warm_spread = 0, while the r7
  * load-contaminated driver run shows 41 / 24. So `warm_spread_gt5` is
  * the one-field label with a clean-zero baseline; `pass_spread_gt5`
  * keeps cold-pass-only contamination (the 67.97 s r7 retention pass)
  * from hiding, read against its ~20 structural floor.
  *
  * Failures are recorded explicitly: a crashing query reports -1 and its
  * name lands in `errors`. If ANY pipeline query failed, the headline
  * `value` is -1 and the surviving queries' sum is reported as
  * `partial_value` with `covered`/`of` counts (compact: `pval`/`cov`) —
  * round 8 showed that a silent partial sum (79 of 101 queries) reads as
  * a faster round, not a broken one. The compact line carries the error
  * COUNT (`nerr`), never the list: 67 error strings pushed the r8 compact
  * line past the driver's 2000-char stdout tail window.
  */
object Bench {

  /** Mechanical key compression for the compact driver line (stdout tail
    * window is 2000 chars). Applied left-to-right; collision-freedom over
    * SparkEntry.queries ∪ warehouse names is asserted in BenchLineSpec. */
  private[graft] val keyTokens: Seq[(String, String)] = Seq(
    "q_" -> "", "w_" -> "", "dedup_" -> "dd_", "minhash" -> "mh",
    "simhash" -> "sh", "customers" -> "custs", "customer" -> "cust",
    "calendar" -> "cal", "retention" -> "ret", "compact" -> "cmp",
    "embedding" -> "emb", "corpus_curated" -> "corpus_cur",
    "user_order_log" -> "uol", "user_activity_log" -> "ual",
    "multimodal" -> "mm", "split_train_val_test" -> "split",
    "quantiles" -> "qnt", "fingerprint" -> "fp", "clusters" -> "cls",
    "heavy_hitters" -> "hh", "histogram" -> "hist",
    "sessionize" -> "sess", "stratified" -> "strat",
    // round 5: the query set grew to 95 — tighter tokens keep the
    // worst-case line (every value "123.45") under ~1850 B (1841 B
    // measured; BenchLineSpec pins the <1900 budget)
    "sales" -> "sl", "pairs" -> "prs", "returned" -> "retd",
    "refunded" -> "refd", "guarded" -> "grd", "contamination" -> "contam",
    "repetition" -> "rept", "cosine" -> "cos", "kmeans" -> "km",
    "assign" -> "asn", "totalprice" -> "tp", "profile" -> "prf",
    "shipping" -> "ship", "priority" -> "prio", "salted" -> "slt",
    "passages" -> "psgs", "passage" -> "psg", "deciles" -> "dec",
    "quality" -> "qual", "jaccard" -> "jac", "research" -> "rsch",
    "rolling" -> "roll", "summary" -> "sum", "stats" -> "st",
    "weeks" -> "wks", "sample_" -> "smp_", "latest_order" -> "lo",
    "topk" -> "tk", "probe2" -> "p2", "bigram" -> "bg",
    "items_per_city" -> "ipc", "pricing" -> "prc", "zorder" -> "zo",
    "bloom" -> "bl", "recall" -> "rcl", "frames" -> "frm",
    "exact" -> "ex", "ngram" -> "ng", "audit" -> "aud",
    "funnel" -> "fnl", "custs_cmp" -> "cc",
    // round 6: 99 queries — recover headroom for the three new keys.
    // (No "ivfpq" token: the leading "q_"->"" replacement already eats the
    // embedded q_ of every ivfpq_* name — they short to ivfptk/ivfprcl/
    // ivfprr via the suffix tokens.)
    "sketch" -> "sk", "verified" -> "ver",
    "grain" -> "gr", "ann_" -> "a_", "rerank" -> "rr",
    "event_type" -> "evt",
    // round 7: 101 queries plus the new compact fields ("dc" daily-cycle,
    // "sus" suspect count) — "probe" lands AFTER "probe2"->"p2" so only
    // the new probe_recall key sees it; the rest compress the long tail
    // (worst case 1888 B, re-pinned <1900 in BenchLineSpec)
    "ingest" -> "ing", "probe" -> "pb", "cust" -> "cs", "ivf_" -> "iv",
    "corpus_" -> "cp_", "_ratio" -> "_rt", "_fast" -> "f", "brand" -> "br",
    // round 9: the partial-run fields (pval/cov/nerr) joined the
    // worst-case line — recover their ~48 B from the densest families
    "dd_" -> "D", "prf_" -> "pf", "cp_" -> "c",
    // round 11: the vs-prev gate's "vsp":"off" field joined the worst-case
    // line (12 B) — the two densest post-compression suffixes repay it
    // with headroom (27 B over the 101 names; worst case 1873 B)
    "_prs" -> "P", "_inc" -> "I",
    // round 11b: three new queries (KMV sketch, Markov transitions, BM25)
    // joined the line — whole-key tokens for them and for the longest
    // leftover shorts keep the worst case under budget (1878 B measured)
    "event_transitions" -> "etrn", "kmv_users" -> "kmv",
    "qnt_by_flag" -> "qbf", "psg_dup_rt" -> "pdr",
    "sl_roll_7d" -> "slr7", "prio_sl_slt" -> "psst",
    // round 11c: six new queries (basket, rolling actives, fuzzy, packing,
    // anomaly, PIT) pushed the worst case to 2021 B — whole-key tokens for
    // them plus the longest leftover shorts buy the line back (the tokens
    // match POST-substitution forms; injectivity spec-checked)
    "roll_active_users" -> "rau", "revenue_anomaly" -> "ranom",
    "pack_sequences" -> "pack", "fuzzy_partP" -> "fzp",
    "basketP" -> "bkp", "scd_pit" -> "sdp",
    "f_cs_ret" -> "fcr", "br_qty_slt" -> "bqs", "lang_id" -> "lid",
    "qual_score" -> "qsc", "a_cos_tk" -> "act", "cs_cumrev" -> "ccr",
    "d_cal_wks" -> "dcw", "iving_rcl" -> "ivgr", "ivpb_rcl" -> "ivpr",
    "price_log" -> "plog", "sl_rollup" -> "slru", "smp_strat" -> "smps",
    "ship_prio" -> "shpr", "tfidf_top" -> "tft", "word_freq" -> "wfq",
    "bm25_top" -> "bm25", "d_cs_scd" -> "dscd", "a_km_asn" -> "akm",
    // round 11d: four more queries (triangles, vocab coverage, quality
    // percentile, order gaps) — whole-key tokens for them and the densest
    // leftover mid-length keys
    "triangle_st" -> "tri", "vocab_coverage" -> "vcov",
    // ("quality" already shortened to "qual" by the round-5 token, so the
    // pct-rank token matches the post-substitution form)
    "qual_pct_rank" -> "qpr", "order_gaps" -> "ogap",
    // round 11e: RRF fusion, SCD2 merge, basket components — plus the
    // densest leftover 8-9 char keys to repay the three new entries
    "rrf_fusion" -> "rrf", "basket_components" -> "bktc",
    "a_ivtk_p2" -> "avp2", "Dcls_ver" -> "Dcv", "Demb_ivf" -> "Dei",
    "Demb_lsh" -> "Del", "DmhP_grd" -> "Dmg", "Dprs_ver" -> "Dpv",
    "pii_scan" -> "pii", "pforders" -> "pfo",
    "evt_st" -> "evs", "fk_aud" -> "fka", "hist_tp" -> "htp",
    "mm_meta" -> "mmm", "mm_frm" -> "mmf", "top_css" -> "tcs",
    "Dsh64P" -> "ds6P", "sl_cube" -> "slcb",
    "sl_pivot" -> "slpv", "prc_sum" -> "prsm", "d_cal" -> "dcl",
    // round 11f: seven new queries (JSON props, cohort matrix, domain
    // quota, keep-best canonical, doc-length histogram, snapshot diff,
    // PageRank) — whole-key tokens matching POST-substitution forms
    // ("retention"->"ret" and "dedup_"->"dd_"->"D" have already fired)
    "props_json" -> "pjsn", "cohort_ret" -> "coh", "domain_quota" -> "dmq",
    "Dkeep_best" -> "Dkb", "doclen_hist" -> "dlh",
    "snapshot_diff" -> "snpd", "pagerank" -> "pgr",
    // ...and the 19 longest leftover shorts repay the seven new entries
    // (the old "Dngjac" token was dead — the post-substitution form is
    // "Dng_jac" with the underscore; replaced below with one that fires)
    "pfqnt_sk" -> "pqs", "refd_css" -> "rfc", "retd_css" -> "rtc",
    "a_ivasn" -> "aia", "asof_lo" -> "alo", "bg_freq" -> "bgf",
    "bl_join" -> "blj", "ccur_v2" -> "cc2", "cs_rsch" -> "crs",
    "Dmh_lsh" -> "Dml", "Dng_jac" -> "dnj", "f_sl_v2" -> "fs2",
    "ivfprcl" -> "ivr", "padc_tk" -> "pat", "refd_cc" -> "rfcc",
    "ret_cmp" -> "rcm", "retd_cc" -> "rtcc", "text_st" -> "tst",
    "top_ipc" -> "tip", "contam" -> "ctm", "doc_fp" -> "dfp",
    "eventP" -> "evP", "cs_dec" -> "cdc",
    // round 11g: four more queries (sketch calibration, degree dist,
    // revenue HHI, DQ profile) — their tokens plus the densest leftover
    // 5-6 char shorts keep the worst case under the <1900 B pin
    "mh_est_err" -> "mee", "degree_dist" -> "degd",
    "revenue_hhi" -> "rhhi", "dq_prf" -> "dqp",
    "a_ivtk" -> "ait", "d_item" -> "dit", "fcr_gr" -> "fcg",
    "ivfprr" -> "ivq", "ivfptk" -> "ivt", "lid_ng" -> "lng",
    "pcodes" -> "pqc", "uol_v2" -> "uo2", "zo_key" -> "zok",
    "a_rcl" -> "arc", "dscdI" -> "dsi", "Dclsf" -> "Dcf",
    "Dpsgs" -> "Dps", "f_slI" -> "fsi", "necss" -> "ncs",
    "pfqnt" -> "pfq", "ranom" -> "rnm", "split" -> "spl",
    "Dsh64" -> "ds6", "DprsI" -> "Dpi",
    // round 11h: three more queries (lang confusion, skew report,
    // attribution; "skew_report" arrives as "skereport" — the w_ strip
    // ate its "w_") — repaid by 2-char tokens for the densest leftover
    // 4-char shorts (2-char space is otherwise unused; injectivity is
    // spec-checked per name set)
    "lang_confusion" -> "lcf", "attribution" -> "att",
    "skereport" -> "skw",
    "actf" -> "af", "avp2" -> "a2", "bktc" -> "bc", "bm25" -> "bm",
    "ccur" -> "cu", "dclI" -> "dI", "dscd" -> "dd", "Dcls" -> "Dc",
    "Demb" -> "De", "DmhP" -> "Dm", "ds6P" -> "d6", "DshP" -> "Ds",
    "etrn" -> "et", "f_sl" -> "fl", "ivgr" -> "ig", "ivpr" -> "ip",
    "necc" -> "nc", "ogap" -> "og", "pack" -> "pk", "plog" -> "pl",
    "smps" -> "sm", "shpr" -> "sp",
    // round 11i: q_dedup_clusters_inc shorts to DcI for free (the Dcls
    // and _inc tokens compose); two sales-mart tokens repay its 13 B
    "slcb" -> "sb", "slpv" -> "sv")

  private[graft] def shortKey(name: String): String =
    keyTokens.foldLeft(name) { case (s, (from, to)) => s.replace(from, to) }

  /** One streamed substring-ingest cycle (the `w_ss_ingest` grain): split
    * `sfDir`'s documents into three ascending doc_id ranges, deliver each
    * as one parquet file into a fresh watch dir, and drain per delivery
    * ([[graft.streaming.SubstringIngest.runIngestAvailableNow]]) — the
    * crawler's steady state: check batch against the committed bucketed
    * index, fold its shingles in, commit. Shared with ScaleProbe's
    * `ss-only` path, which probes the same cycle at 1× vs N× corpus. */
  private[graft] def ssIngestCycle(spark: SparkSession, sfDir: String,
                                   root: String): Unit = {
    import org.apache.spark.sql.functions.{col, max}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.agg(max("doc_id")).head().getLong(0)
    val wh = new Warehouse(spark, s"$root/wh")
    val watch = s"$root/watch"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
    val cuts = Seq(n / 3, 2 * n / 3)
    for (i <- 0 to 2) {
      val b = i match {
        case 0 => docs.where(col("doc_id") <= cuts(0))
        case 1 => docs.where(col("doc_id") > cuts(0) &&
                             col("doc_id") <= cuts(1))
        case _ => docs.where(col("doc_id") > cuts(1))
      }
      val tmp = s"$root/.deliver_$i"
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(watch, s"crawl_$i.parquet"))
      graft.streaming.SubstringIngest.runIngestAvailableNow(spark, sfDir,
        watch, s"$root/ckpt", wh, s"$root/results")
    }
  }

  /** The compaction grain (`w_ss_compact`): ingest the first two
    * doc_id-range batches directly (untimed bootstrap), then time the
    * serving check of the third batch against the UNCOMPACTED committed
    * state, the compaction fold itself, and the same check against the
    * compacted generation — the cost AND payoff of the nightly
    * maintenance slot as three tracked numbers (the debt SIZE is already
    * oracle-checked by q_substring_ingest_debt; this is the reclaim). */
  private[graft] def ssCompactGrain(spark: SparkSession, sfDir: String,
                                    root: String): (Double, Double, Double) = {
    import org.apache.spark.sql.functions.{col, max}
    import graft.streaming.SubstringIngest
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.agg(max("doc_id")).head().getLong(0)
    val wh = new Warehouse(spark, s"$root/wh")
    SubstringIngest.ingestBatch(wh, docs.where(col("doc_id") <= n / 3), 0L)
    SubstringIngest.ingestBatch(wh,
      docs.where(col("doc_id") > n / 3 && col("doc_id") <= 2 * n / 3), 1L)
    val probePs = graft.ops.TextOps.posShinglesOf(
      graft.ops.TextOps.withWords(graft.ops.TextOps.normalize(
        docs.where(col("doc_id") > 2 * n / 3))))
    def check(): Double = {
      val t0 = System.nanoTime()
      graft.ops.Dedup.substringSpansIncOf(SubstringIngest.committedIndex(wh),
        SubstringIngest.committedCensus(wh), probePs).count()
      (System.nanoTime() - t0) / 1e9
    }
    val pre = check()
    val t0 = System.nanoTime()
    SubstringIngest.compactState(wh)
    val compact = (System.nanoTime() - t0) / 1e9
    val post = check()
    (pre, compact, post)
  }

  /** Recursive local temp-dir cleanup (shared with ScaleProbe's warehouse
    * probe — both materialize a throwaway warehouse per run). */
  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  /** 2-decimal, trailing-zero-stripped JSON number ("0.08", "1.5", "32"). */
  private[graft] def r2(v: Double): String = {
    val s = new java.math.BigDecimal(v)
      .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
      .stripSuffix(".")
    else s
  }

  private def r3(v: Double): String =
    new java.math.BigDecimal(v).setScale(3, java.math.RoundingMode.HALF_UP)
      .toPlainString

  private def jmap(m: Seq[(String, Double)], f: Double => String,
                   key: String => String = identity): String =
    m.map { case (k, v) => "\"" + key(k) + "\":" + f(v) }
      .mkString("{", ",", "}")

  /** Compact per-query map bounded to `budget` bytes — the query count
    * outgrew the driver's 2000-char stdout tail (at ~15 B/entry realistic
    * rendering, 135+ queries cannot fit whole under ANY sane encoding), so
    * when the full map would overflow, the compact line keeps the SLOWEST
    * queries that fit and aggregates the dropped fast tail into a `qrest`
    * companion (`{"n":dropped,"sum":their_seconds}`) — the kept entries
    * plus qrest still reconstruct the headline sum, and nothing reads as
    * "covered" that wasn't. FAILED queries (value -1) sort ahead of every
    * timed one: a failure can never be silently truncated away. Full
    * per-query fidelity always lives in line 1 / BENCH_full.json.
    * Returns (mapJson, keptCount, Some(qrestField) when truncated). */
  private[graft] def compactQueryMap(
      pMin: Seq[(String, Double)],
      budget: Int = 1500): (String, Int, Option[String]) = {
    def render(entries: Seq[(String, Double)]): String =
      jmap(entries.sortBy(_._1), r2, shortKey)
    val all = render(pMin)
    if (all.length <= budget) (all, pMin.size, None)
    else {
      // failed first (they must survive), then slowest, name tiebreak;
      // keep the longest prefix whose rendered map fits the budget
      val ranked = pMin.sortBy { case (k, v) => (v >= 0, -v, k) }
      var kept = Vector.empty[(String, Double)]
      var len = 2 // braces
      var stop = false
      for (e <- ranked if !stop) {
        val piece = "\"" + shortKey(e._1) + "\":" + r2(e._2)
        val add = piece.length + (if (kept.isEmpty) 0 else 1)
        if (len + add <= budget) { kept = kept :+ e; len += add }
        else stop = true
      }
      val rest = ranked.drop(kept.size)
      val restField =
        s""""qrest":{"n":${rest.size},""" +
        s""""sum":${r2(rest.map(_._2).filter(_ >= 0).sum)}}"""
      (render(kept), kept.size, Some(restField))
    }
  }

  private def jmapArr(m: Seq[(String, Seq[Double])]): String =
    m.map { case (k, vs) =>
        "\"" + k + "\":" + vs.map(r3).mkString("[", ",", "]") }
      .mkString("{", ",", "}")

  /** min/median over a query's passes; any failed pass poisons to -1.
    * True median for any pass count (even lengths average the two middle
    * elements — the current 3-pass series never hits that arm, but the
    * name must not lie if the pass count ever changes). */
  private[graft] def minOf(ps: Seq[Double]): Double =
    if (ps.exists(_ < 0)) -1.0 else ps.min
  private[graft] def medianOf(ps: Seq[Double]): Double =
    if (ps.exists(_ < 0)) -1.0
    else {
      val s = ps.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  /** True when a query's steady-state plan reads an in-session
    * materialized frame — a checkpoint leaf (`LogicalRDD`) or a cached
    * relation (`InMemoryRelation`) — rather than recomputing from the
    * parquet inputs. Such rows' warm passes price a cache read, not the
    * computation (r18 verdict: min-of-3 over memoized grains flattered
    * ~14 rows), so the artifact stamps them and carries the cold
    * (build-inclusive) pass per query beside the min. Deliberately
    * OVER-approximate: any RDD-backed leaf counts (e.g. the Ids.dense
    * two-phase id frames), because those plans also serve warm passes
    * from persisted intermediates — when in doubt, a row is priced by
    * its cold pass, never the other way. */
  private[graft] def memoBacked(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case _: org.apache.spark.sql.execution.LogicalRDD => ()
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => ()
    }.isDefined

  /** Whole-run load label: rows whose max/min pass ratio exceeds 5× (see
    * class doc). Failed rows and rows under the 0.05 s floor don't count. */
  private[graft] def passSpreadGt5(series: Seq[(String, Seq[Double])]): Int =
    series.count { case (_, ps) =>
      ps.forall(_ >= 0) && ps.nonEmpty && ps.min >= 0.05 &&
        ps.max > 5 * ps.min
    }

  /** Same ratio over warm passes only (cold dropped) — zero on a clean
    * host (warm passes of one plan are near-identical), nonzero under
    * contention. Series with <3 passes have no warm pair and don't
    * count. */
  private[graft] def warmSpreadGt5(series: Seq[(String, Seq[Double])]): Int =
    passSpreadGt5(series.collect { case (k, ps) if ps.size >= 3 =>
      (k, ps.drop(1)) })

  /** 1-minute load average (/proc/loadavg field 1); -1 if unreadable. */
  private[graft] def loadAvg1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+").head.toDouble
    catch { case _: Exception => -1.0 }

  /** Load-contamination preflight verdict (r13 verdict task 6: three
    * consecutive driver runs were load-contaminated and the adjudication
    * vs the clean band was prose, not mechanical). A bench that STARTS on
    * a loaded host — 1-minute loadavg above `threshold` before any Spark
    * work — is stamped `"contaminated": true` in both artifact lines, so
    * a reader (or the next round's judge) discards its absolute times
    * mechanically and reaches for the committed band. Threshold 2.0: a
    * dedicated local[N] box idles near 0; the contaminated driver runs
    * started at 6+. Unreadable /proc/loadavg (-1) is NOT contamination —
    * absence of evidence stays un-stamped, the raw field still tells. */
  private[graft] def contaminated(loadStart: Double,
                                  threshold: Double = 2.0): Boolean =
    loadStart > threshold

  /** Self-healing load preflight (r14 verdict task 6: four straight
    * driver rounds were contaminated — the stamp made it visible, this
    * gives the round a second shot at a clean band without a human).
    * When the first reading trips [[contaminated]], wait ONE bounded
    * interval and re-read; every reading is recorded and lands in the
    * artifact as `loadavg_attempts`, so a reader sees both the trip and
    * the retry outcome. One retry, plus ONE extra bounded retry when the
    * post-wait reading lands marginally over the threshold (within 25% —
    * r15 saw a driver run stamp contaminated at 2.03 vs the 2.0 bar, a
    * decaying load one more minute would have cleared): a borderline host
    * gets a second shot at a clean artifact, while a genuinely loaded
    * host (well over the bar after the first wait) still fails promptly
    * rather than stalling the driver. The reader/sleeper are injectable
    * for specs. */
  private[graft] def loadPreflight(read: () => Double = () => loadAvg1(),
                                   waitMs: Long = 60000L,
                                   sleep: Long => Unit = Thread.sleep,
                                   threshold: Double = 2.0)
      : Seq[Double] = {
    val first = read()
    if (!contaminated(first, threshold)) Seq(first)
    else {
      System.err.println(f"[bench] loadavg $first%.2f trips the " +
        f"contamination preflight — waiting ${waitMs / 1000}s and " +
        "retrying once")
      sleep(waitMs)
      val second = read()
      if (contaminated(second, threshold) && second <= threshold * 1.25) {
        System.err.println(f"[bench] loadavg $second%.2f is borderline " +
          f"(within 25%% of the $threshold%.1f bar) — one more " +
          f"${waitMs / 1000}s wait")
        sleep(waitMs)
        Seq(first, second, read())
      } else Seq(first, second)
    }
  }

  /** Flat `"name":number` map out of `section` of a previous BENCH_full
    * line — a 20-line scanner, not a JSON library: the maps Bench itself
    * writes are flat and regular, and a parse miss just disables the
    * vs-prev suspect check (never fails the run). */
  private[graft] def parseQueryMap(json: String,
                                   section: String): Map[String, Double] = {
    val ix = json.indexOf("\"" + section + "\":{")
    if (ix < 0) return Map.empty
    val start = json.indexOf('{', ix)
    val end = json.indexOf('}', start)
    if (end < 0) return Map.empty
    "\"([^\"]+)\":(-?[0-9][0-9.]*)".r
      .findAllMatchIn(json.substring(start + 1, end))
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
      .toMap
  }

  /** Extract the balanced `"dataset":{...}` object out of a previous full
    * line; None when absent (pre-r10 artifact) or unterminated. The values
    * inside (table names, 8-hex schema hashes, row counts, exception class
    * names) never contain braces, so a depth counter is exact. */
  private[graft] def parseDatasetObj(json: String): Option[String] = {
    val ix = json.indexOf("\"dataset\":{")
    if (ix < 0) None
    else {
      val start = json.indexOf('{', ix)
      var depth = 0
      var i = start
      while (i < json.length) {
        json.charAt(i) match {
          case '{' => depth += 1
          case '}' =>
            depth -= 1
            if (depth == 0) return Some(json.substring(start, i + 1))
          case _ =>
        }
        i += 1
      }
      None
    }
  }

  /** Gate for the `vs_prev` suspect check (r10 verdict): the check exists
    * to catch run contamination, but after a driver-side testdata
    * regeneration (r8 and pre-r10 so far) the previous artifact's times
    * describe data that no longer exists — a bigger regenerated table
    * would fire spurious flags, a smaller one would mask real
    * regressions. Only "checked" enables the comparison:
    *  - "checked"                  — prev artifact fingerprints the SAME
    *                                 dataset; like-for-like, compare.
    *  - "skipped:dataset_changed"  — fingerprints differ; times are
    *                                 cross-dataset, comparison meaningless.
    *  - "skipped:prev_unfingerprinted" — prev artifact predates the r10
    *                                 fingerprint; same-ness is unknowable.
    *  - "no_prev"                  — no previous artifact at all. */
  private[graft] def vsPrevStatus(prevJson: String,
                                  currentDataset: String): String =
    if (prevJson.isEmpty) "no_prev"
    else parseDatasetObj(prevJson) match {
      case Some(d) if d == currentDataset => "checked"
      case Some(_)                        => "skipped:dataset_changed"
      case None => "skipped:prev_unfingerprinted"
    }

  /** Suspect flags per query (see class doc): `warm_gt_cold` = both warm
    * passes >3× the cold pass of the same plan (host-load signature);
    * `vs_prev` = min-of-passes >3× the previous committed round. The
    * 0.05 s floor keeps sub-noise rows from flagging. */
  private[graft] def suspectsOf(series: Seq[(String, Seq[Double])],
                                prev: Map[String, Double]): Seq[String] =
    series.flatMap { case (n, ps) =>
      val ok = ps.forall(_ >= 0)
      val warmGtCold = ok && ps.head >= 0.05 &&
        ps.tail.nonEmpty && ps.tail.min > 3 * ps.head
      val vsPrev = ok &&
        prev.get(n).exists(p => p >= 0.05 && minOf(ps) > 3 * p)
      (if (warmGtCold) Seq(s"$n:warm_gt_cold") else Nil) ++
        (if (vsPrev) Seq(s"$n:vs_prev") else Nil)
    }

  /** Min over the SUCCESSFUL passes of a section whose published value
    * [[minOf]] poisoned to -1 (r10 ADVICE: a failed WARM materialize pass
    * hid the valid pass-1 time inside the raw array with no summary
    * field, unlike the pipeline/wh partial_* companions). Defined only
    * for a mixed series — all-ok needs no partial, all-failed has no
    * survivor. */
  private[graft] def partialMin(ps: Seq[Double]): Option[Double] = {
    val ok = ps.filter(_ >= 0)
    if (ok.nonEmpty && ok.size < ps.size) Some(ok.min) else None
  }

  /** r9 ADVICE: any `warehouse:*` error forces the published warehouse
    * total to -1 in BOTH lines — the pipeline headline rule, mirrored.
    * Without it a failed materialize/read-back/daily-cycle left wh.total
    * summing the survivors (or 0.00), signaled only by `nerr`: the same
    * "partial reads as fast" hazard round 8 fixed for the pipeline side.
    * The surviving sum still travels in the full line as
    * `partial_total`. */
  private[graft] def forcedWhTotal(total: Double,
                                   errors: Iterable[String]): Double =
    if (errors.exists(_.startsWith("warehouse:"))) -1.0 else total

  /** Shared with ScaleProbe, which probes the same read-back series. */
  private[graft] def warehouseQueries(spark: SparkSession,
                               root: String): Seq[(String, () => DataFrame)] = {
    val wh = new Warehouse(spark, root)
    def v2 = wh.read("staging", "user_order_log_v2")
    def weeks = wh.read("mart", "d_calendar_weeks")
    def tagged = Retention.withPeriod(v2, weeks)
    Seq(
      "w_f_sales" -> (() =>
        Sales.fSales(wh.read("staging", "user_order_log"),
                     wh.read("mart", "d_calendar"))),
      "w_new_customers" -> (() => Retention.newCust(tagged, true)),
      "w_returned_customers" -> (() => Retention.returnedCust(tagged, true)),
      "w_refunded_customers" -> (() => Retention.refundedCust(tagged, true)),
      "w_retention_compact" -> (() =>
        Retention.retentionCompact(Retention.newCust(tagged, false),
          Retention.returnedCust(tagged, false),
          Retention.refundedCust(tagged, false))),
      "w_f_customer_retention_grain" -> (() =>
        Retention.fCustomerRetentionGrain(Retention.newCust(tagged, true),
          Retention.returnedCust(tagged, true),
          Retention.refundedCust(tagged, true))),
      // the pruned read path — one month of the 80-month fact through
      // readRange: lists/opens ~1/80th of the files the full-scan w_*
      // queries pay for, i.e. the payoff side of the month layout
      "w_uol_v2_month" -> (() =>
        wh.readRange("staging", "user_order_log_v2", Warehouse.PartCol,
                     "1997-01", "1997-01")
          .groupBy("status")
          .agg(org.apache.spark.sql.functions.sum("payment_amount")
            .as("amt"))))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: stderr noise is harmless to the driver's stdout tail
    // but keeps interactive runs readable
    spark.sparkContext.setLogLevel("ERROR")

    // host-load label, read before any work; a tripped preflight waits a
    // bounded interval and re-reads once (both attempts recorded)
    // malformed env falls back to the default instead of killing the run
    // before any work or artifact stamping
    val loadAttempts = loadPreflight(
      waitMs = sys.env.get("SPARK_GRAFT_LOAD_RETRY_MS")
        .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(60000L))
    val loadStart = loadAttempts.last

    val errors = scala.collection.mutable.LinkedHashSet[String]()

    // Preflight the reader contract and stamp the dataset identity into
    // the artifact (r8: contract drift surfaced as 22 downstream crashes
    // instead of one named message; r9: a cross-round delta was
    // cross-DATASET and nothing in the artifact said so). This runs
    // BEFORE the warmup scan on purpose: an unreadable/retyped table
    // must be named here first, not crash the warmup anonymously. Drift
    // is non-fatal — it rides the errors list as `preflight:table.col`,
    // so the compact line's `nerr` goes nonzero without poisoning the
    // headline when the adapted readers still pass.
    sources.TestdataContract.preflightLoud(spark, sfDir)
      .foreach { case (t, c, _) => errors += s"preflight:$t.$c" }
    val datasetJson = sources.TestdataContract.fingerprintJson(spark, sfDir)

    // warmup: scan + shuffle + codegen once, untimed
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    def time(fn: => Unit): (Double, Boolean) = {
      val t0 = System.nanoTime()
      try { fn; ((System.nanoTime() - t0) / 1e9, true) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED: ${e.getMessage}")
        ((System.nanoTime() - t0) / 1e9, false)
      }
    }

    /** Three passes (p1 cold, p2-p3 warm), name-sorted. Failures -> -1 +
      * errors. */
    def series(qs: Seq[(String, () => DataFrame)], tag: String)
        : Seq[(String, Seq[Double])] = {
      def pass(p: Int): Map[String, Double] = qs.map { case (name, fn) =>
        val (t, ok) = time { fn().count(); () }
        if (!ok) errors += s"$tag:$name:p$p"
        name -> (if (ok) t else -1.0)
      }.toMap
      val ps = (1 to 3).map(pass)
      val keys = qs.map(_._1).sorted
      keys.map(k => k -> ps.map(_(k)).toSeq)
    }

    def mins(s: Seq[(String, Seq[Double])]): Seq[(String, Double)] =
      s.map { case (k, ps) => k -> minOf(ps) }
    // pass 1 verbatim — the build-inclusive cost (the r18 verdict's memo
    // accounting + core-sensitivity fix: an 8-vs-32-core comparison over
    // `cold` sees compute, where min-of-3 over memo grains sees cache
    // reads). A failed pass 1 reports its -1 as-is.
    def colds(s: Seq[(String, Seq[Double])]): Seq[(String, Double)] =
      s.map { case (k, ps) => k -> ps.head }
    def medians(s: Seq[(String, Seq[Double])]): Seq[(String, Double)] =
      s.map { case (k, ps) => k -> medianOf(ps) }
    def okSum(m: Seq[(String, Double)]): Double =
      m.map(_._2).filter(_ >= 0).sum

    // previous round's COMMITTED artifact, read BEFORE this run replaces
    // it — the vs-prev suspect baseline
    val benchOut =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    val prevJson: String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(benchOut)), "UTF-8")
      catch { case _: Exception => "" }
    val prevPipeline = parseQueryMap(prevJson, "queries")
    val prevWarehouse = {
      val ix = prevJson.indexOf("\"warehouse\"")
      if (ix < 0) Map.empty[String, Double]
      else parseQueryMap(prevJson.substring(ix), "queries")
    }

    val pipelineQs = SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (n, f) => n -> (() => f(spark, sfDir)) }
    val pSeries = series(pipelineQs, "pipeline")
    val pMin = mins(pSeries)
    // memo stamps are read AFTER the timed passes (plan analysis only —
    // every grain the steady state uses is materialized by now)
    val memoBackedQs = pipelineQs.collect { case (n, fn)
      if scala.util.Try(memoBacked(fn())).getOrElse(false) => n }.sorted

    val whRootPath = java.nio.file.Files.createTempDirectory("graft_bench_wh")
    val whRoot = whRootPath.toString
    // Warehouse sections are min-of-3 like the queries (r9 finding: as
    // 1-pass numbers, a loaded host published daily-cycle 26.73 s vs the
    // clean 3.88 s — a 7× environmental distortion in the artifact's
    // headline field). Materialize re-runs are honest repeats: every
    // table is a deterministic overwrite (atomic swap), pass 1 pays the
    // memoized staging build, passes 2-3 are the steady state. The daily
    // cycle is stateful, so each pass delivers a DIFFERENT but equivalent
    // week (~same rows, each touching one distinct month of the 80) with
    // its own watch/sink/checkpoint dirs — re-delivering the same week
    // would let pass 1's compaction flatter pass 2's merge scan.
    val dcWeeks = Seq(("1997-03-01", "1997-03-07"),
                      ("1997-04-01", "1997-04-07"),
                      ("1997-05-01", "1997-05-07"))
    val (matPasses, wSeries, dcPasses, ssPasses, sscPasses) =
      try {
        val mats = scala.collection.mutable.ArrayBuffer[Double]()
        var p = 1
        var cont = true
        while (p <= 3 && cont) {
          val (sec, ok) = time { PipelineRunner.run(spark, sfDir, whRoot); () }
          if (!ok) errors += s"warehouse:materialize:p$p"
          mats += (if (ok) sec else -1.0)
          cont = ok // a failed pass: stop repeating, state is suspect
          p += 1
        }
        // Isolation barrier: the read-back series must measure the
        // warehouse parquet alone, not compete with (or borrow from) the
        // query series' persisted frames. Checkpoint-backed grains hold
        // RDD blocks that clearCache() does NOT evict (r18 ADVICE), so the
        // registry releases the dir's entries first.
        Caches.invalidate(spark, sfDir)
        spark.catalog.clearCache()
        if (mats.headOption.exists(_ >= 0)) {
          // pass 1 succeeded → the warehouse is complete and readable
          // (later passes only re-overwrite the same deterministic
          // contents via atomic swap), so the read-back series runs even
          // if a warm materialize pass failed — its failure is already
          // recorded and forces wh.total to -1 below.
          val s = series(warehouseQueries(spark, whRoot), "warehouse")
          // One synthetic day against the full 80-month history per pass:
          // deliver one week of orders' lineitems as a single increment
          // file, then drain → partition-pruned merge → scoped
          // compaction. The 100 TB claim this measures: the cycle costs
          // ~the day's rows + the touched months, NOT the table's history
          // (ScaleProbe holds the day fixed while history grows 8× to pin
          // exactly that).
          val dcs = dcWeeks.zipWithIndex.map { case ((lo, hi), i) =>
            val pn = i + 1
            val (dc, dcOk) = time {
              val day = spark.read.parquet(s"$sfDir/lineitem.parquet")
                .join(spark.read.parquet(s"$sfDir/orders.parquet")
                    .where(org.apache.spark.sql.functions.col("o_orderdate")
                      .between(lo, hi))
                    .select("o_orderkey"),
                  org.apache.spark.sql.functions.col("l_orderkey") ===
                    org.apache.spark.sql.functions.col("o_orderkey"),
                  "left_semi")
              val watch = s"$whRoot/.dc_watch_p$pn"
              day.coalesce(1).write.mode("overwrite").parquet(watch)
              graft.streaming.IncrementStream.runDailyCycle(
                spark, sfDir, watch, s"$whRoot/.dc_sink_p$pn",
                s"$whRoot/.dc_ckpt_p$pn",
                new Warehouse(spark, whRoot), "staging", "user_order_log_v2")
              ()
            }
            if (!dcOk) errors += s"warehouse:daily_cycle:p$pn"
            if (dcOk) dc else -1.0
          }
          // streamed substring-tier ingest (w_ss_ingest): one fresh
          // 3-batch AvailableNow drain per pass — 3 × (span check against
          // the committed bucketed index + stamped append + manifest
          // commit + results write). Stateful like the daily cycle, so
          // each pass gets its own warehouse db / watch / checkpoint dirs
          // and repeats are honest (no pass inherits another's index).
          val sss = (1 to 3).map { pn =>
            val (sec, ok) = time {
              ssIngestCycle(spark, sfDir, s"$whRoot/.ss_p$pn")
            }
            if (!ok) errors += s"warehouse:ss_ingest:p$pn"
            if (ok) sec else -1.0
          }
          // compaction grain (w_ss_compact): per pass, a fresh 2-batch
          // state, then (pre-check, compact, post-check) — each pass owns
          // its dirs like the cycle passes, the fold's timing is inside
          // ssCompactGrain itself
          val sscs = (1 to 3).map { pn =>
            try ssCompactGrain(spark, sfDir, s"$whRoot/.ssc_p$pn")
            catch { case scala.util.control.NonFatal(_) =>
              errors += s"warehouse:ss_compact:p$pn"; (-1.0, -1.0, -1.0)
            }
          }
          (mats.toSeq, s, dcs, sss, sscs)
        } else (mats.toSeq, Nil, Seq(-1.0), Seq(-1.0),
                Seq((-1.0, -1.0, -1.0)))
      } finally { // don't leak a full warehouse copy per bench run
        deleteRecursively(whRootPath)
      }
    val matSec = minOf(matPasses)
    val dailyCycleSec = minOf(dcPasses)
    val ssIngestSec = minOf(ssPasses)
    val ssCompactSec = minOf(sscPasses.map(_._2))
    val ssCheckPreSec = minOf(sscPasses.map(_._1))
    val ssCheckPostSec = minOf(sscPasses.map(_._3))
    val wMin = mins(wSeries)

    val loadEnd = loadAvg1() // after the last timed step
    val spread = passSpreadGt5(pSeries) + passSpreadGt5(wSeries)
    val warmSpread = warmSpreadGt5(pSeries) + warmSpreadGt5(wSeries)

    // vs_prev gate: only a like-for-like prev (same dataset fingerprint)
    // may serve as the regression baseline — the fingerprint was added in
    // r10 precisely so this comparison could stop being faith-based
    val vsPrev = vsPrevStatus(prevJson, datasetJson)
    val vsPrevOn = vsPrev == "checked"
    val suspect =
      suspectsOf(pSeries, if (vsPrevOn) prevPipeline else Map.empty) ++
      suspectsOf(wSeries.map { case (k, ps) => (s"w:$k", ps) },
                 if (vsPrevOn) prevWarehouse.map { case (k, v) => (s"w:$k", v) }
                 else Map.empty)
    val susJson = suspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Headline integrity (round 8: 22 crashed queries summed to a 51.8 s
    // "total" that read as FASTER than the previous clean 58.6 s): when any
    // pipeline query failed, the headline is -1 and the sum over the
    // surviving queries moves to `partial_value` with its coverage count —
    // a partial run can no longer impersonate a faster full run.
    val nPipeline = pMin.size
    val nCovered = pMin.count(_._2 >= 0)
    val pipelineOk = nCovered == nPipeline
    val headline = if (pipelineOk) r3(okSum(pMin)) else "-1"
    val partialFull =
      if (pipelineOk) ""
      else s""""partial_value":${r3(okSum(pMin))},""" +
           s""""covered":$nCovered,"of":$nPipeline,"""
    val whTotalRaw = okSum(wMin)
    val whTotal = forcedWhTotal(whTotalRaw, errors)
    val whPartial =
      if (whTotal >= 0) ""
      else s""""partial_total":${r3(whTotalRaw)},"""
    // mixed pass series (-1 published, a clean pass survives): surface the
    // surviving min as a first-class partial_* field, same rule as the
    // pipeline/warehouse totals
    val matPartial = partialMin(matPasses)
      .map(v => s""""materialize_partial_sec":${r3(v)},""").getOrElse("")
    val dcPartial = partialMin(dcPasses)
      .map(v => s""""daily_cycle_partial_sec":${r3(v)},""").getOrElse("")
    val ssPartial = partialMin(ssPasses)
      .map(v => s""""ss_ingest_partial_sec":${r3(v)},""").getOrElse("")
    def passesArr(ps: Seq[Double]): String =
      ps.map(r3).mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":$headline,"unit":"sec",$partialFull""" +
      s""""queries":${jmap(pMin, r3)},"sf":"$sfDir",""" +
      s""""median":${jmap(medians(pSeries), r3)},""" +
      s""""passes":${jmapArr(pSeries)},""" +
      s""""cold":${jmap(colds(pSeries), r3)},""" +
      s""""memo_backed":${
        memoBackedQs.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""warehouse":{"materialize_sec":${r3(matSec)},""" +
      s"""$matPartial"materialize_passes":${passesArr(matPasses)},""" +
      s"""$whPartial"total":${r3(whTotal)},"queries":${jmap(wMin, r3)},""" +
      s""""median":${jmap(medians(wSeries), r3)},""" +
      s""""passes":${jmapArr(wSeries)},""" +
      s""""cold":${jmap(colds(wSeries), r3)},""" +
      s""""daily_cycle_sec":${r3(dailyCycleSec)},""" +
      s"""$dcPartial"daily_cycle_passes":${passesArr(dcPasses)},""" +
      s""""ss_ingest_sec":${r3(ssIngestSec)},""" +
      s"""$ssPartial"ss_ingest_passes":${passesArr(ssPasses)},""" +
      s""""ss_compact_sec":${r3(ssCompactSec)},""" +
      s""""ss_compact_passes":${passesArr(sscPasses.map(_._2))},""" +
      s""""ss_check_precompact_sec":${r3(ssCheckPreSec)},""" +
      s""""ss_check_postcompact_sec":${r3(ssCheckPostSec)}},""" +
      s""""dataset":$datasetJson,""" +
      s""""vs_prev":"$vsPrev",""" +
      s""""pass_spread_gt5":$spread,"warm_spread_gt5":$warmSpread,""" +
      s""""loadavg_start":${r2(loadStart)},"loadavg_end":${r2(loadEnd)},""" +
      s""""loadavg_attempts":${loadAttempts.map(r2).mkString("[", ",", "]")},""" +
      s""""contaminated":${contaminated(loadStart)},""" +
      s""""suspect":$susJson,"errors":$errJson}"""
    // sf tag alone ("sf0.1"), not the full path: compact-line byte budget
    val sfTag = sfDir.split('/').last
    // warehouse per-query times live in the full line / BENCH_full.json
    // only: with them the compact line would overrun the tail window
    // compact error reporting is a COUNT, not the list — r8's 67-entry
    // error list pushed the compact line past the driver's 2000-char tail
    // window, so the one artifact meant to survive truncation was itself
    // truncated mid-JSON; the full list lives in line 1 / BENCH_full.json
    val (qJson, _, qRest) = compactQueryMap(pMin)
    val compact =
      s"""{"metric":"total","value":${if (pipelineOk) r2(okSum(pMin))
           else "-1"},"unit":"sec",""" +
      (if (pipelineOk) ""
       else s""""pval":${r2(okSum(pMin))},"cov":"$nCovered/$nPipeline",""") +
      s""""queries":$qJson,""" +
      qRest.map(_ + ",").getOrElse("") +
      s""""sf":"$sfTag",""" +
      s""""wh":{"mat":${r2(matSec)},"total":${r2(whTotal)},""" +
      s""""dc":${r2(dailyCycleSec)},"ssi":${r2(ssIngestSec)}}""" +
      // when the vs_prev check did NOT run, the compact line must not let
      // sus:0 read as "regression-checked, clean" — the full line carries
      // the reason ("vs_prev" field), the compact line just the fact
      (if (vsPrevOn) "" else s""","vsp":"off"""") +
      (if (contaminated(loadStart)) s""","cont":1""" else "") +
      (if (warmSpread == 0) "" else s""","wspr":$warmSpread""") +
      (if (suspect.isEmpty) "" else s""","sus":${suspect.size}""") +
      (if (errors.isEmpty) "}" else s""","nerr":${errors.size}}""")

    // the full line lands in a file the driver (or a human) can always
    // pick up whole, then both lines go to stdout — compact LAST so it
    // sits inside the driver's 2000-char tail window
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(benchOut),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write BENCH_full.json: $e") }
    println(fullLine)
    println(compact)
    Caches.invalidateAll(spark) // session teardown: drop every memo entry
    spark.stop()
  }
}
