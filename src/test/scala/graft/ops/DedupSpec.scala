package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = TextOps.normalize(Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "The quick  brown fox jumps over the lazy dog"), // dup modulo norm
    (2L, "completely different words entirely here now then"),
    (3L, "tiny doc"))
    .toDF("doc_id", "text"))
  private lazy val words = TextOps.withWords(docs)
  private lazy val shingles = TextOps.shinglesOf(words)

  test("exact dedup groups normalized duplicates; keeper = min doc_id") {
    val g = Dedup.exactOf(docs).orderBy("keeper_doc_id")
      .select("keeper_doc_id", "n_dups").as[(Long, Long)].collect()
    assert(g.toSeq == Seq((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("short docs fall back to whole-doc shingle") {
    val s = shingles.where($"doc_id" === 3L).select("shingle").as[String].collect()
    assert(s.toSeq == Seq("tiny doc"))
  }

  test("identical docs share all minhash signatures and collide in LSH") {
    val sigs = Dedup.minhashOf(shingles)
    val s0 = sigs.where($"doc_id" === 0L).orderBy("seed").select("sig").as[String].collect()
    val s1 = sigs.where($"doc_id" === 1L).orderBy("seed").select("sig").as[String].collect()
    assert(s0.toSeq == s1.toSeq && s0.length == 8)
    val pairs = Dedup.minhashPairsOf(Dedup.minhashBandsOf(sigs))
      .as[(Long, Long)].collect()
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("native simhash kernel equals the HOF expression (32 and 64 bit)") {
    for (dw <- Seq(TextOps.docsWords(spark, "/root/testdata/sf0.001"), words);
         nBits <- Seq(32, 64)) {
      val native = dw.select(col("doc_id"),
        graft.expr.SimHashN(col("words"), nBits).as("h"))
        .as[(Long, Long)].collect().toMap
      val hof = dw.select(col("doc_id"), Dedup.simhashHofCol(nBits).as("h"))
        .as[(Long, Long)].collect().toMap
      assert(native == hof && native.nonEmpty, s"nBits=$nBits")
    }
  }

  test("map-side banding equals the grouped signature pipeline") {
    // fixture docs (incl. the short-doc fallback) …
    val grouped = Dedup.minhashBandsOf(Dedup.minhashOf(shingles))
      .as[(Long, Long, String)].collect().toSet
    val mapSide = Dedup.minhashBandsFastOf(words)
      .as[(Long, Long, String)].collect().toSet
    assert(mapSide == grouped && mapSide.nonEmpty)
    // … and real data, where shingle sets are large and duplicated
    val d = "/root/testdata/sf0.001"
    val dw = TextOps.docsWords(spark, d)
    val g2 = Dedup.minhashBandsOf(Dedup.minhashOf(TextOps.shinglesOf(dw)))
      .as[(Long, Long, String)].collect().toSet
    val m2 = Dedup.minhashBandsFastOf(dw)
      .as[(Long, Long, String)].collect().toSet
    assert(m2 == g2)
  }

  test("giant-bucket guard: 1000 identical docs yield linear pairs, exact clusters") {
    val many = TextOps.normalize(
      (1L to 1000L).map(i => (i, "same boilerplate text repeated everywhere"))
        .toDF("doc_id", "text"))
    val bands = Dedup.minhashBandsOf(Dedup.minhashOf(
      TextOps.shinglesOf(TextOps.withWords(many))))
    val pairs = Dedup.minhashPairsOf(bands)
    // dense pairing would be 499 500 rows; the star guard keeps it linear
    assert(pairs.count() == 999L)
    val star = pairs.as[(Long, Long)].collect().toSet
    assert(star == (2L to 1000L).map(i => (1L, i)).toSet)
    // connected components are unchanged by the star degradation
    val clusters = Dedup.clustersOf(many.select("doc_id"), pairs)
      .as[(Long, Long)].collect()
    assert(clusters.length == 1000 && clusters.forall(_._2 == 1L))
  }

  test("guard leaves small buckets dense: capped and uncapped pairs agree") {
    val bands = Dedup.minhashBandsOf(Dedup.minhashOf(shingles))
    val capped = Dedup.minhashPairsOf(bands).as[(Long, Long)].collect().toSet
    val uncapped = Dedup.minhashPairsOf(bands, maxBucket = Int.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(capped == uncapped)
  }

  test("simhash: identical docs equal; disjoint docs differ") {
    val sh = Dedup.simhashOf(words)
    val m = sh.as[(Long, Long)].collect().toMap
    assert(m(0L) == m(1L))
    assert(m(0L) != m(2L))
  }

  test("simhash hamming pairs: identical docs pair at distance 0") {
    val sh = Dedup.simhashOf(words)
    val pairs = Dedup.simhashPairsOf(sh)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0L))
    // pigeonhole completeness: every pair within distance 3 is found
    val hashes = sh.as[(Long, Long)].collect().toMap
    val expect = for {
      a <- hashes.keys; b <- hashes.keys if a < b
      h = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if h <= 3
    } yield (a, b)
    assert(pairs.map(p => (p._1, p._2)).toSet == expect.toSet)
  }

  test("consensusPairs keeps only pairs both hash families flagged") {
    val mh = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val sh = Seq((1L, 2L, 1L), (2L, 4L, 2L))
      .toDF("doc_a", "doc_b", "hamming")
    val r = Dedup.consensusPairsOf(mh, sh)
      .as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 2L, 1L)))
  }

  test("simhash64: identical docs equal, low 32 bits agree with 32-bit hash") {
    val sh64 = Dedup.simhash64Of(words).as[(Long, Long)].collect().toMap
    assert(sh64(0L) == sh64(1L))
    assert(sh64(0L) != sh64(2L))
    // construction check: bit i of the 64-bit hash uses nibble i/4 of the
    // word md5, so bits 0..31 coincide with the 32-bit hash by definition
    val sh32 = Dedup.simhashOf(words).as[(Long, Long)].collect().toMap
    for ((id, v) <- sh32) assert((sh64(id) & 0xFFFFFFFFL) == v, s"doc $id")
  }

  test("simhash64 pairs: pigeonhole completeness at 16-bit chunks") {
    val sh = Dedup.simhash64Of(words)
    val pairs = Dedup.simhash64PairsOf(sh)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0L))
    val hashes = sh.as[(Long, Long)].collect().toMap
    val expect = for {
      a <- hashes.keys; b <- hashes.keys if a < b
      h = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if h <= 3
    } yield (a, b)
    assert(pairs.map(p => (p._1, p._2)).toSet == expect.toSet)
  }

  test("ngram jaccard: identical = 1.0, disjoint = 0.0") {
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("doc_a", "doc_b")
    val j = Dedup.ngramJaccardFor(pairs, shingles)
      .select("doc_b", "jaccard").as[(Long, Double)].collect().toMap
    assert(j(1L) == 1.0)
    assert(j(2L) == 0.0)
  }

  test("incremental pairs equal the full pair list restricted to new docs") {
    val bands = Dedup.minhashBands(spark, "/root/testdata/sf0.001")
    val cutoff = bands.agg(expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)"))
      .as[Long].head()
    val got = Dedup.incrementalPairsOf(
        bands.where($"doc_id" <= cutoff), bands.where($"doc_id" > cutoff))
      .as[(Long, Long)].collect().sorted.toSeq
    // new docs hold the max ids, so doc_b > cutoff ⇔ pair touches the batch
    val want = Dedup.minhashPairsOf(bands, Int.MaxValue)
      .as[(Long, Long)].collect().filter(_._2 > cutoff).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("bucketed band index: increment check joins without any Exchange") {
    val d = "/root/testdata/sf0.001"
    val root = tempDir("graft_incidx")
    val wh = new graft.catalog.Warehouse(spark, root)
    val bands = Dedup.minhashBands(spark, d)
    val cutoff = bands.agg(expr("CAST(max(doc_id) * 9 DIV 10 AS BIGINT)"))
      .as[Long].head()
    // the ingest job lands both the corpus index and the day's increment
    // bands bucketed on the collision key
    wh.bucketedOverwrite("dedup", "band_index",
      bands.where($"doc_id" <= cutoff), "band", 8, "band_hash")
    wh.bucketedOverwrite("dedup", "band_inc",
      bands.where($"doc_id" > cutoff), "band", 8, "band_hash")
    val idx = wh.readTable("dedup", "band_index")
    val inc = wh.readTable("dedup", "band_inc")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cand = Dedup.incrementalCandidatesOf(idx, inc)
      val plan = cand.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      val got = Dedup.incrementalPairsOf(idx, inc)
        .as[(Long, Long)].collect().sorted.toSeq
      val want = Dedup.incrementalPairsOf(
          bands.where($"doc_id" <= cutoff), bands.where($"doc_id" > cutoff))
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got == want && got.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("verified clusters refine unverified ones (equal-or-finer)") {
    val d = "/root/testdata/sf0.001"
    // verification only REMOVES candidate edges (exact-Jaccard < τ), so a
    // verified component can never span two unverified ones: every
    // verified cluster must map into exactly one unverified cluster
    val v = Dedup.clustersVerified(spark, d)
      .select($"doc_id", $"cluster".as("v_cluster"))
    val u = Dedup.clusters(spark, d)
      .select($"doc_id", $"cluster".as("u_cluster"))
    val spans = v.join(u, "doc_id")
      .groupBy("v_cluster")
      .agg(countDistinct($"u_cluster").as("n_parents"))
      .where($"n_parents" > 1)
    assert(spans.isEmpty, "a verified cluster spans >1 unverified cluster")
    // and the refinement is genuine on this corpus: at least one
    // unverified cluster splits (banding false positives exist at τ=0.7)
    val nV = v.select("v_cluster").distinct().count()
    val nU = u.select("u_cluster").distinct().count()
    assert(nV >= nU)
  }

  test("cluster memo entry points compose: nested memoization inside an " +
       "outer build (clustersVerified -> verified-jaccard) memo-hits on " +
       "repeat calls instead of recursing into the registry") {
    // r19: clustersVerified's builder reaches verifiedJaccardCached, which
    // memoizes into the SAME registry — a computeIfAbsent there threw
    // "Recursive update" whenever the two keys collided into one hash bin
    // (identity-hash dependent; a full-registry ScaleProbe run hit it).
    // All entry points now go through the get-then-putIfAbsent memo; this
    // pins the composed build succeeding AND both layers memo-hitting.
    val d = "/root/testdata/sf0.001"
    graft.Caches.invalidate(spark, d)
    val v1 = Dedup.clustersVerified(spark, d) // builds nested grain inside
    val p1 = Dedup.minhashPairsVerified(spark, d)
    assert(Dedup.clustersVerified(spark, d) eq v1, "outer memo must hit")
    assert(Dedup.minhashPairsVerified(spark, d).queryExecution.logical ==
           p1.queryExecution.logical,
           "nested verified-jaccard grain must be the memoized instance")
  }

  test("verified pairs, containment and the Jaccard histogram share one " +
       "stored shingle-overlap grain") {
    // the guarded-pairs x shingles intersection is one grain; Jaccard and
    // containment are selects of it, so these three queries leave the dir
    // with three dedup grains: the bands, the guarded pairs and the overlap
    val d = "/root/testdata/sf0.001"
    graft.Caches.invalidate(spark, d)
    val before = graft.Caches.size(spark, "dedup.")
    for (q <- Seq("q_dedup_pairs_verified", "q_minhash_containment",
                  "q_jaccard_hist"))
      graft.SparkEntry.queries(q)(spark, d).collect()
    assert(graft.Caches.size(spark, "dedup.") - before == 3,
      "expected the dir's dedup grains to be bands, pairs/256 and one overlap")
  }

  test("bag dedup groups reordered token multisets; multiset still counts") {
    val dw = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "alpha beta gamma"),
      (1L, "gamma beta alpha"),   // same multiset, reordered -> dup of 0
      (2L, "alpha beta beta"),    // different MULTISET (beta twice) -> own
      (3L, "alpha beta gamma delta")) // superset -> own
      .toDF("doc_id", "text")))
    val g = Dedup.bagExactOf(dw).orderBy("keeper_doc_id")
      .select("keeper_doc_id", "n_dups").as[(Long, Long)].collect().toSeq
    assert(g == Seq((0L, 2L), (2L, 1L), (3L, 1L)))
    // ...and byte-exact dedup does NOT see the reordered pair
    val e = Dedup.exactOf(TextOps.normalize(Seq(
      (0L, "alpha beta gamma"), (1L, "gamma beta alpha"))
      .toDF("doc_id", "text")))
    assert(e.count() == 2)
  }

  test("prefix dedup groups shared-prefix docs regardless of tails") {
    val dw = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "a b c footer one"),
      (1L, "a b c totally different tail"), // same first-3 prefix -> dup
      (2L, "a b d c"))                      // diverges inside the prefix
      .toDF("doc_id", "text")))
    val g = Dedup.prefixExactOf(dw, k = 3).orderBy("keeper_doc_id")
      .select("keeper_doc_id", "n_dups").as[(Long, Long)].collect().toSeq
    assert(g == Seq((0L, 2L), (2L, 1L)))
    // a doc shorter than the prefix hashes its whole word list
    val short = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "a b"), (1L, "a b")).toDF("doc_id", "text")))
    assert(Dedup.prefixExactOf(short, k = 3).count() == 1)
  }

  test("band stats: per-band bucket histogram accounts for every doc") {
    val bands = Dedup.minhashBands(spark, "/root/testdata/sf0.001")
    val nDocs = bands.select("doc_id").distinct().count()
    val nBands = bands.select("band").distinct().count()
    val stats = SparkEntry.queries("q_minhash_band_stats")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect()
    // every doc lands in exactly one bucket per band
    for ((band, g) <- stats.groupBy(_._1))
      assert(g.map(_._4).sum == nDocs, s"band $band drops docs")
    assert(stats.map(_._1).distinct.length.toLong == nBands)
    // bucket invariant: 2^bucket <= max_sz observed in that bucket row
    for ((_, bucket, _, _, maxSz) <- stats)
      assert(maxSz >= (1L << bucket) && maxSz < (2L << bucket))
  }

  test("edit-distance verify keeps near-exact candidates, drops far ones") {
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("doc_a", "doc_b")
    val d = TextOps.normalize(Seq(
      (0L, "the quick brown fox jumps"),
      (1L, "the quick brown fox jumped"),  // 2 edits -> kept
      (2L, "completely different text entirely")) // far -> dropped
      .toDF("doc_id", "text"))
    val r = Dedup.minhashPairsEditVerifiedOf(pairs, d)
      .as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 0L, 2L)) || r == Seq((0L, 1L, 2L)), r.toString)
  }

  private def bandsOf(rows: Seq[(Long, Int, String)]) =
    rows.toDF("doc_id", "band", "band_hash")

  test("dense-pair gate: degenerate bucket raises loudly") {
    // one 5-doc bucket, gate 3 -> the exact dense form must fail, not
    // run C(5,2) silently
    val bands = bandsOf((1L to 5L).map(i => (i, 0, "h0")))
    val ex = intercept[Exception] {
      Dedup.minhashPairsOf(bands, Int.MaxValue, denseGate = 3).count()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("denseGate")),
      s"expected the denseGate raise, got: $ex")
  }

  test("dense-pair gate: compliant corpus output is unchanged") {
    val bands = bandsOf(
      (1L to 5L).map(i => (i, 0, "h0")) ++ Seq((6L, 1, "h1"), (7L, 1, "h1")))
    val gated = Dedup.minhashPairsOf(bands, Int.MaxValue, denseGate = 5)
      .as[(Long, Long)].collect().toSet
    val exact = Dedup.minhashPairsOf(bands, Int.MaxValue, Int.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(gated == exact)
    assert(gated.size == 11) // C(5,2) + 1
  }

  // six 32-bit hash values sharing their low byte (band-0 chunk 0) AND
  // their bytes 2/3 (band-2/3 chunks 0) — a degenerate boilerplate-ish
  // bucket; all pairwise hamming ≤ 3 (i ^ j ≤ 7 on the second byte)
  private def degenerateHashes: DataFrame =
    (1L to 6L).map(i => (i, i * 256L)).toDF("doc_id", "simhash")

  test("hamming guard: oversized bucket degrades to a star, not a clique") {
    val guarded = Dedup.simhashPairsOf(degenerateHashes, maxBucket = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // star pairs: min value (doc 1) against each other member — linear
    assert(guarded == (2L to 6L).map(i => (1L, i)).toSet)
    val exact = Dedup.simhashPairsOf(degenerateHashes)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.size == 15) // C(6,2): every pair is within hamming 3
  }

  test("hamming guard: dense form raises loudly over the gate") {
    val ex = intercept[Exception] {
      Dedup.simhashPairsOf(degenerateHashes, maxBucket = Int.MaxValue,
                           denseGate = 4).count()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("denseGate")),
      s"expected the denseGate raise, got: $ex")
  }

  test("hamming guard: compliant corpus output unchanged at any level") {
    // two clone groups (hash A: docs 1-3, hash B: docs 4-5, hamming(A,B)=1)
    // plus a far value (doc 6) — no bucket over 4 distinct values
    val hashes = Seq((1L, 1024L), (2L, 1024L), (3L, 1024L),
                     (4L, 1025L), (5L, 1025L), (6L, -1L))
      .toDF("doc_id", "simhash")
    val exact = Dedup.simhashPairsOf(hashes)
      .as[(Long, Long, Long)].collect().toSet
    val guarded = Dedup.simhashPairsOf(hashes, maxBucket = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(guarded == exact)
    assert(exact.map(p => (p._1, p._2)) ==
      Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L),
          (1L, 4L), (1L, 5L), (2L, 4L), (2L, 5L), (3L, 4L), (3L, 5L)))
  }

  // ---- containment -------------------------------------------------------

  test("containment catches sub-document duplication Jaccard misses") {
    // doc 1 = a 4-word quote; doc 0 = a long doc containing it verbatim.
    val quote = "alpha beta gamma delta"
    val docs = TextOps.withWords(TextOps.normalize(Seq(
      (0L, s"intro words here $quote closing words trail off now"),
      (1L, quote)).toDF("doc_id", "text")))
    val sh = TextOps.shinglesOf(docs)
    val pairs = Seq((0L, 1L)).toDF("doc_a", "doc_b")
    val r = Dedup.containmentFor(pairs, sh)
      .select("n_shared", "n_a", "n_b", "contain_a_ppm", "contain_b_ppm")
      .as[(Long, Long, Long, Long, Long)].head()
    // doc 1 has 2 shingles (4 words -> 2 3-grams), both inside doc 0
    assert(r._3 == 2L && r._1 == 2L)
    assert(r._5 == 1000000L)         // fully contained on the short side
    assert(r._4 < 300000L)           // Jaccard-like symmetric view is low
  }

  test("containment keeps zero-overlap candidate pairs at 0 ppm") {
    val docs = TextOps.withWords(TextOps.normalize(Seq(
      (0L, "one two three four"), (1L, "five six seven eight"))
      .toDF("doc_id", "text")))
    val r = Dedup.containmentFor(
        Seq((0L, 1L)).toDF("doc_a", "doc_b"), TextOps.shinglesOf(docs))
      .select("n_shared", "contain_a_ppm", "contain_b_ppm")
      .as[(Long, Long, Long)].head()
    assert(r == ((0L, 0L, 0L)))
  }
}
