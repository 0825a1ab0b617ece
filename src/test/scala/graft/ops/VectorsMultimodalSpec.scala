package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class VectorsMultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Seq(
    (0L, 0, Array(1.0f, 0.0f, 0.0f)),
    (1L, 0, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, 0, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (3L, 1, Array(-1.0f, 0.0f, 0.0f)))  // opposite, other label
    .toDF("vec_id", "label", "embedding")

  test("quantization: exact integer norms") {
    val n2 = Vectors.quantizedOf(emb).where($"vec_id" === 0L)
      .select("n2").as[Long].head()
    assert(n2 == 1000000L * 1000000L)
  }

  test("k-means training improves (or preserves) assignment similarity") {
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.avg
    val seedAvg = Vectors.ivfAssign(spark, d)
      .agg(avg("score")).head.getDouble(0)
    val trainedAvg = Vectors.kmeansAssign(spark, d)
      .agg(avg("score")).head.getDouble(0)
    // Lloyd rounds refine centroids toward their members; allow a hair of
    // slack for the integer re-quantization of the means
    assert(trainedAvg >= seedAvg - 0.01, s"seed=$seedAvg trained=$trainedAvg")
  }

  test("nearest same-label neighbor: identical wins with score 1.0") {
    val q = Vectors.quantizedOf(emb)
    val a = q.select(col("vec_id").as("query_id"), col("label"),
                     col("qv").as("q_qv"), col("n2").as("qa2"))
    val b = q.select(col("vec_id").as("cand_id"), col("label"),
                     col("qv").as("c_qv"), col("n2").as("ca2"))
    val scored = a.join(b, Seq("label")).where($"cand_id" =!= $"query_id")
      .withColumn("dot", expr(
        "aggregate(zip_with(q_qv, c_qv, (x, y) -> x * y), CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("score", expr(
        "CAST(dot AS DOUBLE) / sqrt(CAST(qa2 AS DOUBLE) * CAST(ca2 AS DOUBLE))"))
    val m = scored.where($"query_id" === 0L)
      .select("cand_id", "score").as[(Long, Double)].collect().toMap
    assert(m(1L) == 1.0)
    assert(m(2L) == 0.0)
  }

  test("multimodal decode stub: deterministic 8x8 single-channel frames") {
    val blobs = Seq((0L, "hello world")).toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val dec = Multimodal.decode(blobs).collect().head
    assert(dec.getInt(1) == 8 && dec.getInt(2) == 8 && dec.getInt(3) == 1)
    val px = dec.getAs[Array[Byte]](4)
    assert(px.length == 64 && px(0) == 'h'.toByte && px(11) == 'h'.toByte)
  }

  test("multimodal meta/frames agree on frame counts (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val totalFrames = Multimodal.meta(spark, d)
      .agg(sum("n_frames")).as[Long].head()
    assert(Multimodal.frames(spark, d).count() == totalFrames)
  }

  test("multimodal features: 16-bin histogram, composes into the ANN stack") {
    // known payload: 64 pixels cycle over "hello world" bytes
    val blobs = Seq((0L, "hello world"), (1L, "hello world"), (2L, "zzz"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val fv = Multimodal.features(Multimodal.decode(blobs))
      .as[(Long, Seq[Long])].collect().toMap
    // every histogram covers exactly the 64 decoded pixels
    assert(fv.values.forall(h => h.length == 16 && h.sum == 64L))
    // deterministic: identical payloads -> identical features
    assert(fv(0L) == fv(1L) && fv(0L) != fv(2L))
    // 'z' = 0x7a -> all 64 pixels land in bin 7
    assert(fv(2L)(7) == 64L)
    // ANN composition: the feature vectors drop into the quantized stack
    // (any dimensionality) — identical-feature docs score cosine 1.0
    val emb = Multimodal.features(Multimodal.decode(blobs))
      .select(col("doc_id").as("vec_id"), lit(0).as("label"),
              expr("transform(fv, x -> CAST(x AS FLOAT))").as("embedding"))
    val top = Vectors.quantizedOf(emb)
    val q = top.where($"vec_id" === 0L)
      .select(col("qv").as("q_qv"), col("n2").as("qa2"))
    val c = top.where($"vec_id" === 1L)
      .select(col("qv").as("c_qv"), col("n2").as("ca2"))
    val score = q.crossJoin(c)
      .select((graft.expr.VecDotQ(col("q_qv"), col("c_qv")).cast("double")
        / sqrt(col("qa2").cast("double") * col("ca2").cast("double")))
        .as("s")).as[Double].head()
    assert(score == 1.0)
  }

  test("bucketed IVF index: probe join has no Exchange, matches ivfTopK") {
    val d = "/root/testdata/sf0.001"
    val root = tempDir("graft_ivf")
    val wh = new graft.catalog.Warehouse(spark, root)
    Vectors.ivfIndexTo(wh, spark, d)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the co-located sort-merge path (no broadcast fallback)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Vectors.ivfProbeJoin(wh).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(600))
      val got = Vectors.ivfTopKIndexed(wh)
        .select("query_id", "cand_id", "rnk")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      val want = Vectors.ivfTopK(spark, d)
        .select("query_id", "cand_id", "rnk")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got == want && got.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incremental IVF ingest equals a full build with frozen centroids") {
    // sf0.01, not sf0.001: the increment must contain served-query ids
    // (vec_id % 50 == 0) for the probe-append half to be a real test —
    // at sf0.001 the only query id (0) can never be in the increment
    val d = "/root/testdata/sf0.01"
    val root = tempDir("graft_ivfi")
    val wh = new graft.catalog.Warehouse(spark, root)
    val emb = graft.etl.Feeds.table(spark, d, "embeddings")
    val cutoff = emb.agg(expr("CAST(max(vec_id) * 9 DIV 10 AS BIGINT)"))
      .as[Long].head()
    val base = emb.where($"vec_id" <= cutoff)
    val inc = emb.where($"vec_id" > cutoff)
    // index over the base corpus (persists the coarse quantizer), then
    // ingest the increment against the FROZEN centroids
    Vectors.ivfIndexToOf(wh, Vectors.quantizedOf(base), db = "annic")
    val nBase = wh.readTable("annic", "ivf_index").count()
    val nProbes0 = wh.readTable("annic", "ivf_probes").count()
    Vectors.ivfIndexAppend(wh, inc, db = "annic")
    val idx = wh.readTable("annic", "ivf_index")
    assert(idx.count() == nBase + inc.count() && inc.count() > 0)
    // BOTH served tables grew: the increment's query-subset rows are in
    // ivf_probes (appending only candidates would serve a stale query set)
    val nIncQueries = inc.where($"vec_id" % 50 === 0).count()
    assert(nIncQueries > 0, "increment must contain served-query ids")
    val probes = wh.readTable("annic", "ivf_probes")
    assert(probes.count() == nProbes0 + nIncQueries)
    val served = Vectors.ivfTopKIndexed(wh, "annic")
      .select("query_id").distinct().as[Long].collect().toSet
    val incQueryIds = inc.where($"vec_id" % 50 === 0)
      .select($"vec_id").as[Long].collect().toSet
    assert(incQueryIds.subsetOf(served),
      s"appended queries missing from the served path: ${
        (incQueryIds -- served).mkString(",")}")
    // independently recompute every appended row's assignment in plain
    // Scala: argmax cosine over the persisted quantizer, ties by id
    val cents = wh.read("annic", "ivf_centroids")
      .select($"centroid_id", $"c_qv", $"ca2")
      .as[(Long, Array[Long], Long)].collect()
    val gotInc = idx.where($"cand_id" > cutoff)
      .select($"cand_id", $"centroid_id")
      .as[(Long, Long)].collect().toMap
    val incQ = Vectors.quantizedOf(inc)
      .select($"vec_id", $"qv", $"n2")
      .as[(Long, Array[Long], Long)].collect()
    assert(incQ.nonEmpty && gotInc.size == incQ.length)
    for ((vid, qv, n2) <- incQ) {
      val best = cents.map { case (cid, cqv, ca2) =>
        val dot = qv.zip(cqv).map { case (x, y) => x * y }.sum
        (-dot.toDouble / math.sqrt(n2.toDouble * ca2.toDouble), cid)
      }.min._2
      assert(gotInc(vid) == best, s"vec $vid")
    }
    // the serving probe join stays co-located over original + appended
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = wh.readTable("annic", "ivf_probes")
        .join(wh.readTable("annic", "ivf_index"), Seq("centroid_id"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(600))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ingest-drift monitor: mixed-version recall collapses vs control") {
    val d = "/root/testdata/sf0.01"
    val control = Vectors.ivfIngestRecall(spark, d, drifted = false)
      .agg(avg("recall")).head.getDouble(0)
    val drifted = Vectors.ivfIngestRecall(spark, d)
      .agg(avg("recall")).head.getDouble(0)
    // the monitor must be able to say something bad: a drifted (mixed
    // embedding-version) index serves visibly worse than the consistent
    // one against the same version-consistent ground truth
    assert(control > 0.2, s"no-drift baseline too low to monitor: $control")
    assert(drifted < control / 3.0,
      s"drift not visible: drifted=$drifted control=$control")
  }

  test("multi-probe payoff: recall is monotone in nprobe, cost is stated") {
    val d = "/root/testdata/sf0.01"
    val rows = Vectors.ivfProbeRecallCmp(spark, d)
      .select("nprobe", "n_queries", "total_hits", "n_candidates")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(rows.keySet == Set(1L, 2L))
    assert(rows(1L)._1 == rows(2L)._1)         // same query set
    // widening the probe list can only ADD candidates, and an added
    // candidate that displaces a true hit from the approx top-k would
    // itself be a true hit — so recall is monotone
    assert(rows(2L)._2 >= rows(1L)._2,
      s"nprobe=2 hits ${rows(2L)._2} < nprobe=1 hits ${rows(1L)._2}")
    // the cost side of the payoff row: nprobe=2 scores strictly more
    // candidates (the probe-1 pair set is a subset of the probe-2 set) —
    // the "Y× candidates" denominator the docs quote. No fixed upper
    // bound: the second-nearest cell's size is data-dependent.
    val (n1, n2) = (rows(1L)._3, rows(2L)._3)
    assert(n1 > 0 && n2 > n1, s"candidate counts not increasing: $n1 -> $n2")
  }

  test("filtered ANN: every hit shares the query's label, ranks dense") {
    val d = "/root/testdata/sf0.001"
    val r = Vectors.annCosineTopKFiltered(spark, d)
      .select("query_id", "label", "cand_id", "rnk")
      .as[(Long, Int, Long, Long)].collect()
    assert(r.nonEmpty)
    val labels = Vectors.quantized(spark, d)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    for ((q, lab, c, rnk) <- r) {
      assert(labels(q) == lab && labels(c) == lab, s"label leak: $q -> $c")
      assert(rnk >= 1 && rnk <= 5)
    }
    // dense ranks per query
    for ((_, g) <- r.groupBy(_._1))
      assert(g.map(_._4).sorted.toSeq == (1L to g.size).toSeq)
  }

  test("annLabelAgreement: ppm in range, hit counts consistent with top-k") {
    val d = "/root/testdata/sf0.001"
    val rows = Vectors.annLabelAgreement(spark, d)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val k = 5L
    for ((label, nq, nh, ns, ppm) <- rows) {
      assert(nh == nq * k, s"label $label: $nh hits for $nq queries")
      assert(ns >= 0 && ns <= nh)
      assert(ppm == ns * 1000000L / nh, s"label $label ppm")
    }
    // totals line up with the top-k frame itself
    val nTopk = Vectors.annCosineTopK(spark, d).count()
    assert(rows.map(_._3).sum == nTopk)
  }

  test("ivfCellBalance: shares sum to ~1e6, balance is share * n_cells") {
    val d = "/root/testdata/sf0.001"
    val rows = Vectors.ivfCellBalance(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val shareSum = rows.map(_._3).sum
    // integer-floor ppm: sum within n_cells of exactly 1e6
    assert(shareSum <= 1000000L && shareSum > 1000000L - rows.size,
      s"share sum $shareSum over ${rows.size} cells")
    val total = rows.map(_._2).sum
    val nCells = rows.size.toLong
    for ((cid, n, _, bal) <- rows)
      assert(bal == n * nCells * 1000000L / total, s"cell $cid")
  }

  test("normHist: ilog2 buckets per label with exact min/max") {
    // n2 values: 5 -> bucket 2, 8 -> bucket 3, 1 -> bucket 0
    val q = Seq((0, 5L), (0, 8L), (0, 6L), (1, 1L)).toDF("label", "n2")
    val r = Vectors.normHistOf(q).orderBy("label", "bucket")
      .select("label", "bucket", "n_vecs", "min_n2", "max_n2")
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq(
      (0, 2L, 2L, 5L, 6L), (0, 3L, 1L, 8L, 8L), (1, 0L, 1L, 1L, 1L)))
  }

  test("sampled kNN components == full components when the budget covers " +
       "the whole eval set and candidates are all queries") {
    // every vec_id % 50 == 0 -> eval set = corpus = sample; the sampled
    // form's in-sample candidate restriction coincides with the full
    // form's, so the two must agree exactly
    val emb = (1 to 12).map { i =>
      val v = Array.tabulate(8)(d => if (d == i % 3) 1.0f else 0.001f * i)
      (i * 50L, "en", v)
    }.toDF("vec_id", "label", "embedding")
    val q = Vectors.quantizedOf(emb)
    val sampled = Vectors.knnComponentsSampledOf(q)
      .as[(Long, Long)].collect().toSet
    val full = Vectors.knnComponentsOf(
      Vectors.annCosineTopKOf(q)).as[(Long, Long)].collect().toSet
    assert(sampled == full && sampled.nonEmpty)
  }

  test("sampled rank-stability == full monitor when the budget covers " +
       "the eval set (per-query ranks unchanged by the restriction)") {
    val dir = "/root/testdata/sf0.001"
    val a = Vectors.rankStabilitySampled(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val b = SparkEntry.queries("q_ann_rank_stability")(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq && a.nonEmpty)
  }

  test("sampled k-means == full trainer when the budget covers the corpus") {
    val dir = "/root/testdata/sf0.001"
    val a = Vectors.kmeansAssignSampled(spark, dir)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val b = Vectors.kmeansAssign(spark, dir)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq && a.nonEmpty)
  }
}
