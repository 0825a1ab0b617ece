package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Passage-level dedup + product quantization, against independently
  * computed expectations (plain Scala arithmetic, no Spark). */
class PassagePqSpec extends SparkSpec {
  import spark.implicits._

  // ----- passages ---------------------------------------------------------

  private def docsDF(rows: (Long, String)*) =
    TextOps.withWords(TextOps.normalize(rows.toDF("doc_id", "text")))

  test("passagesOf emits non-overlapping k-word windows, short docs none") {
    val d = docsDF(
      1L -> (1 to 20).map(i => s"w$i").mkString(" "), // 2 passages, 4 left over
      2L -> (1 to 7).map(i => s"w$i").mkString(" "))  // < k: none
    val p = TextOps.passagesOf(d, 8).orderBy("doc_id", "p_idx")
      .as[(Long, Int, String)].collect()
    assert(p.toSeq == Seq(
      (1L, 0, (1 to 8).map(i => s"w$i").mkString(" ")),
      (1L, 1, (9 to 16).map(i => s"w$i").mkString(" "))))
  }

  test("dedupPassages finds cross-doc windows; ratio counts multiplicity") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val d = docsDF(
      1L -> (shared + " " + (1 to 8).map(i => s"a$i").mkString(" ")),
      2L -> (shared + " " + (1 to 8).map(i => s"b$i").mkString(" ")),
      // doc 3 contains the shared window TWICE (within-doc multiplicity)
      3L -> (shared + " " + shared))
    val passages = TextOps.passagesOf(d, 8)
    val dup = TextOps.dedupPassagesOf(passages)
      .as[(String, Long, Long, Long)].collect()
    assert(dup.length == 1)
    val (_, nDocs, nOcc, keeper) = dup.head
    assert(nDocs == 3 && nOcc == 4 && keeper == 1L)
    val ratio = TextOps.passageDupRatioOf(passages)
      .select("doc_id", "n_passages", "n_dup", "dup_ratio")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(ratio.toSeq == Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 2L, 2L, 1.0)))
  }

  // ----- product quantization --------------------------------------------

  // deterministic synthetic vectors: ids 0/32 are the codebook sample
  // (vec_id % 32 == 0), ids 0/50 the ADC query set (vec_id % 50 == 0)
  private val ids = Seq(0L, 1L, 2L, 32L, 50L, 51L)
  private def vec(i: Long): Array[Float] =
    Array.tabulate(64)(d => (((i * 7 + d * 3) % 13).toFloat - 6f) / 10f)
  private lazy val embDF = ids.map(i => (i, 0, vec(i)))
    .toDF("vec_id", "label", "embedding")

  // independent reference arithmetic (the operators' contract)
  private def qv(i: Long): Array[Long] =
    vec(i).map(x => math.round(x.toDouble * 1000000))
  private def d2(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
  private def sub(i: Long, m: Int): Array[Long] =
    qv(i).slice(m * 16, m * 16 + 16)
  private val cbIds = ids.filter(_ % 32 == 0)

  // 2-round Lloyd training per subspace, independently re-derived: argmin
  // assignment (ties by codebook id), then per-dim integer re-quantized
  // means — HALF_UP like Spark's round() / DuckDB's round(), NOT
  // math.round (which rounds -2.5 toward zero)
  private def halfUp(x: Double): Long =
    new java.math.BigDecimal(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
  private def trainedCb(m: Int, iters: Int = 2): Map[Long, Array[Long]] = {
    var cb: Map[Long, Array[Long]] = cbIds.map(c => c -> sub(c, m)).toMap
    for (_ <- 1 to iters) {
      val assign: Map[Long, Long] = ids.map { i =>
        i -> cb.toSeq.map { case (c, cs) => (d2(sub(i, m), cs), c) }.min._2
      }.toMap
      cb = assign.groupBy(_._2).map { case (c, members) =>
        val subs = members.keys.toSeq.map(sub(_, m))
        c -> Array.tabulate(16)(d =>
          halfUp(subs.map(_(d)).sum.toDouble / subs.size))
      }
    }
    cb
  }
  private def expectedCode(i: Long, m: Int): (Long, Long) =
    trainedCb(m).toSeq.map { case (c, cs) => (d2(sub(i, m), cs), c) }
      .min.swap

  test("pqCodesOf assigns every (vector, subspace) its argmin sub-centroid") {
    val got = Vectors.pqCodesOf(Vectors.quantizedOf(embDF))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (v, m, c, d) => (v, m) -> (c, d) }.toMap
    assert(got.size == ids.size * 4)
    for (i <- ids; m <- 0 until 4)
      assert(got((i, m)) == expectedCode(i, m), s"vec $i subspace $m")
  }

  test("pqAdcTopK sums the distance-table lookups and excludes self") {
    val got = Vectors.pqAdcTopKOf(Vectors.quantizedOf(embDF), k = 5)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).toSeq).toMap
    val queries = ids.filter(_ % 50 == 0)
    val expected = queries.map { q =>
      val adc = ids.filter(_ != q).map { c =>
        c -> (0 until 4).map { m =>
          d2(sub(q, m), trainedCb(m)(expectedCode(c, m)._1))
        }.sum
      }.sortBy { case (c, d) => (d, c) }.take(5)
      q -> adc.zipWithIndex.map { case ((c, d), r) =>
        (q, c, d, (r + 1).toLong) }
    }.toMap
    assert(got.keySet == queries.toSet)
    for (q <- queries) assert(got(q) == expected(q), s"query $q")
  }

  test("ivfPqTopK equals all-pairs ADC when every vector shares one cell") {
    // centroid sample (vec_id % 40 == 0) is {0} here, so IVF blocks nothing
    // and the composition must reproduce the plain ADC ranking at k=3
    val evDir = tempDir("graft_pq")
    embDF.write.mode("overwrite").parquet(s"$evDir/embeddings.parquet")
    val got = Vectors.ivfPqTopK(spark, evDir, k = 3)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val want = Vectors.pqAdcTopKOf(Vectors.quantizedOf(embDF), k = 3)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("ivfPqRerank recovers exact top-k when the shortlist covers all") {
    // single cell (centroid sample = {0}) and kCand >= every candidate:
    // the ADC shortlist is the whole candidate set, so the exact rerank
    // must reproduce brute-force cosine top-3 bit-for-bit
    val evDir = tempDir("graft_rr")
    embDF.write.mode("overwrite").parquet(s"$evDir/embeddings.parquet")
    val got = Vectors.ivfPqRerank(spark, evDir, kCand = 10, k = 3)
      .as[(Long, Long, Double, Long)].collect().sorted.toSeq
    val want = Vectors.annCosineTopK(spark, evDir, k = 3)
      .as[(Long, Long, Double, Long)].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("exact rerank recall dominates ADC-order recall per query") {
    // any global-top-3 member that made the shortlist has the highest
    // exact scores there, so exact reranking must keep it in its top-3 —
    // ADC ordering may misplace it. Hence per-query recall(rerank) >=
    // recall(ADC top-3) on real data, with the same shortlist.
    val d = "/root/testdata/sf0.001"
    def hits(approx: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val exact = Vectors.annCosineTopK(spark, d, k = 3)
        .select($"query_id", $"cand_id")
      exact.join(approx.select($"query_id", $"cand_id"),
                 Seq("query_id", "cand_id"))
        .groupBy("query_id").count()
        .as[(Long, Long)].collect().toMap.withDefaultValue(0L)
    }
    val rr = hits(Vectors.ivfPqRerank(spark, d, kCand = 10, k = 3))
    val adc = hits(Vectors.ivfPqTopK(spark, d, k = 3))
    val queries = (rr.keySet ++ adc.keySet)
    assert(queries.nonEmpty)
    for (q <- queries)
      assert(rr(q) >= adc(q), s"query $q: rerank ${rr(q)} < adc ${adc(q)}")
  }

  test("bucketed PQ index: probe join has no Exchange, matches ivfPqTopK") {
    val d = "/root/testdata/sf0.001"
    val root = tempDir("graft_pqi")
    val wh = new graft.catalog.Warehouse(spark, root)
    Vectors.pqIndexTo(wh, spark, d)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the co-located sort-merge path (no broadcast fallback)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Vectors.pqProbeJoin(wh).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(600))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val got = Vectors.ivfPqTopKIndexed(wh, spark, d)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val want = Vectors.ivfPqTopK(spark, d)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }
}
