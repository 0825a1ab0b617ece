package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-12 operators: token-budget selection, curriculum ordering,
  * weighted sampling, bucketed packing, and the embedding-health
  * readouts. The containment tier's tests are in DedupSpec, n-gram
  * novelty's in TextOpsSpec. */
class Round12OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- token budget ------------------------------------------------------

  private def budgetFixture(n: Int) = {
    // quality spread over buckets; n_tokens = 10 per doc, two sources
    val rows = (0 until n).map { i =>
      (i.toLong, if (i % 2 == 0) "s1" else "s2", 10L,
       (i % 100) / 100.0) // quality in [0, 0.99]
    }
    rows.toDF("doc_id", "source", "n_tokens", "quality")
  }

  test("token budget select: keeps best-quality prefix within budget") {
    val fx = budgetFixture(40)
    val out = Corpus.tokenBudgetSelectOf(
      fx.select("doc_id", "source"),
      fx.select("doc_id", "n_tokens"),
      fx.select("doc_id", "quality"), budget = 55L)
    val got = out.select("source", "doc_id", "rank", "cum_tokens")
      .as[(String, Long, Long, Long)].collect().sortBy(t => (t._1, t._3))
    // 10 tokens per doc, budget 55 -> exactly 5 docs per source, the 5
    // highest-quality ones (quality = (id%100)/100 -> largest ids here)
    assert(got.count(_._1 == "s1") == 5 && got.count(_._2 % 2 == 1) == 5)
    val s1 = got.filter(_._1 == "s1").map(_._2)
    assert(s1.toSeq == Seq(38L, 36L, 34L, 32L, 30L))
    assert(got.map(_._4).forall(_ <= 55L))
    assert(got.filter(_._1 == "s1").map(_._3).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("token budget bucket pruning equals the naive per-source window") {
    import org.apache.spark.sql.expressions.Window
    val fx = budgetFixture(97) // odd count, uneven buckets
    val out = Corpus.tokenBudgetSelectOf(
      fx.select("doc_id", "source"), fx.select("doc_id", "n_tokens"),
      fx.select("doc_id", "quality"), budget = 123L)
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id"))
    val naive = fx
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum("n_tokens").over(w).cast("long"))
      .where(col("cum_tokens") <= 123L)
      .select("source", "doc_id", "rank", "n_tokens", "cum_tokens")
    assert(out.exceptAll(naive).isEmpty && naive.exceptAll(out).isEmpty)
  }

  // ---- curriculum --------------------------------------------------------

  test("curriculum order: stage clamps at 9, pos is a dense per-cell rank") {
    val q = Seq((0L, 1.0), (1L, 0.05), (2L, 0.95), (3L, 1.0))
      .toDF("doc_id", "quality")
    val r = Corpus.curriculumOrderOf(q, nShards = 2)
      .as[(Long, Long, Long, Long)].collect()
    val byDoc = r.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(byDoc(0L)._1 == 9L && byDoc(3L)._1 == 9L) // 1.0 clamps to 9
    assert(byDoc(1L)._1 == 0L && byDoc(2L)._1 == 9L)
    // per (stage, shard) the positions are 1..n
    r.groupBy(t => (t._2, t._3)).foreach { case (_, cell) =>
      assert(cell.map(_._4).sorted.toSeq == (1L to cell.length).toSeq)
    }
  }

  // ---- weighted sample ---------------------------------------------------

  test("weighted sample: zero quality never kept; keep set matches rule") {
    val q = (0L until 200L).map(i => (i, i / 200.0)).toDF("doc_id", "quality")
    val kept = Sampling.weightedSampleOf(q, rate = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val expected = (0L until 200L).filter { i =>
      val quality = i / 200.0
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 6)
      java.lang.Long.parseLong(hex, 16) <
        math.floor(quality * 0.5 * 16777216.0).toLong
    }.toSet
    assert(kept == expected)
    assert(!kept.contains(0L)) // quality 0 -> threshold 0
  }

  // ---- bucketed packing --------------------------------------------------

  test("pack buckets: k docs per bin, exact fill arithmetic") {
    // 10 docs of 3 words (t=4 after... no: 3 words -> t=3, bucket=1, k=128)
    // use one shard to make the math visible
    val docs = TextOps.withWords(TextOps.normalize(
      (0L until 10L).map(i => (i * 8, "w1 w2 w3")) // doc_id%8==0 -> shard 0
        .toDF("doc_id", "text")))
    val r = Pack.packBucketsOf(docs, nShards = 8, capacity = 256)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(r.length == 1)
    val (bucket, shard, nDocs, nBins, tokens, fill) = r.head
    assert(bucket == 1L && shard == 0L && nDocs == 10L)
    assert(nBins == 1L)            // k = 256>>1 = 128 ≥ 10 docs -> one bin
    assert(tokens == 30L && fill == 30L * 1000000L / 256L)
  }

  test("pack buckets: bins split when a cell exceeds k docs") {
    // 300 docs of ~130 words -> t=130, bucket=7, k = 256>>7 = 2 per bin
    val text = (1 to 130).map(i => s"t$i").mkString(" ")
    val docs = TextOps.withWords(TextOps.normalize(
      (0L until 300L).map(i => (i * 8, text)).toDF("doc_id", "text")))
    val r = Pack.packBucketsOf(docs, nShards = 8, capacity = 256)
      .select("bucket", "n_docs", "n_bins")
      .as[(Long, Long, Long)].head()
    assert(r == ((7L, 300L, 150L)))
  }

  // ---- embedding health --------------------------------------------------

  private def quantFx(vecs: Seq[(Long, Int, Seq[Float])]) =
    Vectors.quantizedOf(
      vecs.toDF("vec_id", "label", "embedding"))

  test("emb dim profile: exact per-dimension sums over quantized values") {
    val q = quantFx(Seq(
      (0L, 0, Seq(1.0f, -0.5f)), (1L, 0, Seq(0.5f, 0.5f))))
    val r = Vectors.embDimProfileOf(q)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    // quantized: dim0 = 1e6, 5e5; dim1 = -5e5, 5e5
    assert(r(0L) == ((2L, 1500000L, 1250000000000L, 750000L)))
    assert(r(1L) == ((2L, 0L, 500000000000L, 0L)))
  }

  test("anisotropy is 1e6 for identical vectors, 1/N for orthogonal") {
    val same = quantFx(Seq(
      (0L, 0, Seq(1.0f, 0.0f)), (1L, 0, Seq(1.0f, 0.0f)),
      (2L, 0, Seq(1.0f, 0.0f))))
    val a1 = Vectors.embAnisotropyOf(same)
      .select("aniso_ppm").as[Long].head()
    assert(a1 == 1000000L)
    val ortho = quantFx(Seq(
      (0L, 0, Seq(1.0f, 0.0f)), (1L, 0, Seq(0.0f, 1.0f))))
    val a2 = Vectors.embAnisotropyOf(ortho)
      .select("aniso_ppm").as[Long].head()
    assert(a2 == 500000L) // ||v1+v2||² = 2·n2; N·Σn2 = 4·n2
  }
}
