package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-12d operators: Benford digit profile, IQR outlier fences, BFS
  * hop histogram, frame-chunk dedup, token Gini, cluster source purity.
  * Bigram surprisal and lexical diversity are tested in TextOpsSpec. */
class Round12dOpsSpec extends SparkSpec {
  import spark.implicits._

  test("benford: digit counts, integer shares, expected-share surrogate") {
    val orders = Seq((1L, 123.45), (2L, 19.99), (3L, 234.0), (4L, 999.99))
      .toDF("o_orderkey", "o_totalprice")
    val r = Analytics.benfordTotalpriceOf(orders)
      .as[(Int, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r(1) == ((2L, 5000L, 3010L))) // log10(2) = 0.30103 -> 3010 bp
    assert(r(2) == ((1L, 2500L, 1760L)))
    assert(r(9) == ((1L, 2500L, 457L)))
  }

  test("iqr outliers: discrete quartile picks and Tukey fence counts") {
    // one group, values 1..8 plus the 100 outlier: n=9, q1 at rank 3,
    // q3 at rank 7, fences [-3, 13] -> exactly one high outlier
    val orders = ((1 to 8).map(i => (i.toLong, "P1", i.toDouble)) :+
      (9L, "P1", 100.0)).toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val r = Analytics.priceOutliersIqrOf(orders)
      .as[(String, Long, Double, Double, Long, Long)].head()
    assert(r == (("P1", 9L, 3.0, 7.0, 0L, 1L)))
  }

  test("graph hops: min-hop histogram from the max-degree seed") {
    // chain 1-2-3-4-5: degrees {2,3,4}=2 tie to node 2 -> hops
    // 0:{2} 1:{1,3} 2:{4} 3:{5}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val r = Basket.graphHopsOf(edges)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(0L -> 1L, 1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("graph hops: re-reached nodes collapse to their min hop") {
    // triangle 1-2-3: seed is min id (all degree 2); every node is
    // re-reachable at hop 2/3 but must report its first arrival
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val r = Basket.graphHopsOf(edges).as[(Long, Long)].collect().toMap
    assert(r == Map(0L -> 1L, 1L -> 2L))
  }

  test("chunk frames: 256-char slicing and per-slice fingerprints") {
    val docs = Seq((1L, "x" * 300), (2L, "y" * 10))
      .toDF("doc_id", "text")
    val tmp = tempDir("mm")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Multimodal.chunkFramesOf(graft.etl.Feeds.table(spark, tmp, "documents"))
      .as[(Long, Long, String)].collect().groupBy(_._1)
    assert(r(1L).length == 2 && r(2L).length == 1)
    val fp0 = r(1L).find(_._2 == 0L).get._3
    val fp1 = r(1L).find(_._2 == 1L).get._3
    assert(fp0 != fp1) // 256 x's vs 44 x's
  }

  test("frame dedup: shared-chunk pairs with the giant-bucket guard") {
    val chunks = Seq(
      (1L, 0L, "a"), (1L, 1L, "b"),
      (2L, 0L, "a"), (2L, 1L, "b"),
      (3L, 0L, "a"))
      .toDF("doc_id", "chunk_idx", "chunk_fp")
    val open = Multimodal.frameDedupPairsOf(chunks)
      .as[(Long, Long, Long)].collect()
    assert(open.toSeq == Seq((1L, 2L, 2L))) // (1,3)/(2,3) share only 1
    // cap 2: bucket 'a' (3 docs) is dropped, so no pair reaches >= 2
    val guarded = Multimodal.frameDedupPairsOf(chunks, maxBucket = 2)
    assert(guarded.count() == 0L)
  }

  test("token gini: zero for uniform sizes, positive under skew") {
    def dw(src: String, sizes: Seq[Int], base: Long) =
      sizes.zipWithIndex.map { case (n, i) =>
        (base + i, src, Seq.fill(n)("w")) }
    val f = (dw("flat", Seq(5, 5, 5, 5), 0L) ++
             dw("skew", Seq(1, 1, 1, 97), 10L))
      .toDF("doc_id", "source", "words")
    val r = Corpus.tokenGiniBySourceOf(f)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(r("flat") == ((4L, 20L, 50L, 0L)))
    // W = 1+2+3+4*97 = 394; 2*394e6/400 - 5e6/4 = 720000
    assert(r("skew") == ((4L, 100L, 394L, 720000L)))
  }

  test("cluster purity: multi-doc clusters only, majority share") {
    val cl = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L))
      .toDF("doc_id", "cluster")
    val docs = Seq((0L, "s1"), (1L, "s1"), (2L, "s2"), (3L, "s3"))
      .toDF("doc_id", "source")
    val r = Dedup.clusterSourcePurityOf(cl, docs)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(r.toSeq == Seq((0L, 3L, 2L, 2L, 666666L))) // singleton 3 dropped
  }
}
