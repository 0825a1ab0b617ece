package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit}

/** Round-14 hardening: the guarded frame-near-dup clustered sibling and
  * Basket/CC persist hygiene (tracked frames reclaimed by
  * Caches.invalidateAll). The hamming giant-bucket guard tests are in
  * DedupSpec.
  */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._

  private def componentsOf(edges: DataFrame): Set[(Long, Long)] = {
    val nodes = edges.select(col("doc_a").as("doc_id"))
      .unionAll(edges.select(col("doc_b").as("doc_id"))).distinct()
    Dedup.clustersFastOf(nodes, edges).as[(Long, Long)].collect().toSet
  }

  test("spanning edges: components equal the exact pair graph's") {
    val hashes = Seq((1L, 1024L), (2L, 1024L), (3L, 1024L),
                     (4L, 1025L), (5L, 1025L), (6L, -1L))
      .toDF("doc_id", "simhash")
    val exactComp = componentsOf(
      Dedup.simhashPairsOf(hashes).select("doc_a", "doc_b"))
    val spanComp = componentsOf(
      Dedup.hammingSpanningEdgesOf(hashes, "simhash", chunkBits = 8))
    assert(spanComp == exactComp)
    assert(spanComp == (1L to 5L).map(i => (i, 1L)).toSet)
    // and the spanning set is LINEAR: 2 within-group stars + 1 rep edge
    val span = Dedup.hammingSpanningEdgesOf(hashes, "simhash", 8)
      .as[(Long, Long)].collect().toSeq
    assert(span.size == 4, s"expected 4 spanning edges, got $span")
  }

  test("frame near-dup clusters ≡ components of the exact pair list") {
    val payload = ("lorem ipsum dolor sit amet consectetur " * 8).take(300)
    val docs = Seq((1L, payload), (2L, payload),
                   (3L, "zq" * 150)).toDF("doc_id", "text")
    val clusters = Multimodal.frameNearDupClustersOf(docs)
      .as[(Long, Long)].collect().toSet
    assert(clusters == Set((1L, 2L))) // docs 1+2 one family; doc 3 no pairs
    // cross-check: components over the exact pair list agree
    val exactComp = componentsOf(
      Multimodal.frameNearDupOf(docs).select("doc_a", "doc_b"))
      .groupBy(_._2).map { case (c, ms) => (c, ms.size.toLong) }.toSet
    assert(exactComp == clusters)
  }

  test("basket + CC ops: tracked persists reclaimed by invalidateAll") {
    val li = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
                 (3L, 11L), (3L, 12L), (4L, 11L), (4L, 12L))
      .toDF("l_orderkey", "l_partkey")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // every hygiene-class op the r13 verdict flagged, materialized
    Basket.partPairsOf(li).count()
    Basket.triangleStatsOf(edges).count()
    Basket.pageRankOf(edges).count()
    Basket.neighborJaccardOf(edges).count()
    Basket.coPurchaseComponentsOf(edges).count()
    // + the r14-advice path: the spanning-edge clustered rollup must not
    // leave its input hash persist behind (hammingSpanningEdgesOf now
    // releases it after the tracked eager checkpoint)
    val payload = ("lorem ipsum dolor sit amet consectetur " * 8).take(300)
    Multimodal.frameNearDupClustersOf(
      Seq((1L, payload), (2L, payload)).toDF("doc_id", "text")).count()
    assert(graft.Caches.size(spark) > 0, "ops should register tracked frames")
    graft.Caches.invalidateAll(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"orphaned cached RDDs after invalidateAll: ${after -- before}")
  }

  test("CC loops release superseded per-round checkpoints eagerly") {
    // a 40-node chain forces clustersFastOf through several rounds; the
    // live checkpoint count during the call must stay O(1), not O(rounds)
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val nodes = (1L to 40L).toDF("doc_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = Dedup.clustersFastOf(nodes, pairs)
    assert(labels.select("cluster").distinct().count() == 1)
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.size <= 2, // final checkpoint (+ its in-flight sibling)
      s"superseded round checkpoints not released: ${during.size} live")
    graft.Caches.invalidateAll(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"orphaned checkpoints after invalidateAll: ${after -- before}")
  }
}
