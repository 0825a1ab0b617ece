package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-13 hardening: graphHops persist hygiene (no orphaned cached RDDs
  * after a call in a long-lived session). The dense-pair bucket gate
  * tests are in DedupSpec.
  */
class Round13OpsSpec extends SparkSpec {
  import spark.implicits._

  test("graph hops: no orphaned cached RDDs after the call") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // session-reuse shape: repeated invocations must not accrete frames
    val r1 = Basket.graphHopsOf(edges).as[(Long, Long)].collect().toMap
    val r2 = Basket.graphHopsOf(edges).as[(Long, Long)].collect().toMap
    assert(r1 == Map(0L -> 1L, 1L -> 2L, 2L -> 1L, 3L -> 1L))
    assert(r1 == r2)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"graphHopsOf leaked cached RDDs: ${after -- before}")
  }

  test("q2 shape: min-cost tie keeps BOTH suppliers, region prunes") {
    val li = Seq(
      (1L, 10L, 100L, 2.0, 40.0),  // part 10, supp 100: unit 20.00
      (2L, 10L, 101L, 1.0, 20.0),  // part 10, supp 101: unit 20.00 (tie)
      (3L, 10L, 102L, 1.0, 30.0),  // part 10, supp 102: unit 30.00
      (4L, 11L, 103L, 1.0, 10.0))  // part 11 only in the OTHER region
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice")
    val supp = Seq((100L, "S100", 0L), (101L, "S101", 0L),
                   (102L, "S102", 0L), (103L, "S103", 1L))
      .toDF("s_suppkey", "s_name", "s_nationkey")
    val nat = Seq((0L, "N0", 0L), (1L, "N1", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val reg = Seq((0L, "EUROPE"), (1L, "ASIA")).toDF("r_regionkey", "r_name")
    val part = Seq((10L, "B1", 5), (11L, "B2", 5))
      .toDF("p_partkey", "p_brand", "p_size")
    val r = TpchShapes.minCostSupplierOf(li, supp, nat, reg, part)
      .select("p_partkey", "s_name", "unit_cost_c")
      .as[(Long, String, Long)].collect().toSet
    assert(r == Set((10L, "S100", 2000L), (10L, "S101", 2000L)))
  }

  test("q20/q21 shapes: dominance cross-multiply and sole-late logic") {
    val d0 = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    def ship(days: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2000, 1, 1, 0, 0).plusDays(days))
    // order 1: supp 100 late, supp 101 on time -> 100 counted
    // order 2: both late -> neither counted; order 3: single-supplier
    val li = Seq(
      (1L, 10L, 100L, 10.0, ship(400)), (1L, 10L, 101L, 1.0, ship(10)),
      (2L, 10L, 100L, 1.0, ship(400)), (2L, 10L, 101L, 1.0, ship(500)),
      (3L, 10L, 100L, 1.0, ship(400)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_shipdate")
    val ord = Seq((1L, d0), (2L, d0), (3L, d0))
      .toDF("o_orderkey", "o_orderdate")
    val supp = Seq((100L, "S100", 0L), (101L, "S101", 0L))
      .toDF("s_suppkey", "s_name", "s_nationkey")
    val nat = Seq((0L, "N0")).toDF("n_nationkey", "n_name")
    val late = TpchShapes.lateOnlySupplierOf(li, ord, supp, nat)
      .select("s_name", "numwait").as[(String, Long)].collect().toSet
    assert(late == Set(("S100", 1L)))
    // dominance needs n_supp >= 3 (with 2 suppliers, qty*2 > 2*total is
    // impossible): part 10 qty supp100=12 supp101=2 supp102=1, total 15,
    // n_supp 3 -> 12*3=36 > 30 true only for supp100
    val li3 = Seq(
      (1L, 10L, 100L, 12.0), (1L, 10L, 101L, 2.0), (2L, 10L, 102L, 1.0),
      (3L, 11L, 100L, 9.0)) // part 11: single supplier -> excluded
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val supp3 = Seq((100L, "S100", 0L), (101L, "S101", 0L),
                    (102L, "S102", 0L))
      .toDF("s_suppkey", "s_name", "s_nationkey")
    val dom = TpchShapes.dominantSuppliersOf(li3, supp3, nat)
      .select("s_name", "n_dominant_parts").as[(String, Long)]
      .collect().toSet
    assert(dom == Set(("S100", 1L)))
  }

  test("heaps law: first-occurrence buckets and cumulative vocab") {
    // words: a first at doc 1 (bucket 0), b at doc 2 (bucket 1),
    // c at doc 5 (bucket 2)
    val wd = Seq((1L, "a"), (2L, "a"), (2L, "b"), (5L, "c"), (5L, "a"))
      .toDF("doc_id", "w")
    val r = Stats.heapsLawOf(wd).as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r == Map(0L -> ((1L, 1L)), 1L -> ((1L, 2L)), 2L -> ((1L, 3L))))
  }

  test("token doc-freq: log2 df buckets over distinct postings") {
    // dfs: a=4 (bucket 2), b=1, c=1 (bucket 0)
    val wd = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (1L, "b"),
                 (2L, "c")).toDF("doc_id", "w")
    val r = Stats.tokenDocFreqOf(wd).as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r == Map(2L -> ((1L, 4L)), 0L -> ((2L, 2L))))
  }

  test("simhash precision curve: exact-dup share per hamming distance") {
    val pairs = Seq((1L, 2L, 0L), (1L, 3L, 2L)).toDF("doc_a", "doc_b", "hamming")
    val docsNorm = Seq((1L, "same"), (2L, "same"), (3L, "other"))
      .toDF("doc_id", "norm")
    val r = Dedup.simhashPrecisionCurveOf(pairs, docsNorm)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r == Map(0L -> ((1L, 1L)), 2L -> ((1L, 0L))))
  }

  test("frame near-dup: cross-doc near frames counted, intra-doc excluded") {
    // docs 1 and 2 share an identical REPEATING 300-char payload (2
    // chunks each): the repetition makes every chunk near every other,
    // so all 4 cross-doc frame combos land within hamming 3 — while the
    // same-similarity INTRA-doc combos (1.0~1.1, 2.0~2.1) must be
    // excluded. Doc 3 is unrelated noise.
    val payload = ("lorem ipsum dolor sit amet consectetur " * 8).take(300)
    val docs = Seq((1L, payload), (2L, payload),
                   (3L, "zq" * 150)).toDF("doc_id", "text")
    val r = Multimodal.frameNearDupOf(docs)
      .as[(Long, Long, Long)].collect().toSet
    assert(r == Set((1L, 2L, 4L)))
  }
}
