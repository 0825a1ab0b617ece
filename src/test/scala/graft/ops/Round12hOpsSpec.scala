package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-12h operators: the TPC-H classic shapes (Q7 volume shipping,
  * Q8 market share, Q10 returned top, Q14 promo share, Q18 bulk orders,
  * Q22 idle balances) + event-type entropy. The hapax tail profile is
  * tested in TextOpsSpec. */
class Round12hOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")

  private val nation = Seq((1, "NATION_2", 5), (2, "OTHER", 5), (3, "FAR", 6))
    .toDF("n_nationkey", "n_name", "n_regionkey")

  test("q7: same-nation pairs and out-of-window ships excluded") {
    val li = Seq(
      (100L, 20L, ts("1996-05-01"), 100.0, 0.0), // B supp -> A cust
      (100L, 21L, ts("1996-05-01"), 50.0, 0.0),  // same nation: dropped
      (100L, 20L, ts("1999-01-01"), 70.0, 0.0))  // outside window
      .toDF("l_orderkey", "l_suppkey", "l_shipdate",
            "l_extendedprice", "l_discount")
    val r = Analytics.volumeShippingOf(li,
      Seq((100L, 10L)).toDF("o_orderkey", "o_custkey"),
      Seq((10L, 1)).toDF("c_custkey", "c_nationkey"),
      Seq((20L, 2), (21L, 1)).toDF("s_suppkey", "s_nationkey"),
      nation.select(col("n_nationkey"),
        when(col("n_nationkey") === 1, "A").otherwise("B").as("n_name")))
      .as[(String, String, Long, Double)].collect()
    assert(r.toSeq == Seq(("B", "A", 1996L, 100.0)))
  }

  test("q8: promo+region filters, target-nation ppm share") {
    val li = Seq(
      (100L, 7L, 20L, 100.0, 0.0), // PROMO, supp NATION_2
      (100L, 7L, 21L, 50.0, 0.0),  // PROMO, supp OTHER
      (100L, 8L, 20L, 999.0, 0.0)) // non-promo: dropped
      .toDF("l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount")
    val r = Analytics.marketShareOf(li,
      Seq((100L, 10L, ts("1996-03-01"))).toDF("o_orderkey", "o_custkey",
        "o_orderdate"),
      Seq((10L, 1)).toDF("c_custkey", "c_nationkey"),
      Seq((20L, 1), (21L, 2)).toDF("s_suppkey", "s_nationkey"),
      Seq((7L, "PROMO"), (8L, "STANDARD")).toDF("p_partkey", "p_type"),
      nation,
      Seq((5, "ASIA"), (6, "X")).toDF("r_regionkey", "r_name"))
      .as[(Long, Long, Long, Long)].collect()
    // total 150, NATION_2 100 -> 100e6 DIV 150 = 666666
    assert(r.toSeq == Seq((1996L, 150L, 100L, 666666L)))
  }

  test("q10: only R-flag lines in the quarter count; rank by revenue") {
    val li = Seq(
      (100L, "R", 80.0, 0.0), (100L, "N", 500.0, 0.0), // N dropped
      (101L, "R", 120.0, 0.0),
      (102L, "R", 60.0, 0.0)) // order outside quarter
      .toDF("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
    val orders = Seq(
      (100L, 10L, ts("1996-02-01")), (101L, 11L, ts("1996-03-31")),
      (102L, 10L, ts("1996-04-01")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Seq((10L, "alice", 1), (11L, "bob", 2))
      .toDF("c_custkey", "c_name", "c_nationkey")
    val r = Analytics.returnedTopOf(li, orders, cust, nation, k = 20)
      .orderBy("rnk")
      .as[(Long, String, String, Double, Long)].collect()
    assert(r.toSeq == Seq((11L, "bob", "OTHER", 120.0, 1L),
                          (10L, "alice", "NATION_2", 80.0, 2L)))
  }

  test("q14: monthly promo ppm; floor after the exact decimal sum") {
    val li = Seq(
      (7L, ts("1996-05-03"), 100.5, 0.0),
      (8L, ts("1996-05-20"), 100.0, 0.0),
      (7L, ts("1996-06-01"), 30.0, 0.0))
      .toDF("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    val part = Seq((7L, "PROMO"), (8L, "STANDARD")).toDF("p_partkey", "p_type")
    val r = Analytics.promoShareOf(li, part)
      .orderBy("month").as[(java.sql.Timestamp, Long, Long, Long)].collect()
    // May: promo floor(100.5)=100, total floor(200.5)=200 -> 500000 ppm
    assert(r.toSeq == Seq(
      (ts("1996-05-01"), 100L, 200L, 500000L),
      (ts("1996-06-01"), 30L, 30L, 1000000L)))
  }

  test("q18: HAVING prunes below-threshold orders before the joins") {
    val li = Seq((100L, 120.0), (100L, 90.0), (101L, 50.0))
      .toDF("l_orderkey", "l_quantity")
    val orders = Seq(
      (100L, 10L, ts("1996-02-01"), 999.99), (101L, 10L, ts("1996-02-02"), 1.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Seq((10L, "alice")).toDF("c_custkey", "c_name")
    val r = Analytics.bulkOrdersOf(li, orders, cust, minQty = 200L)
      .as[(Long, Long, String, java.sql.Timestamp, Double, Long)].collect()
    assert(r.toSeq == Seq((100L, 10L, "alice", ts("1996-02-01"), 999.99, 210L)))
  }

  test("q22: above-average positive balance, idle since cutoff") {
    // positive balances: 100, 300, 300 -> sum 700, n 3; threshold is
    // bal*3 > 700; negative balance ignored in the threshold fold
    val cust = Seq(
      (10L, 1, 100.0),  // below avg
      (11L, 1, 300.0),  // above avg, but ordered recently
      (12L, 2, 300.0),  // above avg, idle -> kept
      (13L, 2, -50.0))  // negative
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
    val orders = Seq(
      (1L, 11L, ts("2000-06-01")),  // recent -> excludes 11
      (2L, 12L, ts("1999-06-01")))  // stale  -> 12 stays idle
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val r = Analytics.idleBalanceOf(cust, orders, nation)
      .as[(String, Long, Double)].collect()
    assert(r.toSeq == Seq(("OTHER", 1L, 300.0)))
  }

  test("event entropy: concentrated user scores 0, spread user above") {
    def ev(id: Long, u: Long, t: String) =
      (id, ts("2024-01-01"), u, t)
    val events = Seq(
      ev(1, 1, "view"), ev(2, 1, "view"), ev(3, 1, "view"), ev(4, 1, "view"),
      ev(5, 2, "view"), ev(6, 2, "buy"), ev(7, 2, "signup"), ev(8, 2, "buy"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val r = Sessions.eventEntropyOf(events)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // user1: 4*2 - 4*2 = 0
    assert(r(1L) == ((4L, 1L, 0L)))
    // user2: n=4 -> 4*2=8; buy:2*1=2, view:1*0, signup:1*0 -> 8-2=6
    assert(r(2L) == ((4L, 3L, 6L)))
  }
}
