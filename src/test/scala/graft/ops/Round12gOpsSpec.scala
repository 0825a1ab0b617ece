package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-12g operators: ANN MRR, funnel time-to-convert. Contrastive
  * source terms are tested in TextOpsSpec. */
class Round12gOpsSpec extends SparkSpec {
  import spark.implicits._

  test("mrr: rank-1 hit, deep hit, and miss average in ppm") {
    val exact = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L),
                    (3L, 30L, 1L))
      .toDF("query_id", "cand_id", "rnk")
    val approx = Seq((1L, 10L, 1L), (2L, 99L, 1L), (2L, 98L, 2L),
                     (2L, 20L, 3L), (3L, 97L, 1L))
      .toDF("query_id", "cand_id", "rnk")
    val r = Vectors.annMrrOf(exact, approx)
      .as[(Long, Long, Long, Long)].head()
    // q1 rr=1e6, q2 rr=1e6/3=333333, q3 miss=0 -> mean 444444
    assert(r == ((3L, 2L, 1333333L, 444444L)))
  }

  test("funnel time: in-order converters only, discrete median/p90 picks") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, "signup", ts("2024-01-01 10:00:00")),
      (1L, "view", ts("2024-01-01 10:01:00")),
      (1L, "purchase", ts("2024-01-01 10:03:00")),
      (2L, "view", ts("2024-01-01 09:59:50")), // view BEFORE signup
      (2L, "signup", ts("2024-01-01 10:00:00")),
      (3L, "signup", ts("2024-01-01 10:00:00")),
      (3L, "view", ts("2024-01-01 10:00:30")))
      .toDF("user_id", "event_type", "ts")
    val r = Sessions.funnelTimeToConvertOf(
        events, Seq("signup", "view", "purchase"))
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // pair 1: u1 (60s) + u3 (30s); u2 out of order. median pick rank
    // ceil(2/2)=1 -> 30, p90 pick rank ceil(18/10)=2 -> 60
    assert(r("01_signup_to_view") == ((2L, 30L, 60L)))
    assert(r("02_view_to_purchase") == ((1L, 120L, 120L)))
  }
}
