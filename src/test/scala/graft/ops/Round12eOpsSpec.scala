package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-12e operators: threshold sweep, split leakage, session
  * concurrency. Length trim and source bigram diversity are tested in
  * TextOpsSpec. */
class Round12eOpsSpec extends SparkSpec {
  import spark.implicits._

  test("threshold sweep: integer cross-multiplied tau, boundary inclusive") {
    val scored = Seq((1L, 2L, 9L, 10L), (3L, 4L, 7L, 10L), (5L, 6L, 4L, 10L))
      .toDF("doc_a", "doc_b", "n_common", "n_union")
    val r = Dedup.dedupThresholdSweepOf(scored)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(500000L) == ((2L, 4L)))
    assert(r(700000L) == ((2L, 4L))) // 7/10 sits ON tau=0.7 — included
    assert(r(900000L) == ((1L, 2L)))
  }

  test("split leakage: cells canonicalized, cross-split pairs surface") {
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val split = Seq((1L, "train"), (2L, "test"), (3L, "train"),
                    (4L, "train"), (5L, "val"), (6L, "train"))
      .toDF("doc_id", "split")
    val r = Corpus.splitLeakageOf(pairs, split)
      .as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(r == Map(("test", "train") -> 1L, ("train", "train") -> 1L,
                    ("train", "val") -> 1L))
  }

  test("session concurrency: sweep-line max; touching sessions don't stack") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sessions = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")),
      (2L, 1L, ts("2024-01-01 10:15:00"), ts("2024-01-01 10:45:00")),
      // starts the second session 1 ends: ends sort first -> no 3-stack
      (3L, 1L, ts("2024-01-01 10:30:00"), ts("2024-01-01 10:40:00")),
      (4L, 1L, ts("2024-01-02 09:00:00"), ts("2024-01-02 09:10:00")))
      .toDF("user_id", "session_seq", "session_start", "session_end")
    val r = Sessions.sessionConcurrencyOf(sessions)
      .as[(java.sql.Timestamp, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(ts("2024-01-01 00:00:00")) == ((3L, 2L)))
    assert(r(ts("2024-01-02 00:00:00")) == ((1L, 1L)))
  }
}
