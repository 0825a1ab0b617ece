package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-12b operators: quality↔dup calibration, Jaccard histogram,
  * label cohesion, user lifecycle. Incremental novelty and the charset
  * profile are tested in TextOpsSpec. */
class Round12bOpsSpec extends SparkSpec {
  import spark.implicits._

  test("quality-dup calibration: dup docs land in their quality decile") {
    // docs 0,1 identical (dup group of 2); doc 2 unique
    val docs = TextOps.normalize(Seq(
      (0L, "same text here"), (1L, "same text here"), (2L, "different one"))
      .toDF("doc_id", "text"))
    val quality = Seq((0L, 0.95), (1L, 0.95), (2L, 0.15))
      .toDF("doc_id", "quality")
    val r = Corpus.qualityDupCalibrationOf(docs, quality)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r(9L) == ((2L, 2L, 1000000L))) // both dups in decile 9
    assert(r(1L) == ((1L, 0L, 0L)))
  }

  test("jaccard hist: integer tenth buckets, clamped at 9") {
    // (n_shared, n_a, n_b): union=10,j=0.5 -> b5; identical j=1.0 -> b9;
    // disjoint -> b0
    val c = Seq((0L, 1L, 5L, 10L, 5L), (2L, 3L, 4L, 4L, 4L),
                (4L, 5L, 0L, 3L, 3L))
      .toDF("doc_a", "doc_b", "n_shared", "n_a", "n_b")
    val r = Dedup.jaccardHistOf(c)
      .select("bucket", "n_pairs", "sum_shared")
      .as[(Long, Long, Long)].collect().toSet
    assert(r == Set((5L, 1L, 5L), (9L, 1L, 4L), (0L, 1L, 0L)))
  }

  test("label cohesion: identical vectors 1e6, orthogonal pair 5e5") {
    val q = Vectors.quantizedOf(Seq(
      (0L, 0, Seq(1.0f, 0.0f)), (1L, 0, Seq(1.0f, 0.0f)),
      (2L, 1, Seq(1.0f, 0.0f)), (3L, 1, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding"))
    val r = Vectors.embLabelCohesionOf(q)
      .select("label", "cohesion_ppm").as[(Long, Long)].collect().toMap
    assert(r(0L) == 1000000L && r(1L) == 500000L)
  }

  test("user lifecycle: exact active days and span") {
    val ev = Seq(
      (10L, "2024-01-01 10:00:00"), (10L, "2024-01-01 12:00:00"),
      (10L, "2024-01-05 09:00:00"),
      (20L, "2024-02-01 00:00:00"))
      .toDF("user_id", "s")
      .select(col("user_id"), col("s").cast("timestamp").as("ts"))
    val r = Sessions.userLifecycleOf(ev)
      .select("user_id", "n_events", "n_active_days", "span_days")
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r(10L) == ((3L, 2L, 4L)))
    assert(r(20L) == ((1L, 1L, 0L)))
  }
}
