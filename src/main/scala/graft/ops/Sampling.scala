package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Rate control is by md5-hex prefix comparison (uniform over inputs,
  * engine-independent, reproducible — no RNG state, no seed drift between
  * runs or engines; the standard content-hash split trick). Purely map-side:
  * no shuffle, trivially parallel at any scale.
  */
object Sampling {

  /** Keep rows whose md5(key) is lexicographically below the hex prefix:
    * "2" ≈ 2/16 rate, "08" ≈ 8/256, etc. */
  def hashSample(df: DataFrame, keyCol: String, hexThreshold: String): DataFrame =
    df.where(md5(col(keyCol).cast("string")) < lit(hexThreshold))

  /** Stratified doc sample: per-language hex thresholds (e.g. boost rare
    * languages, downsample the dominant one). */
  def stratifiedDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = TextOps.docs(spark, dir)
    // en is ~40% of the corpus → sample 4/16; others keep 12/16
    docs.withColumn("threshold",
        when(col("lang") === "en", lit("4")).otherwise(lit("c")))
      .where(md5(col("doc_id").cast("string")) < col("threshold"))
      .select("doc_id", "lang")
  }

  /** Deterministic train/val/test split on the doc id hash:
    * first hex char 0-b → train (12/16), c-d → val (2/16), e-f → test.
    * Purely per-doc, so it commutes with any restriction of its input —
    * the incremental curation path relies on that. */
  def trainValTestSplitOf(docsNorm: DataFrame): DataFrame =
    docsNorm.select(
      col("doc_id"), col("lang"),
      expr("""CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 1) < 'c' THEN 'train'
                   WHEN substring(md5(CAST(doc_id AS STRING)), 1, 1) < 'e' THEN 'val'
                   ELSE 'test' END""").as("split"))

  def trainValTestSplit(spark: SparkSession, dir: String): DataFrame =
    trainValTestSplitOf(TextOps.docs(spark, dir))

  /** Deterministic global training shuffle: every doc gets a (shard, rank)
    * address from a salted content hash — the reproducible epoch-order a
    * data loader consumes, with no RNG state and no single global sort.
    * shard = first md5 byte mod `nShards`; rank = position within the
    * shard ordered by (hash, doc_id) (total: doc_id is unique).
    *
    * Scale shape: hashing is map-side; the ranking is ONE shuffle on the
    * shard key plus a per-shard sort — at 100 TB that's the honest,
    * bounded cost of a deterministic permutation (each shard is corpus/
    * nShards; raise nShards to cap per-task sort size). Never a global
    * 1-partition window. */
  def shuffleShardsOf(docs: DataFrame, nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"),
        md5(concat(lit("shuf|"), col("doc_id").cast("string"))).as("h"))
      .withColumn("shard",
        expr(s"CAST(conv(substring(h, 1, 2), 16, 10) AS BIGINT) % $nShards"))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("shard").orderBy("h", "doc_id")).cast("long"))
      .select("doc_id", "shard", "rank")
  }

  /** QUALITY-WEIGHTED deterministic sampling: keep a doc with probability
    * `rate × quality` — importance sampling that thins low-quality docs
    * harder, with the same no-RNG reproducibility as [[hashSample]]. The
    * doc's 24-bit hash value u (first 6 md5 hex digits) is compared
    * against a per-doc integer threshold floor(quality·rate·2²⁴): every
    * engine computes the identical keep set (quality's double expression
    * tree is cross-engine bit-identical, floor pins the comparison to
    * exact integers).
    *
    * Scale shape: one equi-join with the quality frame, then pure
    * map-side hash + compare — no shuffle beyond the join, trivially
    * parallel. */
  def weightedSampleOf(docsQuality: DataFrame,
                       rate: Double = 0.5): DataFrame =
    docsQuality
      .withColumn("u_hash",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), " +
             "16, 10) AS BIGINT)"))
      .withColumn("threshold",
        expr(s"CAST(floor(quality * $rate * 16777216.0) AS BIGINT)"))
      .where(col("u_hash") < col("threshold"))
      .select("doc_id", "u_hash", "quality")
}
