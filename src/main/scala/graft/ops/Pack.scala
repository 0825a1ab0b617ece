package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training-batch construction: concatenate
  * documents in a deterministic order and chunk the token stream at a fixed
  * context-window capacity — the "concat-then-chunk" packing used by
  * pretraining data loaders (each chunk becomes one training sequence).
  *
  * Scale shape: packing is inherently sequential (a running token total),
  * so the stream is SHARDED first (`doc_id % nShards`) and the cumulative
  * sum runs per shard — a single hash shuffle, then independent per-shard
  * windows. At 100 TB, nShards is sized to cluster parallelism (2^12-2^16);
  * each shard's window is a sort within its partition, never a global sort.
  * The assignment rule (a doc belongs to the chunk its FIRST token lands
  * in) is pinned and mirrored in the DuckDB oracle; all arithmetic is
  * integer (exact cross-engine).
  */
object Pack {

  /** Per-(shard, chunk) packing summary: document count, token total, and
    * the id range packed into the chunk. `chunk_tokens` may exceed
    * `capacity` by at most one document's overhang (the doc that straddles
    * the boundary contributes all its tokens to the chunk it starts in —
    * loaders either split it or pad; the summary keeps it whole so the
    * numbers are auditable). */
  def packSequencesOf(docsWords: DataFrame, nShards: Int = 8,
                      capacity: Int = 512): DataFrame = {
    val toks = docsWords.select(
      col("doc_id"),
      (col("doc_id") % nShards).as("shard"),
      size(col("words")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
    toks
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("chunk", expr(s"(cum - n_tokens) div ${capacity.toLong}"))
      .groupBy("shard", "chunk")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tokens").as("chunk_tokens"),
           min("doc_id").as("first_doc"),
           max("doc_id").as("last_doc"))
  }

  /** Packing-efficiency readout per shard: chunk count, token mass and the
    * ppm fill factor against the chunk capacity — the number a training
    * job watches to know how much compute it wastes on padding (fill can
    * exceed 1e6: a doc longer than the capacity overflows its chunk by
    * design). One partial-agg groupBy over the already-chunk-sized
    * [[packSequencesOf]] output — constant work at any corpus scale. */
  def packEfficiencyOf(packed: DataFrame, capacity: Int = 512): DataFrame =
    packed
      .groupBy("shard")
      .agg(count(lit(1)).as("n_chunks"),
           sum("chunk_tokens").as("shard_tokens"),
           max("chunk_tokens").as("max_chunk_tokens"))
      .select(col("shard"), col("n_chunks"), col("shard_tokens"),
        col("max_chunk_tokens"),
        expr(s"""CAST(shard_tokens * 1000000
                 DIV (n_chunks * ${capacity.toLong}) AS BIGINT)""")
          .as("fill_ppm"))

  /** LENGTH-BUCKETED packing — the shuffle-friendly alternative to
    * sequential concat-then-chunk: docs are grouped into power-of-2
    * length buckets (len clamped to the capacity), and a bucket-b bin
    * holds exactly k = capacity >> b docs, so bin assignment inside a
    * (bucket, shard) is pure arithmetic on a per-shard rank — no running
    * token total, no cross-doc dependency beyond the rank. This is how
    * padding-efficient batch builders actually pack at scale: same-length
    * docs batch together, fill is bounded below by 50% per bin by
    * construction (every doc in bucket b has ≥ 2^b of the 2^(b+1)-slot
    * share... i.e. len ∈ [2^b, 2^(b+1))), and shards parallelize freely.
    *
    * Output is the per-(bucket, shard) packing summary: bin count, doc
    * count, token mass, and the exact-integer ppm fill against bin
    * capacity. Scale shape: one shuffle on (bucket, shard) — fanout
    * buckets × nShards, raise nShards to cluster width — then a window
    * rank and a partial-agg rollup; all arithmetic integer. */
  def packBucketsOf(docsWords: DataFrame, nShards: Int = 8,
                    capacity: Int = 256): DataFrame = {
    val toks = docsWords.select(
      col("doc_id"),
      (col("doc_id") % nShards).as("shard"),
      expr(s"least(CAST(size(words) AS BIGINT), ${capacity.toLong})")
        .as("t"))
      .withColumn("bucket", ilog2(col("t")))
      .withColumn("k", expr(s"CAST(${capacity.toLong} div " +
        "shiftleft(1, CAST(bucket AS INT)) AS BIGINT)"))
    val w = Window.partitionBy("bucket", "shard").orderBy("doc_id")
    toks
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("bin", expr("(rn - 1) div k"))
      .groupBy("bucket", "shard")
      .agg(count(lit(1)).as("n_docs"),
           (max("bin") + 1L).as("n_bins"),
           sum("t").as("bucket_tokens"))
      .select(col("bucket"), col("shard"), col("n_docs"), col("n_bins"),
        col("bucket_tokens"),
        expr(s"""CAST(bucket_tokens * 1000000
                 DIV (n_bins * ${capacity.toLong}) AS BIGINT)""")
          .as("fill_ppm"))
  }
}
