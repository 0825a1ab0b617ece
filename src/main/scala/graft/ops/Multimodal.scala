package graft.ops

import graft.etl.Feeds
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque binary payloads + typed metadata,
  * decode / feature-extract / frame-sample (BASELINE.json north star).
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic fake (dimensions derived from byte length);
  * everything around it — binary columns, schema, partition-parallel
  * mapPartitions batching, frame explosion — is real Spark plumbing, the
  * part that matters at 100 TB (payload bytes never leave the executor;
  * metadata-only aggregates never read payloads thanks to parquet column
  * pruning).
  */
object Multimodal {

  /** documents.text re-encoded as an opaque binary payload — the stand-in
    * for an image/audio blob column. */
  def blobs(spark: SparkSession, dir: String): DataFrame =
    Feeds.table(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
              col("text"))

  /** Typed metadata extracted per payload (expression-only fast path). */
  def meta(spark: SparkSession, dir: String): DataFrame =
    blobs(spark, dir).select(
      col("doc_id"),
      length(col("payload")).cast("long").as("byte_len"),
      (lit(64) + length(col("payload")) % 577).cast("long").as("width"),
      (lit(64) + (length(col("payload")) * 31) % 433).cast("long").as("height"),
      (lit(1) + expr("length(payload) div 256")).cast("long").as("n_frames"))

  /** Frame sampling: one row per (doc, frame) with a deterministic frame
    * fingerprint — the shape of video-frame extraction. */
  def frames(spark: SparkSession, dir: String): DataFrame =
    meta(spark, dir)
      .select(col("doc_id"),
              explode(expr("sequence(0, CAST(n_frames - 1 AS INT))"))
                .as("frame_idx0"))
      .select(col("doc_id"), col("frame_idx0").cast("long").as("frame_idx"))
      .join(blobs(spark, dir).select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("frame_idx"),
              md5(concat(md5(col("text")), lit("#"),
                         col("frame_idx").cast("string"))).as("frame_fp"))

  /** Decoded-image schema used by the mapPartitions decode path. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("pixels", BinaryType, nullable = false)))

  /** STUB DECODE — deterministic fake in lieu of a real codec (none in this
    * container). Real implementation would replace `fakeDecode` only; the
    * partition-parallel batching, schema, and row plumbing are production
    * shape. */
  def decode(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    val rdd = blobs.select("doc_id", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val (w, h, c, px) = fakeDecode(payload)
        Row(id, w, h, c, px)
      }
    }
    spark.createDataFrame(rdd, decodedSchema)
  }

  /** Deterministic fake codec: 8×8 single-channel "image" whose pixels are
    * a repeating slice of the payload. */
  private def fakeDecode(payload: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    val w = 8; val h = 8; val c = 1
    val px = Array.tabulate[Byte](w * h * c) { i =>
      if (payload.isEmpty) 0 else payload(i % payload.length)
    }
    (w, h, c, px)
  }

  /** Output schema of [[features]]: an ANN-ready integer vector per doc. */
  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("fv", ArrayType(LongType, containsNull = false),
                nullable = false)))

  /** FEATURE EXTRACTION over decoded images — the partition-parallel stage
    * a real vision encoder would occupy (swap the histogram for a model
    * forward pass; batching, schema and row plumbing stay identical): a
    * 16-bin byte histogram per image, deterministic, emitted as an
    * integer vector that drops straight into the ANN stack
    * ([[graft.ops.Vectors.quantizedOf]]-shaped: any dimensionality works —
    * the composition is spec-asserted in VectorsMultimodalSpec). Payload
    * bytes never leave the executor; the output is 16 longs per doc. */
  def features(decoded: DataFrame): DataFrame = {
    val spark = decoded.sparkSession
    val rdd = decoded.select("doc_id", "pixels").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val px = r.getAs[Array[Byte]](1)
        val hist = new Array[Long](16)
        px.foreach(b => hist((b & 0xff) / 16) += 1)
        Row(id, hist.toSeq)
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** CONTENT-chunk fingerprints: the payload sliced into fixed 256-byte
    * windows, one md5 per slice — the video-frame / audio-segment
    * perceptual-hash stand-in ([[frames]]' fingerprint derives from the
    * WHOLE payload, so only exact dups collide; these collide per shared
    * SEGMENT, which is what frame-level video dedup actually keys on).
    * The payload is UTF-8-encoded ASCII text here, so char slices ≡ byte
    * slices and the oracle can mirror with substr — a real codec would
    * swap the slicer only. */
  def chunkFramesOf(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text"),
        expr("1 + (greatest(length(text), 1) - 1) DIV 256").as("n_chunks"))
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, CAST(n_chunks - 1 AS INT))")).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        md5(expr("substring(text, ci * 256 + 1, 256)")).as("chunk_fp"))

  /** Frame-level near-dup pairs: media whose payloads share ≥ `minShared`
    * content-chunk fingerprints — mirrored transcodes, re-uploads with
    * trailing edits, and prefix-padded copies that whole-file hashing
    * misses.
    *
    * Scale shape: the fp-bucket join is the LSH shape (collision-bounded,
    * never all-pairs), with the same giant-bucket guard as the MinHash
    * stack: a chunk shared by > `maxBucket` docs (an intro card, a
    * silence segment) would go quadratic, so its bucket is dropped from
    * pair formation — recall lost only on pairs whose EVERY shared chunk
    * is degenerate-common, which are boilerplate by definition. One
    * partial-agg per-pair count after the bucket join; `shared_chunks`
    * ≥ 2 prunes the accidental single-chunk collisions. */
  def frameDedupPairsOf(chunks: DataFrame, minShared: Long = 2L,
                        maxBucket: Int = 64): DataFrame = {
    val sized = chunks
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("chunk_fp")))
      .where(col("bsz") <= maxBucket)
      .select(col("doc_id"), col("chunk_fp")).distinct()
    sized.select(col("chunk_fp"), col("doc_id").as("doc_a"))
      .join(sized.select(col("chunk_fp"), col("doc_id").as("doc_b")),
            Seq("chunk_fp"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_chunks"))
      .where(col("shared_chunks") >= minShared)
  }

  /** Per-media duplicated-frame RATIO: the share of a payload's content
    * chunks whose fingerprint also appears in at least one OTHER document
    * — the per-asset media twin of [[graft.ops.TextOps.passageDupRatioOf]]
    * (a 90%-duplicated video is a re-upload with a new intro; 5% is a
    * shared title card). ppm is an exact integer DIV.
    *
    * Scale shape: one fp-keyed partial-agg distinct-doc count, one join
    * back on the fp key (collision-bounded), one per-doc rollup. */
  def frameDupRatioOf(chunks: DataFrame): DataFrame = {
    val fpDocs = chunks.groupBy("chunk_fp")
      .agg(countDistinct("doc_id").as("nd"))
    chunks.join(fpDocs, Seq("chunk_fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
           sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_frames"))
      .withColumn("dup_ppm",
        expr("CAST(n_dup_frames * 1000000 DIV n_frames AS BIGINT)"))
  }

  /** Media SIZE histogram: payload bytes in power-of-2 buckets with
    * doc/byte/frame totals per bucket — the storage-planning card a
    * multimodal ingest publishes (how much of the corpus is thumbnails
    * vs. hour-long video decides shard sizing and decode parallelism
    * before any codec runs).
    *
    * Scale shape: bucket assignment is map-side on the metadata frame
    * (no payload bytes move — only their lengths), one partial-agg
    * groupBy on a ~30-value bucket key. */
  def sizeHistOf(meta: DataFrame): DataFrame =
    meta
      .select(ilog2(greatest(col("byte_len"), lit(1))).as("bucket"),
              col("byte_len"), col("n_frames"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
           sum("byte_len").cast("long").as("sum_bytes"),
           sum("n_frames").cast("long").as("sum_frames"))

  /** NEAR-dup frame pairs via 4-gram SimHash + pigeonhole banding — the
    * tolerance tier above [[frameDedupPairsOf]]'s exact-chunk match:
    * catches re-encoded/slightly-edited frames whose bytes differ but
    * whose content fingerprint sits within 3 bit flips (the video
    * re-upload / transcode case; here exercised on the synthesized text
    * payload slices, with the real codec decode an environment stub).
    * Output grain: (doc_a, doc_b, n_near_frames) over DISTINCT document
    * pairs, intra-document frame echoes excluded.
    *
    * Scale shape: per-frame SimHash is the map-side codegen kernel over
    * the frame's distinct 4-grams; candidate pairs reuse the dedup
    * stack's hamming banding ([[Dedup.simhashPairsOf]] — distinct-value
    * buckets, never all-pairs); the rollup is one partial-agg groupBy.
    * The frame key packs (doc_id, chunk_idx) as doc_id·10⁵ + idx —
    * collision-free for the ≤10⁵-frame payloads here; a production run
    * keys frames by a struct instead. */
  /** denseGate 8192, not the doc-level default 4096: frame-hash buckets
    * count distinct VALUES (632 at sf0.1, ~5k at the 8× probe tier — the
    * 32-bit space fills linearly with frames), and the gate's job is to
    * stop O(bucket²) value-pair work one binary order above the measured
    * probe tier, not to fail the probe itself. Past it, the answer is
    * the guarded clustered sibling ([[frameNearDupClustersOf]]) or wider
    * hashing — the raise says so. */
  def frameNearDupOf(documents: DataFrame,
                     denseGate: Int = 8192): DataFrame =
    Dedup.simhashPairsOf(frameSimhashOf(documents), denseGate = denseGate)
      .select(expr("CAST(doc_a DIV 100000 AS BIGINT)").as("doc_a"),
              expr("CAST(doc_b DIV 100000 AS BIGINT)").as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_near_frames"))

  /** Per-frame 4-gram SimHash32 — shared by the exact pair list and the
    * guarded clustered form. Column names follow the dedup stack's
    * (doc_id = frame key, simhash). */
  private[ops] def frameSimhashOf(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text"),
        expr("1 + (greatest(length(text), 1) - 1) DIV 256").as("n_chunks"))
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, CAST(n_chunks - 1 AS INT))")).as("ci"))
      .select(
        (col("doc_id") * lit(100000L) + col("ci").cast("long")).as("fid"),
        expr("substring(text, CAST(ci * 256 + 1 AS INT), 256)").as("c"))
      .select(col("fid").as("doc_id"),
        graft.expr.SimHashN(
          expr("transform(sequence(1, greatest(length(c) - 3, 1)), " +
               "i -> substring(c, i, 4))"), 32).as("simhash"))

  /** GUARDED frame-near-dup CLUSTERS — the production entry the exact
    * pair list ([[frameNearDupOf]]) is the oracle baseline for (r13
    * verdict task 1). The pair list's output is quadratic in clone-group
    * size BY DEFINITION (a group of B re-uploads is C(B,2) pairs — the
    * 64× probe measured ratio 63 on it); what a curation pipeline
    * actually consumes is the clone GROUPS, which are linear. This form
    * rides [[Dedup.hammingSpanningEdgesOf]] — within-hash-group stars +
    * one rep edge per near-hash value pair, `maxBucket` star degradation
    * in value space — then star-contraction CC, emitting (cluster,
    * n_docs) per near-dup document family. Components equal the exact
    * pair list's whenever no (band, chunk) bucket exceeds `maxBucket`
    * distinct values (spanning-edge contract in the Scaladoc there);
    * over it the deterministic value-space star degradation applies —
    * live at sf0.1, where 14 of the 1024 buckets exceed 256 and the
    * oracle mirrors the same degradation (195 families vs the exact
    * graph's 166). Only the pair enumeration is dropped either way.
    *
    * Scale shape: every stage is collision-bounded (distinct-value
    * buckets capped at `maxBucket`) or linear (stars, rep edges, CC
    * rounds over the spanning set) — nothing grows with clone-group². */
  def frameNearDupClustersOf(documents: DataFrame,
                             maxBucket: Int = 256): DataFrame = {
    // hammingSpanningEdgesOf returns an eagerly-checkpointed edge list
    // (tracked in the memo registry), so BOTH consumers
    // below — the nodes derivation and clustersFastOf's canonical-edge
    // checkpoint — re-read its blocks through this cheap projection; the
    // banded bucket join runs exactly once (r14 advice).
    val edges = Dedup.hammingSpanningEdgesOf(
        frameSimhashOf(documents), "simhash", chunkBits = 8,
        maxHamming = 3, maxBucket = maxBucket)
      .select(expr("CAST(doc_a DIV 100000 AS BIGINT)").as("doc_a"),
              expr("CAST(doc_b DIV 100000 AS BIGINT)").as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
    val nodes = edges.select(col("doc_a").as("doc_id"))
      .unionAll(edges.select(col("doc_b").as("doc_id"))).distinct()
    Dedup.clustersFastOf(nodes, edges)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_docs"))
  }

  def frameNearDupClusters(spark: SparkSession, dir: String): DataFrame =
    // r18: memoized — the banding + spanning-edge + star-contraction
    // pipeline runs eagerly at construction (checkpoint-backed, its
    // checkpoints tracked with this grain), so without the memo every
    // call re-runs the whole build (the same r4 recompute class the
    // text-side cluster frames already guard against).
    graft.Caches.grain(spark, dir, "multimodal.frame-clusters") {
      frameNearDupClustersOf(Feeds.table(spark, dir, "documents"))
    }

}
