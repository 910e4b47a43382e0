package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.VectorOps

/**
 * Streaming maintenance for the persisted ANN indexes — the embeddings
 * counterpart of [[DocStream.indexIngestRun]]: a feed of
 * freshly-embedded vectors (nightly encoder output landing in a drop
 * directory) keeps a [[graft.operators.VectorOps.buildIvfIndex]] or
 * [[graft.operators.VectorOps.buildIvfPqIndex]] index current with no
 * batch scheduler in the loop —
 * `StreamDrain.run(feed, ckpt)(VectorOps.appendToIvfIndex(_, path))`,
 * FAISS `add` per micro-batch. Replay semantics are stated on the
 * append operators. This object holds the two certs of that path.
 */
object VecStream {

  private val embeddingFeed = Seq(col("vec_id").cast("long").as("vec_id"),
    col("embedding").cast("array<float>").as("embedding"))

  /**
   * Structural self-check of the streaming IVF ingest
   * ([[StreamDrain.ingestCheck]]): the 16-cell index is built from the
   * EVEN vec_ids (codebook trained there, then FROZEN), the odd vec_ids
   * stream through `VectorOps.appendToIvfIndex` as two strictly-ordered
   * micro-batches, and the FINAL on-disk index must be row-identical to
   * a batch replay appending the same increments — stored (vec_id,
   * cluster) assignments (certifying the stream assigned by the frozen
   * codebook, not a retrain) and the codebook itself, rows lost or
   * gained. Violations: `vectors_missing`, `vectors_extra`,
   * `codebook_drift`, `empty_index`.
   */
  def ivfIngestCheck(spark: SparkSession, dir: String): DataFrame =
    StreamDrain.ingestCheck(spark, dir, "ivfingest", "embeddings.parquet",
      embeddingFeed,
      emb => (emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 4 === 1),
        emb.filter(col("vec_id") % 4 === 3)),
      VectorOps.buildIvfIndex(_, _, nCentroids = 16, iters = 2),
      VectorOps.appendToIvfIndex,
      (b, idx) => if (!b.isEmpty) VectorOps.appendToIvfIndex(b, idx), Seq(
        StreamDrain.Twin("vectors", Seq(
          col("vec_id").cast("long").as("vec_id"),
          col("cluster").cast("long").as("cluster")),
          "vectors_missing", "vectors_extra"),
        StreamDrain.Twin("centroids", Seq(col("centroid_id"), col("qc")),
          "codebook_drift")))

  /**
   * [[ivfIngestCheck]]'s IVFADC twin: the first half of the vec_ids at
   * build (both codebooks trained there — m = 8, 16 sub-centroids, 16
   * cells — then FROZEN), the second half streamed through
   * `VectorOps.appendToIvfPqIndex` as two strictly-ordered
   * micro-batches, final index row-identical to the batch replay —
   * stored (vec_id, cluster, codes) triples certify the stream ENCODED
   * by the frozen sub-quantizers and assigned by the frozen cells, and
   * both codebook tables must match whole. Violations: `codes_missing`,
   * `codes_extra`, `pq_book_drift`, `centroid_drift`, `empty_index`.
   */
  def ivfPqIngestCheck(spark: SparkSession, dir: String): DataFrame =
    StreamDrain.ingestCheck(spark, dir, "ivfpqingest", "embeddings.parquet",
      embeddingFeed,
      { emb =>
        // first-HALF base (the ivfpq_index_incr split): pqCodebook
        // seeds from vec_id < kCent, so the build split must hold them
        val half = emb.count() / 2
        require(half >= 16, s"ivfPqIngestCheck: corpus too small ($half)")
        val rest = emb.filter(col("vec_id") >= half)
        (emb.filter(col("vec_id") < half),
          rest.filter(col("vec_id") % 2 === 0),
          rest.filter(col("vec_id") % 2 === 1))
      },
      VectorOps.buildIvfPqIndex(_, _, m = 8, kCent = 16, nCentroids = 16),
      VectorOps.appendToIvfPqIndex,
      (b, idx) => if (!b.isEmpty) VectorOps.appendToIvfPqIndex(b, idx),
      Seq(
        StreamDrain.Twin("codes", Seq(
          col("vec_id").cast("long").as("vec_id"),
          col("cluster").cast("long").as("cluster"), col("codes")),
          "codes_missing", "codes_extra"),
        StreamDrain.Twin("pq_book", Seq(col("*")), "pq_book_drift"),
        StreamDrain.Twin("centroids", Seq(col("*")), "centroid_drift")))
}
