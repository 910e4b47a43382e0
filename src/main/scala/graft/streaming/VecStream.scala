package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.VectorOps

/**
 * Streaming maintenance for the persisted ANN indexes — the
 * embeddings counterpart of [[DocStream.indexIngestRun]] /
 * [[DocStream.bm25IngestRun]], closing the lifecycle-as-a-stream
 * story for the third index family (r16): a feed of freshly-embedded
 * vectors (nightly encoder output landing in a drop directory) keeps
 * a [[graft.operators.VectorOps.buildIvfIndex]] index current with no
 * batch scheduler in the loop.
 */
object VecStream {

  /** Explicit feed schema (streaming file sources cannot infer). */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /**
   * The STREAMING IVF-index ingest runner: each micro-batch appends
   * through [[graft.operators.VectorOps.appendToIvfIndex]] — FAISS
   * `add` per batch: the frozen codebook assigns map-side and the new
   * vectors land under their cells' part directories; nothing
   * existing moves, so concurrent probe-time readers stay correct
   * (they may just not see the newest batch yet — the usual
   * read-committed freshness of a file-based index).
   *
   * Semantics note: `foreachBatch` is at-least-once — a crash/restart
   * REPLAYS a batch, appending byte-identical (vec_id, cluster,
   * embedding) rows, and a DEFAULT probe read then ranks the
   * duplicated neighbor twice (ADVICE r16 — stated plainly: replayed
   * batches degrade topK until repaired). The recovery pair: query
   * with [[graft.operators.VectorOps.ivfIndexTopK]]'s
   * `absorbReplays = true` (rank-window dedup; trades the partial
   * window limit's k-bounded shuffle) from the crash until
   * [[graft.operators.VectorOps.rebuildIvfIndexPointer]] purges the
   * duplicates from disk. What neither absorbs: a feed that re-keys
   * an existing vec_id to CHANGED embedding bytes — that is an
   * update, not a replay, and is unsupported (both rows rank).
   * Quantization drift under a shifting corpus is the documented
   * trade — monitor with
   * [[graft.operators.VectorOps.ivfIndexStats]]; re-train =
   * [[graft.operators.VectorOps.rebuildIvfIndexPointer]]. Appends serialize
   * through the single writer. Blocks until the AvailableNow drain
   * finishes; the query is stopped before a timeout surfaces.
   */
  def ivfIngestRun(stream: DataFrame, indexPath: String,
      checkpoint: String, timeoutMs: Long = 300000L): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) VectorOps.appendToIvfIndex(b.toDF(), indexPath))
      .start()
    val done =
      try q.awaitTermination(timeoutMs)
      finally if (q.isActive) q.stop()
    require(done, s"ivfIngestRun: drain did not finish in $timeoutMs ms")
  }

  private val ivfIngestStaged =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /**
   * Structural self-check of the streaming IVF ingest (all-zeros
   * pattern, the [[DocStream.indexIngestCheck]] discipline): the
   * index is built from the EVEN vec_ids (codebook trained there,
   * then FROZEN), the odd vec_ids stream through [[ivfIngestRun]] as
   * two strictly-ordered micro-batches (one file each, pinned mtimes,
   * `maxFilesPerTrigger = 1`), and the FINAL on-disk index must be
   * row-identical to a batch replay appending the same increments —
   * stored (vec_id, cluster) assignments (certifying the stream
   * assigned by the frozen codebook, not a retrain) and the codebook
   * itself byte-for-byte. Violations: `vectors_missing`,
   * `vectors_extra`, `codebook_drift`, `empty_index`.
   */
  def ivfIngestCheck(spark: SparkSession, dir: String,
      workDir: String = "/tmp/graft_stream_ivfingest",
      timeoutMs: Long = 300000L): DataFrame = {
    val tag = java.lang.Long.toHexString(
      dir.hashCode.toLong & 0xffffffffL)
    val root = s"$workDir/$tag"
    ivfIngestStaged.synchronized {
      if (!ivfIngestStaged.contains(root)) {
        stageIvfIngest(spark, dir, root, timeoutMs)
        ivfIngestStaged.add(root)
      }
    }
    def vecs(p: String) = spark.read.parquet(s"$p/vectors")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("cluster").cast("long").as("cluster"))
    def book(p: String) = spark.read.parquet(s"$p/centroids")
      .select(col("centroid_id"), col("qc"))
    val sv = vecs(s"$root/idx_stream")
    val bv = vecs(s"$root/idx_batch")
    bv.exceptAll(sv)
      .agg(count(lit(1)).cast("long").as("vectors_missing"))
      .crossJoin(sv.exceptAll(bv)
        .agg(count(lit(1)).cast("long").as("vectors_extra")))
      .crossJoin(book(s"$root/idx_stream")
        .exceptAll(book(s"$root/idx_batch"))
        .agg(count(lit(1)).cast("long").as("codebook_drift")))
      .crossJoin(sv.agg(
        (count(lit(1)) === 0).cast("long").as("empty_index")))
  }

  /**
   * The IVF-PQ twin's streaming ingest runner — identical foreachBatch
   * mechanics to [[ivfIngestRun]], appending through
   * [[graft.operators.VectorOps.appendToIvfPqIndex]]: BOTH codebooks
   * (coarse cells and the PQ sub-quantizers) stay frozen, new vectors
   * assign + encode map-side and land as m-int codes under their
   * cells' part directories. Same at-least-once story: replayed
   * batches re-append byte-identical code rows that degrade a
   * default probe read's topK until repaired — query
   * [[graft.operators.VectorOps.ivfPqIndexTopK]] with
   * `absorbReplays = true` from the crash until
   * [[graft.operators.VectorOps.rebuildIvfPqIndexPointer]] purges them;
   * re-keyed (changed-embedding) vec_ids are unsupported.
   */
  def ivfPqIngestRun(stream: DataFrame, indexPath: String,
      checkpoint: String, timeoutMs: Long = 300000L): Unit = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) VectorOps.appendToIvfPqIndex(b.toDF(), indexPath))
      .start()
    val done =
      try q.awaitTermination(timeoutMs)
      finally if (q.isActive) q.stop()
    require(done, s"ivfPqIngestRun: drain did not finish in $timeoutMs ms")
  }

  private val ivfPqIngestStaged =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /**
   * [[ivfIngestCheck]]'s IVFADC twin (all-zeros pattern): even vec_ids
   * at build (both codebooks trained there, then FROZEN), odd vec_ids
   * streamed as two strictly-ordered micro-batches, final index
   * row-identical to the batch replay — stored (vec_id, cluster,
   * codes) triples certify the stream ENCODED by the frozen
   * sub-quantizers and assigned by the frozen cells, and both
   * codebook tables must be byte-identical. Violations:
   * `codes_missing`, `codes_extra`, `pq_book_drift`,
   * `centroid_drift`, `empty_index`.
   */
  def ivfPqIngestCheck(spark: SparkSession, dir: String,
      workDir: String = "/tmp/graft_stream_ivfpqingest",
      timeoutMs: Long = 300000L): DataFrame = {
    val tag = java.lang.Long.toHexString(
      dir.hashCode.toLong & 0xffffffffL)
    val root = s"$workDir/$tag"
    ivfPqIngestStaged.synchronized {
      if (!ivfPqIngestStaged.contains(root)) {
        stageIvfPqIngest(spark, dir, root, timeoutMs)
        ivfPqIngestStaged.add(root)
      }
    }
    def codes(p: String) = spark.read.parquet(s"$p/codes")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("cluster").cast("long").as("cluster"), col("codes"))
    // symmetric frame diffs, schema-agnostic (the codebook tables'
    // exact columns are the builders' concern, not the cert's)
    def drift(sub: String, as: String) = {
      val s = spark.read.parquet(s"$root/idx_stream/$sub")
      val b = spark.read.parquet(s"$root/idx_batch/$sub")
      s.exceptAll(b).unionByName(b.exceptAll(s))
        .agg(count(lit(1)).cast("long").as(as))
    }
    val sc = codes(s"$root/idx_stream")
    val bc = codes(s"$root/idx_batch")
    bc.exceptAll(sc)
      .agg(count(lit(1)).cast("long").as("codes_missing"))
      .crossJoin(sc.exceptAll(bc)
        .agg(count(lit(1)).cast("long").as("codes_extra")))
      .crossJoin(drift("pq_book", "pq_book_drift"))
      .crossJoin(drift("centroids", "centroid_drift"))
      .crossJoin(sc.agg(
        (count(lit(1)) === 0).cast("long").as("empty_index")))
  }

  /** [[ivfPqIngestCheck]]'s one-time staging, mirroring
    * [[stageIvfIngest]] with the IVFADC build/append pair. */
  private def stageIvfPqIngest(spark: SparkSession, dir: String,
      root: String, timeoutMs: Long): Unit = {
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete(): Unit
    }
    rmrf(new java.io.File(root))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // first-HALF base (the ivfpq_index_incr split): pqCodebook seeds
    // from vec_id < kCent, so the build split must contain them all
    val half = emb.count() / 2
    require(half >= 16, s"ivfPqIngestCheck: corpus too small ($half)")
    val base = emb.filter(col("vec_id") < half)
    val inc1 = emb.filter(col("vec_id") >= half &&
      col("vec_id") % 2 === 0)
    val inc2 = emb.filter(col("vec_id") >= half &&
      col("vec_id") % 2 === 1)
    VectorOps.buildIvfPqIndex(base, s"$root/idx_stream",
      m = 8, kCent = 16, nCentroids = 16)
    VectorOps.buildIvfPqIndex(base, s"$root/idx_batch",
      m = 8, kCent = 16, nCentroids = 16)
    VectorOps.appendToIvfPqIndex(inc1, s"$root/idx_batch")
    VectorOps.appendToIvfPqIndex(inc2, s"$root/idx_batch")
    val feed = s"$root/feed"
    def dataFiles() = new java.io.File(feed).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
    inc1.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(feed)
    val t0 = 1700000000000L
    dataFiles().foreach(_.setLastModified(t0))
    inc2.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .coalesce(1).write.mode("append").parquet(feed)
    dataFiles().filter(_.lastModified() != t0)
      .foreach(_.setLastModified(t0 + 60000L))
    val src = spark.readStream
      .schema(embeddingsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    ivfPqIngestRun(src, s"$root/idx_stream", s"$root/ckpt", timeoutMs)
  }

  /** [[ivfIngestCheck]]'s one-time staging: clean slate, twin builds
    * on the even half, the sequential batch replay, the two-file
    * ordered feed of the odd half, and the stream drain. */
  private def stageIvfIngest(spark: SparkSession, dir: String,
      root: String, timeoutMs: Long): Unit = {
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete(): Unit
    }
    rmrf(new java.io.File(root))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val inc1 = emb.filter(col("vec_id") % 4 === 1)
    val inc2 = emb.filter(col("vec_id") % 4 === 3)
    VectorOps.buildIvfIndex(base, s"$root/idx_stream",
      nCentroids = 16, iters = 2)
    VectorOps.buildIvfIndex(base, s"$root/idx_batch",
      nCentroids = 16, iters = 2)
    VectorOps.appendToIvfIndex(inc1, s"$root/idx_batch")
    VectorOps.appendToIvfIndex(inc2, s"$root/idx_batch")
    val feed = s"$root/feed"
    def dataFiles() = new java.io.File(feed).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
    inc1.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(feed)
    val t0 = 1700000000000L
    dataFiles().foreach(_.setLastModified(t0))
    inc2.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .coalesce(1).write.mode("append").parquet(feed)
    dataFiles().filter(_.lastModified() != t0)
      .foreach(_.setLastModified(t0 + 60000L))
    val src = spark.readStream
      .schema(embeddingsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    ivfIngestRun(src, s"$root/idx_stream", s"$root/ckpt", timeoutMs)
  }
}
