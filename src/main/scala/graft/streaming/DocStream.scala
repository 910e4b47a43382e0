package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.{LayoutOps, TextOps}

/**
 * Streaming LLM-pipeline operators over a documents feed — the
 * Structured Streaming counterpart of `TextOps.dedupExact`: a training
 * corpus arriving continuously (crawl batches dropped into a directory)
 * is deduplicated by content hash as it lands.
 *
 * State is bounded by the watermark horizon via
 * `dropDuplicatesWithinWatermark`: a duplicate arriving within
 * `lateness` of the original is dropped, older state is evicted — the
 * property that makes exact dedup runnable on an unbounded stream,
 * where the batch operator's full-corpus groupBy cannot.
 */
object DocStream {

  /** Explicit feed schema (streaming file sources cannot infer):
    * the batch documents table plus the ingest event-time column the
    * watermark needs. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("ingest_ts", TimestampType)))

  /**
   * Exact-dedup stream: keep one document per content hash within the
   * watermark horizon. Emits the surviving documents with their hash
   * (append mode); duplicates inside `lateness` are suppressed.
   */
  def dedupStream(spark: SparkSession, dir: String,
      lateness: String = "10 minutes"): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .parquet(dir)
      .withColumn("text_sha256", sha2(col("text"), 256))
      .withWatermark("ingest_ts", lateness)
      .dropDuplicatesWithinWatermark("text_sha256")

  /** One (band, band_key) occurrence of a document on the stream. */
  case class BandEvent(bucket: String, doc_id: Long, sig: Seq[String],
      ingest_ts: java.sql.Timestamp)

  /** A detected near-duplicate: `est_jaccard` is the MinHash estimate
    * (fraction of agreeing signature components), not the exact value. */
  case class NearDupHit(doc_a: Long, doc_b: Long, band: Int,
      est_jaccard: Double)

  /** Per-bucket state: (doc_id, signature) of the members seen so far. */
  case class BucketState(members: List[(Long, Seq[String])])

  /**
   * Streaming NEAR-dup detection — the stateful counterpart of
   * `TextOps.nearDupPairs`: documents arriving on a stream are banded by
   * MinHash LSH, and each (band, band_key) bucket keeps its members'
   * SIGNATURES in `flatMapGroupsWithState` state. A new arrival is
   * compared against its bucket's members sketch-to-sketch (fraction of
   * agreeing minhash components estimates Jaccard), so state stays
   * O(members x numHashes) — shingle sets never enter state.
   *
   * Bounded-state guarantees: buckets idle past `stateTtlMs` are evicted
   * via event-time timeout (pair `stateTtlMs` with the `lateness`
   * watermark), and `maxPerBucket` caps membership — the mass-duplicate
   * guard; once a bucket is full, new arrivals still MATCH against the
   * stored members but are not added.
   *
   * The same pair can surface from several bands (standard LSH); emitted
   * hits carry the band so consumers can `dropDuplicates("doc_a",
   * "doc_b")` in a downstream stage or sink.
   *
   * `docs` must be a STREAMING DataFrame with the [[documentsSchema]]
   * columns (tests inject a MemoryStream; production uses
   * [[nearDupStream]] below).
   */
  def nearDupPairsStream(docs: DataFrame, k: Int = 3, numHashes: Int = 12,
      bands: Int = 4, threshold: Double = 0.8,
      lateness: String = "10 minutes",
      stateTtlMs: Long = 10L * 60 * 1000,
      maxPerBucket: Int = 64): Dataset[NearDupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = numHashes / bands
    require(bands * rows == numHashes, "numHashes must divide into bands")
    graft.functions.ensureRegistered(spark)
    val events = docs
      .withColumn("sig", graft.functions.minhash_signature(
        TextOps.shingles(col("text"), k), numHashes))
      .withWatermark("ingest_ts", lateness)
      .select(col("doc_id"), col("sig"), col("ingest_ts"),
        posexplode(TextOps.bandKeys(col("sig"), bands, rows))
          .as(Seq("band", "band_key")))
      .select(concat(col("band"), lit("|"), col("band_key")).as("bucket"),
        col("doc_id"), col("sig"), col("ingest_ts"))
      .as[BandEvent]
    events.groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(
        processBucket(threshold, numHashes, maxPerBucket, stateTtlMs))
  }

  /**
   * At-ingest INCREMENTAL near-dup — the stream-static twin of
   * [[graft.operators.TextOps.nearDupAgainstIndex]]: documents arriving
   * on a stream are shingled, signed, and banded map-side, then joined
   * against the PERSISTED MinHash index
   * ([[graft.operators.TextOps.buildMinhashIndex]]) — the standing
   * "does this crawl batch duplicate the accumulated corpus" query.
   * Both joins are STREAM-STATIC (stateless): the bands table and the
   * candidate shingle fetch re-plan per micro-batch, so the optimizer
   * broadcasts the (small) batch side against the (corpus-sized) index
   * scan — the index is never collected or broadcast. The only state
   * is the watermark-windowed (doc, ref) collapse (band multiplicity —
   * a pair matching in 3 bands is one hit) and the redelivery dedup.
   *
   * Same `lateness` contract as [[contaminationStream]]: the
   * `dropDuplicatesWithinWatermark` retention IS the redelivery-dedup
   * horizon. Output: one `(window_start, doc_id, ref_id, jaccard)` row
   * per flagged pair when its window closes; jaccard is the exact
   * verified value (6 dp), identical to the batch operator's.
   */
  def nearDupIndexStream(docs: DataFrame, indexPath: String, k: Int = 3,
      numHashes: Int = 12, bands: Int = 4, threshold: Double = 0.8,
      maxBucketSize: Int = 0,
      windowLength: String = "10 minutes",
      lateness: String = "1 minute"): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.ensureRegistered(spark)
    val rows = numHashes / bands
    require(bands * rows == numHashes, "numHashes must divide into bands")
    // same manifest contract as the batch query (ADVICE r13): a
    // build/query parameter mismatch silently streams zero matches —
    // duplicates flowing through an at-ingest dedup gate — so refuse it
    TextOps.requireIndexParams(spark, indexPath, k, numHashes, bands,
      "nearDupIndexStream")
    val idx = LayoutOps.indexScan(spark, s"$indexPath/bands")
    val refOk =
      if (maxBucketSize <= 0) idx
      else idx.filter(col("bn") <= maxBucketSize)
    val shRef = LayoutOps.indexScan(spark, s"$indexPath/shingles")
      .select(col("ref_id"), col("sh").as("sh_r"))
    docs
      .withWatermark("ingest_ts", lateness)
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id").cast("long").as("doc_id"), col("ingest_ts"),
        TextOps.shingles(col("text"), k).as("sh_d"))
      .select(col("doc_id"), col("ingest_ts"), col("sh_d"),
        posexplode(TextOps.bandKeys(
          graft.functions.minhash_signature(col("sh_d"), numHashes),
          bands, rows)).as(Seq("band", "band_key")))
      .join(refOk, Seq("band", "band_key"))
      .join(shRef, Seq("ref_id"))
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_d"), col("sh_r"))).cast("double") /
          size(array_union(col("sh_d"), col("sh_r"))), 6))
      .filter(col("jaccard") >= threshold)
      .groupBy(window(col("ingest_ts"), windowLength), col("doc_id"),
        col("ref_id"))
      // every duplicate row carries the SAME verified jaccard (band
      // multiplicity only) — max is the order-free collapse
      .agg(max(col("jaccard")).as("jaccard"))
      .select(col("window.start").as("window_start"), col("doc_id"),
        col("ref_id"), col("jaccard"))
  }

  /**
   * Structural self-check of [[nearDupIndexStream]] against the batch
   * index query (all-zeros pattern): the index is built from the eval
   * split, the train split streams against it, and the emitted hit set
   * must EXACTLY equal `TextOps.nearDupAgainstIndex` on the same
   * splits — both paths verify with the same 6 dp jaccard, so equality
   * is exact. Violations: `missing_pair`, `extra_pair`, `bad_jaccard`,
   * `dup_pair` (one pair in two windows), `empty_stream`.
   */
  def nearDupIndexCheck(spark: SparkSession, dir: String, k: Int = 3,
      numHashes: Int = 12, bands: Int = 4, threshold: Double = 0.5,
      feedDir: String = "/tmp/graft_stream_mhidx_feed",
      timeoutMs: Long = 300000L): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.filter(col("doc_id") % 25 =!= 0)
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val idxPath = s"$feedDir-idx"
    TextOps.buildMinhashIndex(eval, idxPath, k, numHashes, bands)
    val hits = StreamDrain.once(spark, "graft_stream_mhidx_check",
        s"$dir|$k|$numHashes|$bands|$threshold|$feedDir", timeoutMs,
        Seq(s"$dir/documents.parquet")) {
      writeFeed(train, feedDir, withSentinel = true)
      nearDupIndexStream(
        spark.readStream.schema(documentsSchema).parquet(feedDir),
        idxPath, k, numHashes, bands, threshold)
    }.select(col("doc_id"), col("ref_id"), col("jaccard").as("s_jac"))
    val batch = TextOps.nearDupAgainstIndex(train, idxPath, k, numHashes,
        bands, threshold)
      .select(col("doc_id"), col("ref_id"), col("jaccard").as("b_jac"))
    val joined = batch.join(hits, Seq("doc_id", "ref_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("s_jac").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("missing_pair"),
        coalesce(sum(when(col("b_jac").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("extra_pair"),
        coalesce(sum(when(col("b_jac").isNotNull && col("s_jac").isNotNull
          && col("b_jac") =!= col("s_jac"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("bad_jaccard"))
    val dup = hits.groupBy(col("doc_id"), col("ref_id"))
      .agg(count(lit(1)).as("nw"))
      .agg(coalesce(sum(when(col("nw") > 1, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("dup_pair"))
    val empty = hits.agg(
      (count(lit(1)) === 0).cast("long").as("empty_stream"))
    joined.crossJoin(dup).crossJoin(empty)
  }

  /**
   * ONE increment of the accumulated-index INGEST LOOP — the step the
   * daily pipeline repeats, shared verbatim by the streaming runner
   * ([[indexIngestRun]]'s foreachBatch) and the batch replay the check
   * compares against, so stream and batch literally execute the same
   * code against the same index operators:
   *
   *  1. flag the batch against the CURRENT index
   *     ([[graft.operators.TextOps.nearDupAgainstIndex]]) and drop
   *     flagged docs — cross-increment dedup;
   *  2. near-dup cluster the survivors IN-BATCH
   *     ([[graft.operators.TextOps.nearDupClustersMinhash]], same
   *     banded semantics) and keep cluster minima — in-increment
   *     dedup, so the appended set is self-deduplicated;
   *  3. append the keepers ([[graft.operators.TextOps
   *     .appendToMinhashIndex]]) — increment N's keepers are part of
   *     the index increment N+1 flags against.
   *
   * EAGER (runs jobs and mutates the index at `indexPath`); parameters
   * k/numHashes/bands are checked against the index manifest by the
   * operators it composes. Idempotence is NOT provided here — exactly-
   * once sits with the caller's checkpointing (the streaming runner
   * documents the semantics).
   */
  def ingestIncrement(batch: DataFrame, indexPath: String, k: Int = 3,
      numHashes: Int = 12, bands: Int = 4,
      threshold: Double = 0.8): Unit =
    graft.operators.Caches.scoped {
      // Caches.persist, not raw .persist (ADVICE r18): the scoped block
      // unpersists both frames on exit, a mid-batch throw included —
      // under streaming retries raw persists leaked two cached frames
      // per failed micro-batch
      val b = graft.operators.Caches.persist(batch
        .select(col("doc_id").cast("long").as("doc_id"), col("text")))
      // emptiness is tested on the persisted frame, so the test fills
      // the cache and the source is read once (a raw-batch isEmpty
      // read it a second time)
      if (!b.isEmpty) {
        val flagged = TextOps.nearDupAgainstIndex(b, indexPath, k,
          numHashes, bands, threshold).select(col("doc_id")).distinct()
        val fresh = graft.operators.Caches.persist(
          b.join(flagged, Seq("doc_id"), "left_anti"))
        val losers = TextOps
          .nearDupClustersMinhash(fresh, k, numHashes, bands, threshold)
          .filter(col("is_keeper") === 0).select(col("doc_id"))
        val keepers = fresh.join(losers, Seq("doc_id"), "left_anti")
        TextOps.appendToMinhashIndex(keepers, indexPath)
      }
    }

  /**
   * The STREAMING index-ingest runner: drives [[ingestIncrement]] from
   * a documents stream via `foreachBatch` — each micro-batch is one
   * increment of the daily loop, deduplicated against everything
   * already accepted (the pre-built corpus index PLUS every earlier
   * batch's keepers) and appended. This closes the persisted-index
   * lifecycle: build once ([[graft.operators.TextOps
   * .buildMinhashIndex]]), then a drop-directory of crawl files keeps
   * the index current with NO batch scheduler in the loop.
   *
   * Semantics note (explicit): `foreachBatch` is at-least-once on
   * failure/restart — a replayed batch re-flags against an index that
   * already contains its keepers, so every replayed doc flags as a
   * self-duplicate (jaccard 1.0) and the append degenerates to a
   * no-op for them. That self-flagging holds at FULL-APPEND
   * granularity only (ADVICE r14): it requires the prior attempt's
   * append to have COMPLETED (both the shingle and band writes).
   * A crash INSIDE [[graft.operators.TextOps.appendToMinhashIndex]]
   * leaves shingles-without-bands — docs that do not yet self-flag —
   * and the retry re-appends them; the append's write ordering makes
   * that recovery exact (bn stays correct, the duplicated shingle
   * rows are absorbed query-side — see its crash-semantics scaladoc).
   * A batch split differently on retry is likewise not guaranteed
   * identical (orchestration concern, same as any foreachBatch sink).
   * Appends are serialized by the single writer — the engine-side
   * rule on [[graft.operators.TextOps.appendToMinhashIndex]].
   *
   * Blocks until the AvailableNow drain finishes; a production caller
   * wanting a continuous trigger can lift [[StreamDrain.run]]'s body —
   * it is three lines.
   */
  def indexIngestRun(stream: DataFrame, indexPath: String,
      checkpoint: String, k: Int = 3, numHashes: Int = 12,
      bands: Int = 4, threshold: Double = 0.8,
      timeoutMs: Long = 300000L): Unit =
    StreamDrain.run(stream, checkpoint, timeoutMs)(
      ingestIncrement(_, indexPath, k, numHashes, bands, threshold))

  /** The reference split (every 25th doc) and two disjoint train
    * increments the document-index ingest certs stage from. */
  private def docSplit(docs: DataFrame) = {
    val train = col("doc_id") % 25 =!= 0
    (docs.filter(col("doc_id") % 25 === 0),
      docs.filter(train && col("doc_id") % 4 === 1),
      docs.filter(train && col("doc_id") % 4 === 3))
  }

  private val docFeed = Seq(col("doc_id").cast("long").as("doc_id"),
    col("text"))

  /**
   * Structural self-check of the streaming ingest loop
   * ([[StreamDrain.ingestCheck]]): the corpus index (k = 3, 12 hashes,
   * 4 bands) is built from the eval split, two disjoint train
   * increments stream through [[ingestIncrement]] at threshold 0.5 as
   * two strictly-ordered micro-batches, and the FINAL index must be
   * row-identical to a batch replay calling [[ingestIncrement]] on the
   * same increments in the same order — bands (including every
   * maintained bn) and shingle sets both ways. The second batch is the
   * load-bearing one: its flags must see the FIRST batch's keepers,
   * which only happens if the foreachBatch append really landed.
   * Violations: `bands_missing`, `bands_extra`, `shingles_missing`,
   * `shingles_extra`, `empty_index`.
   */
  def indexIngestCheck(spark: SparkSession, dir: String): DataFrame = {
    def step(b: DataFrame, idx: String) =
      ingestIncrement(b, idx, 3, 12, 4, 0.5)
    StreamDrain.ingestCheck(spark, dir, "idxingest", "documents.parquet",
      docFeed, docSplit, TextOps.buildMinhashIndex(_, _, 3, 12, 4),
      step, step, Seq(
        StreamDrain.Twin("bands", Seq(col("ref_id"), col("band"),
          col("band_key"), col("bn")), "bands_missing", "bands_extra"),
        StreamDrain.Twin("shingles", Seq(col("ref_id"),
          array_sort(col("sh")).as("sh")),
          "shingles_missing", "shingles_extra")))
  }

  /**
   * One increment of the SIMHASH daily dedup loop (r18 — the
   * [[ingestIncrement]] discipline on the Hamming index): flag the
   * batch against everything already accepted
   * ([[graft.operators.TextOps.simhashAgainstIndex]]), drop in-batch
   * near-dups, append the keepers
   * ([[graft.operators.TextOps.appendToSimhashIndex]]). In-batch
   * keeper rule (deterministic, stated): a doc is dropped iff it
   * hamming-matches a SMALLER-id doc in the same batch —
   * [[graft.operators.TextOps.simhashPairs]]' `doc_b` side. This is
   * pairwise (near-dup is not transitive), unlike the minhash loop's
   * transitive-cluster keepers — the cheaper rule fits the cheaper
   * signal; chains that need one-keeper-per-cluster semantics should
   * run the minhash loop.
   *
   * As a stream, `StreamDrain.run(feed, ckpt)(simhashIngestIncrement(_,
   * path))` runs it once per micro-batch. `foreachBatch` is
   * at-least-once: a replayed COMPLETED batch re-flags its own keepers
   * at hamming 0 and degenerates to a no-op; a crash inside the append
   * recovers by the append's sigs-first write ordering (see
   * [[graft.operators.TextOps.appendToSimhashIndex]]). Appends are
   * serialized by the single writer.
   */
  def simhashIngestIncrement(batch: DataFrame, indexPath: String,
      maxHamming: Int = 8, bands: Int = 4): Unit =
    graft.operators.Caches.scoped {
      // Caches.persist, not raw .persist (ADVICE r18), and emptiness
      // tested on the persisted frame — see ingestIncrement
      val b = graft.operators.Caches.persist(batch
        .select(col("doc_id").cast("long").as("doc_id"), col("text")))
      if (!b.isEmpty) {
        val flagged = TextOps.simhashAgainstIndex(b, indexPath,
          maxHamming, bands).select(col("doc_id")).distinct()
        val fresh = graft.operators.Caches.persist(
          b.join(flagged, Seq("doc_id"), "left_anti"))
        val losers = TextOps.simhashPairs(fresh, maxHamming)
          .select(col("doc_b").as("doc_id")).distinct()
        val keepers = fresh.join(losers, Seq("doc_id"), "left_anti")
        TextOps.appendToSimhashIndex(keepers, indexPath)
      }
    }

  /**
   * Structural self-check of the streaming SimHash ingest
   * ([[StreamDrain.ingestCheck]], the [[indexIngestCheck]] split): the
   * 4-band index is built from the eval split, two disjoint train
   * increments stream through [[simhashIngestIncrement]] at hamming
   * <= 10 as two strictly-ordered micro-batches, and the FINAL on-disk
   * index must be row-identical to a sequential batch replay of the
   * SAME step — bands (including every maintained bn) and sig rows
   * both ways. The second batch is the load-bearing one: its flags
   * must see the first batch's keepers. Violations: `bands_missing`,
   * `bands_extra`, `sigs_missing`, `sigs_extra`, `empty_index`.
   */
  def simhashIngestCheck(spark: SparkSession, dir: String): DataFrame = {
    def step(b: DataFrame, idx: String) =
      simhashIngestIncrement(b, idx, 10, 4)
    StreamDrain.ingestCheck(spark, dir, "shingest", "documents.parquet",
      docFeed, docSplit, TextOps.buildSimhashIndex(_, _, 4), step, step,
      Seq(
        StreamDrain.Twin("bands", Seq(col("ref_id"), col("band"),
          col("chunk"), col("bn")), "bands_missing", "bands_extra"),
        StreamDrain.Twin("sigs", Seq(col("ref_id"), col("sig")),
          "sigs_missing", "sigs_extra")))
  }

  /**
   * Structural self-check of the streaming BM25 ingest
   * ([[StreamDrain.ingestCheck]], the [[indexIngestCheck]] split): the
   * index is built from the eval split, two disjoint train increments
   * stream through `TextOps.appendToBm25Index` as two strictly-ordered
   * micro-batches, and the FINAL on-disk index must be row-identical
   * to a sequential batch replay appending the same increments —
   * postings (term, doc_id, tf, dl), doclens, and the refreshed
   * (n_docs, sum_dl) stats, all both ways. Violations:
   * `postings_missing`, `postings_extra`, `doclens_missing`,
   * `doclens_extra`, `stats_mismatch`, `empty_index`.
   */
  def bm25IngestCheck(spark: SparkSession, dir: String): DataFrame =
    StreamDrain.ingestCheck(spark, dir, "bm25ingest", "documents.parquet",
      docFeed, docSplit, TextOps.buildBm25Index(_, _),
      TextOps.appendToBm25Index,
      (b, idx) => if (!b.isEmpty) TextOps.appendToBm25Index(b, idx), Seq(
        StreamDrain.Twin("postings", Seq(col("term"), col("doc_id"),
          col("tf"), col("dl")), "postings_missing", "postings_extra"),
        StreamDrain.Twin("doclens", Seq(col("doc_id"), col("dl")),
          "doclens_missing", "doclens_extra"),
        StreamDrain.Twin("stats", Seq(col("n_docs"), col("sum_dl")),
          "stats_mismatch")))

  /**
   * Streaming decontamination — the STREAM-STATIC join pattern:
   * documents arriving on a stream are shingled and joined against a
   * static benchmark gram index (broadcast; completely stateless join),
   * then a watermark-windowed aggregation counts shared grams per
   * (arriving doc, benchmark doc). Append mode emits flagged pairs once
   * their window closes — "alert when a crawl batch contains eval data"
   * as a standing query. The batch counterpart is
   * `TextOps.contamination`.
   *
   * Redelivery-dedup guarantee is BOUNDED BY `lateness`: the
   * `dropDuplicatesWithinWatermark` state only retains (doc_id, gram)
   * keys until the watermark passes them, so a (doc_id, gram)
   * redelivered more than `lateness` after first arrival is counted
   * again and inflates `n_shared` relative to the batch operator's
   * distinct-shared-gram contract. Size `lateness` to the SOURCE'S
   * redelivery horizon (e.g. the Kafka max replay window on restart),
   * not just to event-time disorder — it is both the lateness bound
   * and the dedup retention.
   */
  def contaminationStream(docs: DataFrame, benchmark: DataFrame,
      n: Int = 3, minShared: Int = 2,
      windowLength: String = "10 minutes",
      lateness: String = "1 minute"): DataFrame = {
    val evalGrams = broadcast(benchmark.select(
      col("doc_id").cast("long").as("eval_doc"),
      explode(TextOps.shingles(col("text"), n)).as("gram")))
    docs
      .withWatermark("ingest_ts", lateness)
      .select(col("doc_id").cast("long").as("doc_id"), col("ingest_ts"),
        explode(TextOps.shingles(col("text"), n)).as("gram"))
      // redelivered batches (at-least-once delivery) must not double-count
      // a shared gram past minShared: state-bounded dedup keeps the
      // "DISTINCT shared grams" contract of the batch operator
      .dropDuplicatesWithinWatermark("doc_id", "gram")
      .join(evalGrams, "gram")
      .groupBy(window(col("ingest_ts"), windowLength), col("doc_id"),
        col("eval_doc"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("window.start").as("window_start"), col("doc_id"),
        col("eval_doc"), col("n_shared"))
  }

  /**
   * Score-at-ingest perplexity — the quality filter as a standing query:
   * documents arriving on a stream are scored against a STATIC bigram LM
   * (trained once from `train`, tables broadcast — the stream side holds
   * no LM state), with the same add-k math as `TextOps.lmPerplexity`.
   * Append mode emits one row per (window, doc) when the window closes.
   *
   * Redelivered docs are suppressed by `dropDuplicatesWithinWatermark`
   * on doc_id BEFORE the bigram explode, so at-least-once delivery does
   * not double-count a document's events; as with `contaminationStream`,
   * the guarantee is bounded by `lateness` — size it to the source's
   * redelivery horizon.
   */
  def perplexityStream(docs: DataFrame, train: DataFrame,
      k: Double = 0.5,
      windowLength: String = "10 minutes",
      lateness: String = "1 minute"): DataFrame = {
    val (c2, c1, vocab) = TextOps.bigramLmTables(train)
    val events = docs
      .withWatermark("ingest_ts", lateness)
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id").cast("long").as("doc_id"), col("ingest_ts"),
        explode(TextOps.bigramEvents(col("text"))).as("bg"))
    TextOps.lmScoreEvents(events, c2, c1, vocab, k, hintBroadcast = true)
      .groupBy(window(col("ingest_ts"), windowLength), col("doc_id"))
      // order-independent mean: nano-unit long sum — MUST stay identical
      // to the batch lmPerplexity aggregation (stream_ppl_check pins
      // exact equality)
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(round(col("nll") * 1e9, 0).cast("long")).as("sum_nano"))
      .select(col("window.start").as("window_start"), col("doc_id"),
        col("n_bigrams"),
        round(col("sum_nano").cast("double") / col("n_bigrams") / 1e9, 6)
          .as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 2))
  }

  /** File-source convenience wrapper over [[nearDupPairsStream]]. */
  def nearDupStream(spark: SparkSession, dir: String, k: Int = 3,
      numHashes: Int = 12, bands: Int = 4, threshold: Double = 0.8,
      lateness: String = "10 minutes",
      stateTtlMs: Long = 10L * 60 * 1000,
      maxPerBucket: Int = 64): Dataset[NearDupHit] =
    nearDupPairsStream(
      spark.readStream.schema(documentsSchema).parquet(dir),
      k, numHashes, bands, threshold, lateness, stateTtlMs, maxPerBucket)

  private def processBucket(threshold: Double, numHashes: Int,
      maxPerBucket: Int, ttlMs: Long)(bucket: String,
      events: Iterator[BandEvent],
      state: GroupState[BucketState]): Iterator[NearDupHit] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      // deterministic intra-batch order: event time, then doc_id
      val evs = events.toSeq.sortBy(e => (e.ingest_ts.getTime, e.doc_id))
      var members = state.getOption.map(_.members).getOrElse(List.empty)
      val band = bucket.takeWhile(_ != '|').toInt
      val out = Seq.newBuilder[NearDupHit]
      evs.foreach { e =>
        if (!members.exists(_._1 == e.doc_id)) {
          members.foreach { case (id, sig) =>
            val eq = sig.iterator.zip(e.sig.iterator).count(p => p._1 == p._2)
            val est = eq.toDouble / numHashes
            if (est >= threshold) {
              val (a, b) = if (id < e.doc_id) (id, e.doc_id) else (e.doc_id, id)
              out += NearDupHit(a, b, band,
                math.rint(est * 1e6) / 1e6)
            }
          }
          if (members.size < maxPerBucket) members :+= e.doc_id -> e.sig
        }
      }
      state.update(BucketState(members))
      state.setTimeoutTimestamp(evs.map(_.ingest_ts.getTime).max + ttlMs)
      out.result().iterator
    }
  }

  /**
   * Structural self-check of [[dedupStream]] against the batch dedup
   * contract, shaped for an external oracle that cannot run a Spark
   * stream (the all-zeros-invariants pattern, like
   * `EventStream.rollupCheck`): builds a deterministic feed from the
   * batch documents table — every document stamped with ONE constant
   * `ingest_ts`, so all arrivals land inside a single watermark horizon
   * and the stream must keep EXACTLY one document per content hash —
   * runs the stream to completion, and returns one row of violation
   * counts that must all be zero:
   *
   *  - `dup_sha`      hashes emitted more than once (the dedup contract);
   *  - `missing_sha`  distinct corpus hashes the stream never emitted;
   *  - `extra_sha`    emitted hashes absent from the corpus;
   *  - `empty_stream` 1 when nothing was emitted — vacuous-pass guard.
   */
  def dedupCheck(spark: SparkSession, dir: String,
      lateness: String = "10 minutes",
      feedDir: String = "/tmp/graft_stream_dedup_feed",
      timeoutMs: Long = 300000L): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = StreamDrain.once(spark, "graft_stream_dedup_check",
        s"$dir|$lateness|$feedDir", timeoutMs,
        Seq(s"$dir/documents.parquet")) {
      docs.select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
            .as("ingest_ts"))
        .write.mode("overwrite").parquet(feedDir)
      dedupStream(spark, feedDir, lateness)
    }.select(col("text_sha256"))
    val outDistinct = out.distinct()
    val batchShas = docs.select(sha2(col("text"), 256).as("text_sha256"))
      .distinct()
    val dup = out.groupBy(col("text_sha256")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(when(col("n") > 1, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("dup_sha"))
    val missing = batchShas.join(outDistinct, Seq("text_sha256"), "left_anti")
      .agg(count(lit(1)).cast("long").as("missing_sha"))
    val extra = outDistinct.join(batchShas, Seq("text_sha256"), "left_anti")
      .agg(count(lit(1)).cast("long").as("extra_sha"))
    val empty = out.agg((count(lit(1)) === 0).cast("long").as("empty_stream"))
    dup.crossJoin(missing).crossJoin(extra).crossJoin(empty)
  }

  /**
   * Structural self-check of [[nearDupPairsStream]] (the all-zeros
   * pattern): streams the batch documents corpus (constant `ingest_ts`,
   * one watermark horizon) through the stateful LSH detector, then
   * verifies every emitted hit against BATCH recomputations of the same
   * deterministic primitives — minhash signatures and band keys are
   * pure functions of the text, so the stream's claims are exactly
   * checkable even though the hit SET itself is approximate. Violation
   * counts (one row, all zero for a correct execution):
   *
   *  - `bad_order`      hits without doc_a < doc_b;
   *  - `low_estimate`   hits whose est_jaccard is below the threshold;
   *  - `no_shared_band` hits whose two docs do NOT share the band key
   *                     the hit names — the bucketing claim;
   *  - `bad_estimate`   hits whose est_jaccard differs from the
   *                     signature-agreement fraction recomputed in
   *                     batch — the scoring claim;
   *  - `missed_exact`   identical-text pairs (same sha256) the stream
   *                     never reported: identical docs agree on every
   *                     band, so missing one is a state-handling bug
   *                     (maxPerBucket is sized above the largest
   *                     duplicate group for exactly this reason);
   *  - `empty_stream`   1 when no hit was emitted — vacuous-pass guard.
   */
  def nearDupCheck(spark: SparkSession, dir: String, k: Int = 3,
      numHashes: Int = 12, bands: Int = 4, threshold: Double = 0.5,
      feedDir: String = "/tmp/graft_stream_neardup_feed",
      timeoutMs: Long = 300000L): DataFrame = {
    graft.functions.ensureRegistered(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val hits = StreamDrain.once(spark, "graft_stream_neardup_check",
        s"$dir|$k|$numHashes|$bands|$threshold|$feedDir", timeoutMs,
        Seq(s"$dir/documents.parquet")) {
      docs.select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
            .as("ingest_ts"))
        .write.mode("overwrite").parquet(feedDir)
      val feed = spark.readStream.schema(documentsSchema).parquet(feedDir)
      nearDupPairsStream(feed, k, numHashes, bands, threshold,
        maxPerBucket = 4096).toDF()
    }
    val rows = numHashes / bands
    // batch recomputation of the stream's deterministic primitives
    val sigs = docs.select(col("doc_id").cast("long").as("doc_id"),
      graft.functions.minhash_signature(
        TextOps.shingles(col("text"), k), numHashes).as("sig"),
      sha2(col("text"), 256).as("sha"))
    val bandTable = sigs.select(col("doc_id"),
      posexplode(TextOps.bandKeys(col("sig"), bands, rows))
        .as(Seq("band", "band_key")))
    val withSigs = hits
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"), "left")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("doc_b"), "left")
      .withColumn("est_batch",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1.0d).otherwise(0.0d)),
          lit(0.0d), (acc, v) => acc + v) / numHashes)
    val sharedBand = hits
      .join(bandTable.select(col("doc_id").as("doc_a"),
        col("band").as("band"), col("band_key").as("key_a")),
        Seq("doc_a", "band"), "left")
      .join(bandTable.select(col("doc_id").as("doc_b"),
        col("band").as("band"), col("band_key").as("key_b")),
        Seq("doc_b", "band"), "left")
      .groupBy(col("doc_a"), col("doc_b"), col("band"))
      .agg(max(when(col("key_a") === col("key_b"), 1).otherwise(0))
        .as("shares"))
      .agg(coalesce(sum(when(col("shares") =!= 1, 1L).otherwise(0L)),
        lit(0L)).cast("long").as("no_shared_band"))
    val perHit = withSigs.agg(
      coalesce(sum(when(col("doc_a") >= col("doc_b"), 1L).otherwise(0L)),
        lit(0L)).cast("long").as("bad_order"),
      coalesce(sum(when(col("est_jaccard") < threshold, 1L).otherwise(0L)),
        lit(0L)).cast("long").as("low_estimate"),
      coalesce(sum(when(
        abs(col("est_jaccard") - round(col("est_batch"), 6)) > 1e-9, 1L)
        .otherwise(0L)), lit(0L)).cast("long").as("bad_estimate"))
    // identical texts agree on every band and score 1.0 — must be hit
    val exactPairs = sigs.select(col("sha"), col("doc_id").as("doc_a"))
      .join(sigs.select(col("sha"), col("doc_id").as("doc_b")), Seq("sha"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val missedExact = exactPairs
      .join(hits.select(col("doc_a"), col("doc_b")).distinct(),
        Seq("doc_a", "doc_b"), "left_anti")
      .agg(count(lit(1)).cast("long").as("missed_exact"))
    val empty = hits.agg(
      (count(lit(1)) === 0).cast("long").as("empty_stream"))
    perHit.crossJoin(sharedBand).crossJoin(missedExact).crossJoin(empty)
  }

  /** Constant event time shared by the check feeds (all docs land in one
    * watermark horizon / one window). */
  private val feedT0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  /** Write `docs` as a streaming feed at [[feedT0]]; `withSentinel` adds
    * one late unrelated row two hours on, which pushes the watermark
    * past the first window so append-mode WINDOWED aggregations emit it
    * (the sentinel's own window never closes, and its nonsense text
    * shares no grams, so it affects nothing else). */
  private def writeFeed(docs: DataFrame, feedDir: String,
      withSentinel: Boolean): Unit = {
    val sp = docs.sparkSession
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text"), col("lang"), col("source"),
      col("n_chars").cast("long").as("n_chars"),
      lit(feedT0).as("ingest_ts"))
    val feed =
      if (!withSentinel) base
      else base.unionByName(sp.range(1).select(
        lit(-999L).as("doc_id"),
        lit("watermarksentinel zzzz qqqq xxxx vvvv").as("text"),
        lit("xx").as("lang"), lit("sentinel").as("source"),
        lit(0L).as("n_chars"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 02:00:00"))
          .as("ingest_ts")))
    feed.write.mode("overwrite").parquet(feedDir)
  }

  /**
   * Structural self-check of [[contaminationStream]] against the batch
   * decontamination operator (all-zeros pattern): the train split
   * streams through the stream-static gram join at one constant event
   * time (sentinel closes the window), and every emitted (train doc,
   * eval doc, n_shared) alert must agree with `TextOps.contamination`
   * over the same splits. Violations: `missing_pair` (batch alerts the
   * stream never raised), `extra_pair`, `bad_shared` (count mismatch),
   * `dup_pair` (one pair emitted in two windows), `empty_stream`.
   */
  def contaminationCheck(spark: SparkSession, dir: String, n: Int = 3,
      minShared: Int = 2,
      feedDir: String = "/tmp/graft_stream_contam_feed",
      timeoutMs: Long = 300000L): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.filter(col("doc_id") % 25 =!= 0)
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val hits = StreamDrain.once(spark, "graft_stream_contam_check",
        s"$dir|$n|$minShared|$feedDir", timeoutMs,
        Seq(s"$dir/documents.parquet")) {
      writeFeed(train, feedDir, withSentinel = true)
      contaminationStream(
        spark.readStream.schema(documentsSchema).parquet(feedDir),
        eval, n, minShared)
    }
      .select(col("doc_id").as("train_doc"), col("eval_doc"),
        col("n_shared").as("s_shared"))
    val batch = TextOps.contamination(train, eval, n, minShared)
      .select(col("train_doc"), col("eval_doc"),
        col("n_shared").as("b_shared"))
    val joined = batch.join(hits, Seq("train_doc", "eval_doc"), "full_outer")
      .agg(
        coalesce(sum(when(col("s_shared").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("missing_pair"),
        coalesce(sum(when(col("b_shared").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("extra_pair"),
        coalesce(sum(when(col("b_shared").isNotNull &&
          col("s_shared").isNotNull &&
          col("b_shared") =!= col("s_shared"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("bad_shared"))
    val dup = hits.groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("nw"))
      .agg(coalesce(sum(when(col("nw") > 1, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("dup_pair"))
    val empty = hits.agg(
      (count(lit(1)) === 0).cast("long").as("empty_stream"))
    joined.crossJoin(dup).crossJoin(empty)
  }

  /**
   * Structural self-check of [[perplexityStream]] against the batch LM
   * scorer (all-zeros pattern): documents stream through the
   * score-at-ingest filter against a static bigram LM (trained on the
   * eval split), and every emitted (doc, n_bigrams, avg_nll, ppl) must
   * EXACTLY equal `TextOps.lmPerplexity` on the same docs — identical
   * math, identical 6dp/2dp rounding, so equality is exact, not
   * approximate. Violations: `missing_doc`, `extra_doc`, `bad_bigrams`,
   * `bad_score` (avg_nll or ppl mismatch), `dup_doc`, `empty_stream`.
   */
  def perplexityCheck(spark: SparkSession, dir: String, k: Double = 0.5,
      feedDir: String = "/tmp/graft_stream_ppl_feed",
      timeoutMs: Long = 300000L): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.filter(col("doc_id") % 25 === 0)
    val score = docs.filter(col("doc_id") % 25 =!= 0)
    val streamed = StreamDrain.once(spark, "graft_stream_ppl_check",
        s"$dir|$k|$feedDir", timeoutMs,
        Seq(s"$dir/documents.parquet")) {
      writeFeed(score, feedDir, withSentinel = true)
      perplexityStream(
        spark.readStream.schema(documentsSchema).parquet(feedDir),
        train, k)
    }
      .filter(col("doc_id") =!= -999L) // the sentinel's window never closes
      .select(col("doc_id"), col("n_bigrams").as("s_bigrams"),
        col("avg_nll").as("s_nll"), col("ppl").as("s_ppl"))
    val batch = TextOps.lmPerplexity(score, train = train, k = k)
      .select(col("doc_id"), col("n_bigrams").as("b_bigrams"),
        col("avg_nll").as("b_nll"), col("ppl").as("b_ppl"))
    val joined = batch.join(streamed, Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("s_bigrams").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("missing_doc"),
        coalesce(sum(when(col("b_bigrams").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("extra_doc"),
        coalesce(sum(when(col("b_bigrams").isNotNull &&
          col("s_bigrams").isNotNull &&
          col("b_bigrams") =!= col("s_bigrams"), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("bad_bigrams"),
        coalesce(sum(when(col("b_nll").isNotNull && col("s_nll").isNotNull &&
          (col("b_nll") =!= col("s_nll") || col("b_ppl") =!= col("s_ppl")),
          1L).otherwise(0L)), lit(0L)).cast("long").as("bad_score"))
    val dup = streamed.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
      .agg(coalesce(sum(when(col("nw") > 1, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("dup_doc"))
    val empty = streamed.agg(
      (count(lit(1)) === 0).cast("long").as("empty_stream"))
    joined.crossJoin(dup).crossJoin(empty)
  }

  /**
   * Score-at-ingest Bloom decontamination: the
   * [[graft.operators.TextOps.bloomDecontaminate]] bitmap (built once,
   * eagerly, from the static eval split) applied to a document stream as
   * a STATELESS narrow projection — no watermark, no stream state, no
   * shuffle; every arriving doc gets (n_grams, n_hits, flagged)
   * immediately. The cheapest standing decontamination gate an ingest
   * pipeline can run; the exact join ([[contaminationStream]]) is the
   * precision pass downstream of this filter.
   */
  def bloomDecontamStream(docs: DataFrame, benchmark: DataFrame,
      n: Int = 3, numHashes: Int = 3, hexDigits: Int = 5,
      minHits: Int = 2): DataFrame =
    graft.operators.TextOps.bloomDecontaminate(
      docs, benchmark, n, numHashes, hexDigits, minHits)

  /**
   * Structural self-check of [[bloomDecontamStream]] (all-zeros
   * pattern): the train split streams through the stateless Bloom
   * projection and every emitted (doc, n_grams, n_hits, flagged) row
   * must EXACTLY equal the batch operator on the same splits —
   * identical bitmap, identical md5 position math, so equality is
   * exact. Violations: `missing_doc`, `extra_doc`, `bad_counts`
   * (n_grams or n_hits mismatch), `bad_flag`, `dup_doc`,
   * `empty_stream`.
   */
  def bloomCheck(spark: SparkSession, dir: String, n: Int = 3,
      minHits: Int = 2,
      feedDir: String = "/tmp/graft_stream_bloom_feed",
      timeoutMs: Long = 300000L): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.filter(col("doc_id") % 25 =!= 0)
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val streamed = StreamDrain.once(spark, "graft_stream_bloom_check",
        s"$dir|$n|$minHits|$feedDir", timeoutMs,
        Seq(s"$dir/documents.parquet")) {
      writeFeed(train, feedDir, withSentinel = false)
      bloomDecontamStream(
        spark.readStream.schema(documentsSchema).parquet(feedDir),
        eval, n, minHits = minHits)
    }
      .select(col("doc_id"), col("n_grams").as("s_grams"),
        col("n_hits").as("s_hits"), col("flagged").as("s_flag"))
    val batch = graft.operators.TextOps
      .bloomDecontaminate(train, eval, n, minHits = minHits)
      .select(col("doc_id"), col("n_grams").as("b_grams"),
        col("n_hits").as("b_hits"), col("flagged").as("b_flag"))
    val joined = batch.join(streamed, Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("s_grams").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("missing_doc"),
        coalesce(sum(when(col("b_grams").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("extra_doc"),
        coalesce(sum(when(col("b_grams").isNotNull &&
          col("s_grams").isNotNull &&
          (col("b_grams") =!= col("s_grams") ||
           col("b_hits") =!= col("s_hits")), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("bad_counts"),
        coalesce(sum(when(col("b_flag").isNotNull && col("s_flag").isNotNull &&
          col("b_flag") =!= col("s_flag"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("bad_flag"))
    val dup = streamed.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
      .agg(coalesce(sum(when(col("nw") > 1, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("dup_doc"))
    val empty = streamed.agg(
      (count(lit(1)) === 0).cast("long").as("empty_stream"))
    joined.crossJoin(dup).crossJoin(empty)
  }

  /**
   * The batch-trained [[graft.operators.TextOps.nbDistillWeights]]
   * model applied to a document STREAM — score-at-ingest filtering with
   * a model trained offline, the standard deployment split (train on
   * the settled corpus, gate the standing ingest). A stateless narrow
   * projection: no watermark, no state, the literal weight array rides
   * inside the streaming plan.
   */
  def nbScoreStream(docs: DataFrame, dw: Array[Long],
      const: Long): DataFrame = {
    val margin = graft.operators.TextOps.nbMargin(dw, const)
    docs.select(col("doc_id").cast("long").as("doc_id"),
      margin.as("margin"),
      when(margin > 0L, 1).otherwise(-1).as("pred"))
  }

  /**
   * Structural self-check of [[nbScoreStream]] (all-zeros pattern): the
   * corpus streams through the stateless scorer under the
   * batch-trained weights, and every emitted (doc_id, margin, pred)
   * must EXACTLY equal the batch scorer on the same corpus — same
   * literal weights, same integer fold, so equality is exact.
   * Violations: `missing_doc`, `extra_doc`, `bad_margin`, `bad_pred`,
   * `dup_doc`, `empty_stream`.
   */
  def nbCheck(spark: SparkSession, dir: String,
      feedDir: String = "/tmp/graft_stream_nb_feed",
      timeoutMs: Long = 300000L): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val toks = graft.operators.TextOps.tokens(col("text"))
    val label = array_contains(toks, "customer") &&
      array_contains(toks, "vector")
    val (dw, const) = graft.operators.TextOps.nbDistillWeights(docs, label)
    val streamed = StreamDrain.once(spark, "graft_stream_nb_check",
        s"$dir|$feedDir", timeoutMs, Seq(s"$dir/documents.parquet")) {
      writeFeed(docs, feedDir, withSentinel = false)
      nbScoreStream(
        spark.readStream.schema(documentsSchema).parquet(feedDir), dw, const)
    }
      .select(col("doc_id"), col("margin").as("s_margin"),
        col("pred").as("s_pred"))
    val batch = docs.select(col("doc_id").cast("long").as("doc_id"),
      graft.operators.TextOps.nbMargin(dw, const).as("b_margin"))
      .select(col("doc_id"), col("b_margin"),
        when(col("b_margin") > 0L, 1).otherwise(-1).as("b_pred"))
    val joined = batch.join(streamed, Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("s_margin").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("missing_doc"),
        coalesce(sum(when(col("b_margin").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("extra_doc"),
        coalesce(sum(when(col("b_margin").isNotNull &&
          col("s_margin").isNotNull &&
          col("b_margin") =!= col("s_margin"), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("bad_margin"),
        coalesce(sum(when(col("b_pred").isNotNull &&
          col("s_pred").isNotNull &&
          col("b_pred") =!= col("s_pred"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("bad_pred"))
    val dup = streamed.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
      .agg(coalesce(sum(when(col("nw") > 1, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("dup_doc"))
    val empty = streamed.agg(
      (count(lit(1)) === 0).cast("long").as("empty_stream"))
    joined.crossJoin(dup).crossJoin(empty)
  }

  /** One document on the domain-quota stream. */
  case class DomainDoc(domain: String, doc_id: Long, u8: String)

  /** Admission decision: `admitted` 1/0; `admit_seq` is the 1-based
    * running admission number within the domain (0 when rejected). */
  case class DomainAdmit(doc_id: Long, domain: String, admit_seq: Int,
      admitted: Int)

  /** Per-domain state: admitted-so-far counter — one Int per domain. */
  case class DomainCapState(admitted: Int)

  /**
   * Streaming per-domain contribution cap — the at-ingest counterpart
   * of `TextOps.domainCap`: each domain admits at most `cap` documents
   * over the stream's lifetime, then rejects. The batch operator keeps
   * the cap SMALLEST salted hashes (order-free); a stream cannot see
   * the future, so its contract is first-`cap` by arrival, made
   * deterministic inside each micro-batch by sorting the group's
   * arrivals by (u8, doc_id) — a single-batch feed therefore
   * reproduces the batch quota EXACTLY (the property
   * [[domainCapCheck]] certifies), and multi-batch feeds admit
   * batch-order-then-hash.
   *
   * State is one counter per domain — |domains| ints, the smallest
   * state footprint of any stateful operator here; no timeout so a
   * domain's quota is permanent for the life of the query (restart
   * from checkpoint preserves it).
   */
  def domainCapStream(docs: DataFrame, cap: Int,
      salt: String = "domcap"): Dataset[DomainAdmit] = {
    require(cap > 0, s"domainCapStream: cap $cap must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val events = docs.select(col("source").as("domain"),
        col("doc_id").cast("long").as("doc_id"),
        md5(concat(lit(salt), lit("|"),
          col("doc_id").cast("long").cast("string"))).substr(1, 8).as("u8"))
      .as[DomainDoc]
    events.groupByKey(_.domain)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (domain: String, it: Iterator[DomainDoc],
         state: GroupState[DomainCapState]) => {
          var n = state.getOption.map(_.admitted).getOrElse(0)
          val out = it.toArray.sortBy(d => (d.u8, d.doc_id)).map { d =>
            val adm = n < cap
            if (adm) n += 1
            DomainAdmit(d.doc_id, domain, if (adm) n else 0,
              if (adm) 1 else 0)
          }
          state.update(DomainCapState(n))
          out.iterator
        })
  }

  /**
   * Structural self-check of [[domainCapStream]] against
   * `TextOps.domainCap` (all-zeros pattern): the corpus streams as ONE
   * batch, so the stream's sorted-within-batch admission must equal
   * the batch hash quota document-for-document. Violations:
   * `missing_doc` (corpus doc the stream never decided), `extra_doc`,
   * `keep_mismatch` (admitted != batch keep flag), `over_cap`
   * (domains whose admitted count exceeds the cap — the state
   * invariant), `dup_doc`, `empty_stream`.
   */
  def domainCapCheck(spark: SparkSession, dir: String, cap: Int = 10,
      feedDir: String = "/tmp/graft_stream_domcap_feed",
      timeoutMs: Long = 300000L): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val streamed = StreamDrain.once(spark, "graft_stream_domcap_check",
        s"$dir|$cap|$feedDir", timeoutMs,
        Seq(s"$dir/documents.parquet")) {
      writeFeed(docs, feedDir, withSentinel = false)
      domainCapStream(
        spark.readStream.schema(documentsSchema).parquet(feedDir),
        cap).toDF()
    }.select(col("doc_id"), col("domain"),
      col("admitted").as("s_admitted"))
    val batch = graft.operators.TextOps.domainCap(docs, cap)
      .select(col("doc_id"), col("keep").as("b_keep"))
    val joined = batch.join(streamed, Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("s_admitted").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("missing_doc"),
        coalesce(sum(when(col("b_keep").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("extra_doc"),
        coalesce(sum(when(col("b_keep").isNotNull &&
          col("s_admitted").isNotNull &&
          col("b_keep") =!= col("s_admitted"), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("keep_mismatch"))
    val over = streamed.groupBy(col("domain"))
      .agg(sum(col("s_admitted")).as("n_admitted"))
      .agg(coalesce(sum(when(col("n_admitted") > cap, 1L).otherwise(0L)),
        lit(0L)).cast("long").as("over_cap"))
    val dup = streamed.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
      .agg(coalesce(sum(when(col("nw") > 1, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("dup_doc"))
    val empty = streamed.agg(
      (count(lit(1)) === 0).cast("long").as("empty_stream"))
    joined.crossJoin(over).crossJoin(dup).crossJoin(empty)
  }

  /** One document on the token-budget stream. */
  case class BudgetDoc(stratum: String, doc_id: Long, u8: String,
      n_tokens: Long)

  /** Admission decision: `cum_tokens` is the stratum's running admitted
    * token total INCLUDING this doc (0 when rejected). */
  case class BudgetAdmit(doc_id: Long, stratum: String, cum_tokens: Long,
      admitted: Int)

  /** Per-stratum state: admitted token total + closed flag — one Long
    * and one Boolean per stratum. */
  case class BudgetState(used: Long, closed: Boolean)

  /**
   * Streaming per-stratum TOKEN-BUDGET admission — the at-ingest
   * counterpart of `TextOps.sampleTokenBudget`, the
   * [[domainCapStream]] discipline applied to a token quota: each
   * stratum admits documents until its budget would overshoot; the
   * FIRST overshoot closes the stratum permanently (strict prefix —
   * no later smaller doc sneaks in), mirroring the batch operator's
   * contiguous-in-order contract. Arrivals sort by (u8, doc_id)
   * within each micro-batch, so a single-batch feed reproduces the
   * batch carve's KEEP/ADMIT decision document-for-document
   * (certified by [[tokenBudgetCheck]]); multi-batch feeds admit
   * batch-order-then-hash. The cumulative columns are NOT
   * contract-identical: this stream's `cum_tokens` is the
   * admitted-only running total (0 on reject — the only total the
   * per-stratum state carries), while the batch operator's
   * `cum_tokens` is the all-docs running prefix total that rejected
   * docs also advance. Compare admit flags across the twins, never
   * the cumulative columns.
   *
   * State is (Long, Boolean) per stratum; no timeout — the carve is
   * permanent for the life of the query and survives checkpoint
   * restarts.
   */
  def tokenBudgetStream(docs: DataFrame, budgets: Map[String, Long],
      defaultBudget: Long = Long.MaxValue,
      salt: String = "tokbudget"): Dataset[BudgetAdmit] = {
    budgets.foreach { case (s, v) =>
      require(v >= 0, s"tokenBudgetStream: budget for '$s' must be >= 0") }
    val spark = docs.sparkSession
    import spark.implicits._
    val events = docs.select(col("source").as("stratum"),
        col("doc_id").cast("long").as("doc_id"),
        md5(concat(lit(salt), lit("|"),
          col("doc_id").cast("long").cast("string"))).substr(1, 8).as("u8"),
        col("n_chars").cast("long").as("n_tokens"))
      .as[BudgetDoc]
    events.groupByKey(_.stratum)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (stratum: String, it: Iterator[BudgetDoc],
         state: GroupState[BudgetState]) => {
          val budget = budgets.getOrElse(stratum, defaultBudget)
          var st = state.getOption.getOrElse(BudgetState(0L, false))
          val out = it.toArray.sortBy(d => (d.u8, d.doc_id)).map { d =>
            val adm = !st.closed && st.used + d.n_tokens <= budget
            if (adm) st = BudgetState(st.used + d.n_tokens, st.closed)
            else st = BudgetState(st.used, true) // first overshoot closes
            BudgetAdmit(d.doc_id, stratum, if (adm) st.used else 0L,
              if (adm) 1 else 0)
          }
          state.update(st)
          out.iterator
        })
  }

  /**
   * Structural self-check of [[tokenBudgetStream]] against
   * `TextOps.sampleTokenBudget` (all-zeros pattern): the corpus
   * streams as ONE batch, so the stream's sorted-within-batch strict
   * prefix must equal the batch carve document-for-document.
   * Violations: `missing_doc`, `extra_doc`, `keep_mismatch`,
   * `over_budget` (strata whose admitted token mass exceeds their
   * budget — the state invariant), `dup_doc`, `empty_stream`.
   */
  def tokenBudgetCheck(spark: SparkSession, dir: String,
      budgets: Map[String, Long], defaultBudget: Long,
      feedDir: String = "/tmp/graft_stream_tokbudget_feed",
      timeoutMs: Long = 300000L): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val streamed = StreamDrain.once(spark, "graft_stream_tokbudget_check",
        s"$dir|$defaultBudget|${budgets.toSeq.sorted.mkString(",")}|$feedDir",
        timeoutMs, Seq(s"$dir/documents.parquet")) {
      writeFeed(docs, feedDir, withSentinel = false)
      tokenBudgetStream(
        spark.readStream.schema(documentsSchema).parquet(feedDir),
        budgets, defaultBudget).toDF()
    }.select(col("doc_id"), col("stratum"),
      col("admitted").as("s_admitted"))
    val batch = graft.operators.TextOps.sampleTokenBudget(docs, budgets,
        defaultBudget)
      .select(col("doc_id"), col("n_tokens"), col("keep").as("b_keep"))
    val joined = batch.join(streamed, Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("s_admitted").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("missing_doc"),
        coalesce(sum(when(col("b_keep").isNull, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("extra_doc"),
        coalesce(sum(when(col("b_keep").isNotNull &&
          col("s_admitted").isNotNull &&
          col("b_keep") =!= col("s_admitted"), 1L).otherwise(0L)),
          lit(0L)).cast("long").as("keep_mismatch"))
    val budgetOf = budgets.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (s, v)) => acc.when(col("stratum") === s, lit(v))
    }.otherwise(lit(defaultBudget))
    val over = batch.join(streamed, Seq("doc_id"))
      .filter(col("s_admitted") === 1)
      .groupBy(col("stratum"))
      .agg(sum(col("n_tokens")).as("tok_admitted"))
      .agg(coalesce(sum(when(col("tok_admitted") > budgetOf, 1L)
        .otherwise(0L)), lit(0L)).cast("long").as("over_budget"))
    val dup = streamed.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
      .agg(coalesce(sum(when(col("nw") > 1, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("dup_doc"))
    val empty = streamed.agg(
      (count(lit(1)) === 0).cast("long").as("empty_stream"))
    joined.crossJoin(over).crossJoin(dup).crossJoin(empty)
  }
}
