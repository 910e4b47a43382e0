package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.OmeOps
import graft.streaming.{DocStream, OmeStreamIngest, StreamDrain, VecStream}

/** Streaming acquisition ingest: drop-directory of plane TIFFs ->
  * assembled canonical records (SURVEY.md §7.6 extension). */
class StreamingSpec extends SparkSpec {

  private val nviz = "/root/reference/tests/data/nviz-artificial-4d-dataset"
  private val pattern = "E99_C<111,222>_ZS<000-021>.tif"

  test("file stream of 44 planes assembles into one 2ch x 22z record") {
    val dropDir = Files.createTempDirectory("graft_stream").toString
    // stage the corpus into the drop directory (as an acquisition would)
    val src = new java.io.File(nviz).listFiles().filter(_.getName.endsWith(".tif"))
    src.foreach { f =>
      Files.copy(f.toPath, Paths.get(dropDir, f.getName),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val planes = OmeStreamIngest.planeStream(spark, dropDir, pattern, "E99")
    val records = OmeStreamIngest.assemble(planes, expectedPlanes = 44,
      sizeT = 1, sizeC = 2, sizeZ = 22)
    val q = OmeStreamIngest.toOmeColumn(records).writeStream
      .format("memory").queryName("assembled")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.sql("SELECT * FROM assembled")
    assert(out.count() === 1)
    val row = OmeOps.describe(out).collect()(0)
    assert(row.getAs[String]("summary") ===
      "3D image (z-stack), multi-channel (2 channels) - shape (T=1, C=2, Z=22, Y=128, X=128)")
    // pixel parity with the batch pattern-ingest path
    val batch = graft.sources.OmeStack.readPattern(spark, s"$nviz/$pattern")
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(out) === sums(batch))
  }

  test("watermarked windowed event rollup matches the batch computation") {
    val q = graft.streaming.EventStream
      .windowedRollup(spark, "/root/testdata/sf0.001", "6 hours", "1 hour")
      .writeStream.format("memory").queryName("ev_rollup")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql(
      "SELECT window_start, event_type, n_events FROM ev_rollup")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.nonEmpty)
    // batch ground truth: same 6h windows over the same file. Append mode
    // only emits windows the watermark has passed, so the final (unclosed)
    // window is legitimately absent — every EMITTED window must match.
    // readEvents normalizes ts to epoch-nanos whatever unit the file stores
    val batch = graft.operators.EventOps.readEvents(spark, "/root/testdata/sf0.001")
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("event_ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    streamed.foreach { case (k, n) => assert(batch(k) === n, s"window $k") }
    // everything except the final unclosed window must have been emitted
    val lastStart = batch.keys.map(_._1.getTime).max
    val closed = batch.filter(_._1._1.getTime < lastStart)
    assert(streamed.keySet === closed.keySet)
  }

  test("stream-stream attribution join emits exactly the batch pair set") {
    val check = graft.streaming.EventStream
      .attributionCheck(spark, "/root/testdata/sf0.001").collect()(0)
    assert(check.getAs[Long]("phantom_pair") === 0L)
    assert(check.getAs[Long]("missing_pair") === 0L)
    assert(check.getAs[Long]("bad_delay") === 0L)
    // the zeros are not vacuous: pairs were actually streamed
    assert(check.getAs[Long]("empty_stream") === 0L)
  }

  test("streaming sessionization emits exactly the closed batch sessions") {
    val check = graft.streaming.EventStream
      .sessionCheck(spark, "/root/testdata/sf0.001").collect()(0)
    assert(check.getAs[Long]("missing_session") === 0L)
    assert(check.getAs[Long]("extra_session") === 0L)
    assert(check.getAs[Long]("bad_count") === 0L)
    assert(check.getAs[Long]("bad_sum") === 0L)
    // the zeros are not vacuous: sessions were actually streamed
    assert(check.getAs[Long]("empty_stream") === 0L)
  }

  test("nearDupCheck passes all-zeros on a corpus with planted exact " +
      "dups (missed_exact has teeth)") {
    import spark.implicits._
    val dir = "/tmp/graft_test_ndcheck"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    // three exact copies + one near-dup + unrelated text: the check's
    // missed_exact column counts identical-text pairs (3 of them here)
    // the stream fails to report; bad_estimate/no_shared_band verify
    // every reported hit against batch recomputation
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
      (1L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
      (2L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L),
      (3L, "the quick brown fox jumps over the lazy cat", "en", "s1", 43L),
      (4L, "completely different text about spark engines", "en", "s1", 45L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val row = graft.streaming.DocStream.nearDupCheck(spark, dir,
      feedDir = "/tmp/graft_test_ndcheck_feed").collect()(0)
    for (c <- Seq("bad_order", "low_estimate", "bad_estimate",
        "no_shared_band", "missed_exact", "empty_stream"))
      assert(row.getAs[Long](c) === 0L, c)
  }

  test("streaming exact dedup keeps one document per content hash") {
    import spark.implicits._
    val dir = "/tmp/graft_test_docstream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    Seq(
      (1L, "alpha text", "en", "s0", 10L, t0),
      (2L, "beta text", "en", "s0", 9L, t0),
      (3L, "alpha text", "en", "s1", 10L, t0), // exact dup of 1
      (4L, "gamma text", "en", "s0", 10L, t0),
      (5L, "beta text", "en", "s1", 9L, t0)    // exact dup of 2
    ).toDF("doc_id", "text", "lang", "source", "n_chars", "ingest_ts")
      .coalesce(1).write.parquet(dir)
    val q = graft.streaming.DocStream.dedupStream(spark, dir)
      .writeStream.format("memory").queryName("doc_dedup")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.sql("SELECT text FROM doc_dedup").collect().map(_.getString(0))
    assert(out.length === 3)
    assert(out.toSet === Set("alpha text", "beta text", "gamma text"))
  }

  test("stateless pipeline operators run unchanged over a stream") {
    // sampleMix and piiScrub are pure narrow projections, so the SAME
    // operator code must compose with readStream (no batch-only APIs) —
    // the "standing corpus-construction query" claim, pinned
    import spark.implicits._
    val dir = "/tmp/graft_test_statelessstream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Seq(
      (1L, "write to a@b.example please", "en", "s0", 26L),
      (2L, "nothing sensitive here", "en", "s0", 22L),
      (3L, "und der die das", "de", "s1", 15L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir)
    val stream = spark.readStream.schema(
        spark.read.parquet(dir).schema).parquet(dir)
    val q = graft.operators.TextOps.piiScrub(
        graft.operators.TextOps.sampleMix(stream, Map("en" -> 1.0, "de" -> 1.0))
          .filter(col("keep") === 1)
          .join(spark.read.parquet(dir), "doc_id")) // stream-static rejoin
      .writeStream.format("memory").queryName("stateless_ops")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.sql(
      "SELECT doc_id, n_emails FROM stateless_ops ORDER BY doc_id").collect()
    assert(out.length === 3)
    assert(out(0).getLong(1) === 1L) // the planted email got counted
    assert(out(1).getLong(1) === 0L)
  }

  test("streaming near-dup flags banded minhash matches, not distinct docs") {
    import spark.implicits._
    val dir = "/tmp/graft_test_neardupstream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val base = ('a' to 'z').map(c => s"w$c").mkString(" ") // 26 distinct tokens
    Seq(
      (0L, base, "en", "s0", 60L, t0),
      (1L, base.replace("wz", "xx"), "en", "s0", 60L, t0), // near-dup of 0
      (2L, "completely different content about query engines", "en", "s0", 48L, t0),
      (3L, base, "en", "s1", 60L, t0) // exact dup of 0
    ).toDF("doc_id", "text", "lang", "source", "n_chars", "ingest_ts")
      .coalesce(1).write.parquet(dir)
    val q = graft.streaming.DocStream.nearDupStream(spark, dir, threshold = 0.5)
      .writeStream.format("memory").queryName("near_dup_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val hits = spark.sql(
      "SELECT DISTINCT doc_a, doc_b, est_jaccard FROM near_dup_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(hits.keySet === Set((0L, 1L), (0L, 3L), (1L, 3L)))
    assert(hits((0L, 3L)) === 1.0) // exact dup -> all components agree
    assert(hits((0L, 1L)) >= 0.5 && hits((0L, 1L)) < 1.0)
  }

  test("streaming decontamination flags benchmark overlap via stream-static join") {
    import spark.implicits._
    val dir = "/tmp/graft_test_contamstream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val late = java.sql.Timestamp.valueOf("2026-01-01 03:00:00")
    val benchmark = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    Seq(
      // shares "the quick brown", "quick brown fox", ... -> flagged
      (0L, "prefix words then the quick brown fox runs away", "en", "s0", 47L, t0),
      (1L, "nothing in common with the benchmark corpus", "en", "s0", 44L, t0),
      // late arrival pushes the watermark past the first window
      (2L, "filler content entirely unrelated", "en", "s0", 33L, late)
    ).toDF("doc_id", "text", "lang", "source", "n_chars", "ingest_ts")
      .coalesce(1).write.parquet(dir)
    val stream = spark.readStream
      .schema(graft.streaming.DocStream.documentsSchema).parquet(dir)
    val q = graft.streaming.DocStream
      .contaminationStream(stream, benchmark, minShared = 2)
      .writeStream.format("memory").queryName("contam_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val hits = spark.sql(
      "SELECT doc_id, eval_doc, n_shared FROM contam_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.length === 1)
    assert(hits(0)._1 === 0L && hits(0)._2 === 100L)
    assert(hits(0)._3 >= 2L)
  }

  test("streaming near-dup vs the persisted index: hits per wave, " +
      "unrelated docs never flagged") {
    import spark.implicits._
    val dir = "/tmp/graft_test_mhidxstream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val idxPath = s"$dir-idx"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val late = java.sql.Timestamp.valueOf("2026-01-01 03:00:00")
    // the accumulated corpus: one doc the stream will duplicate
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "en", "r", 43L),
      (101L, "entirely unrelated reference material here", "en", "r", 42L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    graft.operators.TextOps.buildMinhashIndex(corpus, idxPath)
    Seq(
      // near-dup of corpus doc 100 -> flagged against it
      (0L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L, t0),
      (1L, "no overlap with anything stored before now", "en", "s0", 42L, t0),
      // late arrival closes the first window
      (2L, "filler content entirely different words", "en", "s0", 39L, late)
    ).toDF("doc_id", "text", "lang", "source", "n_chars", "ingest_ts")
      .coalesce(1).write.parquet(dir)
    val stream = spark.readStream
      .schema(graft.streaming.DocStream.documentsSchema).parquet(dir)
    val q = graft.streaming.DocStream
      .nearDupIndexStream(stream, idxPath, threshold = 0.5)
      .writeStream.format("memory").queryName("mhidx_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val hits = spark.sql(
      "SELECT doc_id, ref_id, jaccard FROM mhidx_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.toSeq === Seq((0L, 100L, 1.0)))
  }

  test("streaming perplexity matches the batch LM scorer per document") {
    import spark.implicits._
    val dir = "/tmp/graft_test_pplstream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val late = java.sql.Timestamp.valueOf("2026-01-01 03:00:00")
    val train = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val scoreRows = Seq(
      (0L, "the quick brown fox", "en", "s0", 19L, t0),
      (1L, "words the model never saw", "en", "s0", 25L, t0),
      // late arrival pushes the watermark past the first window
      (2L, "filler content entirely unrelated", "en", "s0", 33L, late)
    )
    scoreRows.toDF("doc_id", "text", "lang", "source", "n_chars", "ingest_ts")
      .coalesce(1).write.parquet(dir)
    val stream = spark.readStream
      .schema(graft.streaming.DocStream.documentsSchema).parquet(dir)
    val q = graft.streaming.DocStream.perplexityStream(stream, train)
      .writeStream.format("memory").queryName("ppl_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql(
      "SELECT doc_id, n_bigrams, avg_nll, ppl FROM ppl_stream")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // docs 0 and 1 emitted (their window closed); same numbers as batch
    val batch = graft.operators.TextOps.lmPerplexity(
      scoreRows.take(2).map(r => (r._1, r._2)).toDF("doc_id", "text"),
      train = train)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"),
          r.getAs[Double]("ppl"))).toMap
    assert(streamed.keySet === Set(0L, 1L))
    assert(streamed(0L) === batch(0L))
    assert(streamed(1L) === batch(1L))
    // the unseen-bigram doc must score strictly worse
    assert(streamed(1L)._2 > streamed(0L)._2)
  }

  test("the MinHash and SimHash ingest steps read each micro-batch once: " +
      "a one-file increment of n docs reports numInputRows = n") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ingest_rows").toString
    val n = 40
    (0L until n).map(i => (i, s"document $i about ${i % 7} shared words"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/feed")
    val ref = Seq((1000L, "an unrelated reference corpus document"))
      .toDF("doc_id", "text")
    graft.operators.TextOps.buildMinhashIndex(ref, s"$dir/mh", nParts = 4)
    graft.operators.TextOps.buildSimhashIndex(ref, s"$dir/sh", nParts = 4)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val l = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) rows.add(e.progress.numInputRows)
    }
    def feed = spark.readStream.schema("doc_id long, text string")
      .parquet(s"$dir/feed")
    spark.streams.addListener(l)
    try {
      DocStream.indexIngestRun(feed, s"$dir/mh", s"$dir/ckpt_mh",
        threshold = 0.5)
      StreamDrain.run(feed, s"$dir/ckpt_sh")(
        DocStream.simhashIngestIncrement(_, s"$dir/sh"))
      org.apache.spark.graftmetrics.BusDrain.drain(spark.sparkContext)
    } finally spark.streams.removeListener(l)
    assert(rows.toArray.toSeq === Seq(n.toLong, n.toLong))
    spark.catalog.clearCache()
  }

  test("StreamDrain.inputSig tracks input file content changes") {
    // r8 ADVICE: the drain memo key must fold in input signatures so a
    // feed dir whose DATA changes under an unchanged path re-drains
    // instead of comparing a stale sink against a fresh batch
    val dir = new java.io.File("/tmp/graft_test_drainsig")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    val f = new java.io.File(dir, "a.parquet")
    java.nio.file.Files.writeString(f.toPath, "one")
    val sig1 = StreamDrain.inputSig(spark, Seq(dir.getPath))
    java.nio.file.Files.writeString(f.toPath, "longer-content")
    val sig2 = StreamDrain.inputSig(spark, Seq(dir.getPath))
    assert(sig1 !== sig2)
    // adding a file changes it too
    java.nio.file.Files.writeString(
      new java.io.File(dir, "b.parquet").toPath, "x")
    assert(StreamDrain.inputSig(spark, Seq(dir.getPath)) !== sig2)
    // a path the feed will only create later signs as absent, no throw
    assert(StreamDrain.inputSig(spark, Seq("/tmp/graft_no_such_dir"))
      .contains("absent"))
  }

  private val ingestCerts: Seq[(String, (org.apache.spark.sql.SparkSession,
      String) => org.apache.spark.sql.DataFrame, Seq[String])] = Seq(
    ("index", DocStream.indexIngestCheck(_, _), Seq("bands_missing",
      "bands_extra", "shingles_missing", "shingles_extra", "empty_index")),
    ("simhash", DocStream.simhashIngestCheck(_, _), Seq("bands_missing",
      "bands_extra", "sigs_missing", "sigs_extra", "empty_index")),
    ("bm25", DocStream.bm25IngestCheck(_, _), Seq("postings_missing",
      "postings_extra", "doclens_missing", "doclens_extra",
      "stats_mismatch", "empty_index")),
    ("ivf", VecStream.ivfIngestCheck(_, _), Seq("vectors_missing",
      "vectors_extra", "codebook_drift", "empty_index")),
    ("ivfpq", VecStream.ivfPqIngestCheck(_, _), Seq("codes_missing",
      "codes_extra", "pq_book_drift", "centroid_drift", "empty_index")))

  test("the five index-ingest certs answer all zeros under their exact " +
      "column lists") {
    for ((name, cert, cols) <- ingestCerts) {
      val out = cert(spark, "/root/testdata/sf0.001")
      assert(out.columns.toSeq === cols, name)
      assert(out.collect().toSeq.map(_.toSeq) === Seq(cols.map(_ => 0L)),
        name)
    }
  }

  test("an index-ingest cert re-stages when its input corpus changes") {
    val dir = "/tmp/graft_test_ingest_restage"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def stagedRefs(corpus: org.apache.spark.sql.DataFrame): Set[Long] = {
      corpus.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      DocStream.indexIngestCheck(spark, dir).collect()
      spark.read.parquet(
          s"${StreamDrain.stagedAt("idxingest", dir)}/idx_stream/bands")
        .select(col("ref_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
    }
    val half = stagedRefs(docs.filter(col("doc_id") < 250))
    assert(half.nonEmpty && half.max < 250)
    // the same path, a new corpus: the reference split's new ids must
    // be in the staged stream index, not the first corpus's leftovers
    val full = stagedRefs(docs)
    assert((250L until 500L by 25).forall(full), full.toSeq.sorted)
  }

  test("the ivf ingest cert counts a codebook row the stream index lost, " +
      "and re-stages once the staging is gone") {
    val dir = "/tmp/graft_test_ingest_codebook"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    def drift(): Long = VecStream.ivfIngestCheck(spark, dir).head()
      .getAs[Long]("codebook_drift")
    assert(drift() === 0L)
    val root = StreamDrain.stagedAt("ivfingest", dir)
    val book = s"$root/idx_stream/centroids"
    val books = spark.read.parquet(book)
    val kept = books.collect().toSeq.tail
    spark.createDataFrame(java.util.Arrays.asList(kept: _*), books.schema)
      .coalesce(1).write.mode("overwrite").parquet(book)
    assert(drift() >= 1L, "a centroid the stream side lost must count")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    assert(drift() === 0L)
  }

  test("partial image assembles zero-filled from buildRecord") {
    // unit-level check of the timeout-flush path (processing-time timeouts
    // don't fire under AvailableNow)
    val planes = Seq(
      OmeStreamIngest.PlaneEvent("img", 0, 0, 0, 2, 2, Seq(1, 2, 3, 4),
        new java.sql.Timestamp(1000L)),
      OmeStreamIngest.PlaneEvent("img", 0, 1, 0, 2, 2, Seq(5, 6, 7, 8),
        new java.sql.Timestamp(2000L)))
    val rec = OmeStreamIngest.buildRecord("img", planes,
      sizeT = 1, sizeC = 2, sizeZ = 2)
    assert(rec.planes.length === 4)
    assert(rec.planes.map(_.pixels.sum) === Seq(10, 0, 26, 0))
    assert(rec.acquisition_datetime.getTime === 2000L)
  }

  test("streaming NB scorer emits exactly the batch margins") {
    import spark.implicits._
    val dir = "/tmp/graft_test_nbstream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val rows = Seq(
      (0L, "alpha beta gamma", "en", "s0", 1L, t0),
      (1L, "beta gamma", "en", "s0", 1L, t0),
      (2L, "alpha delta", "en", "s0", 1L, t0),
      (3L, "delta", "en", "s0", 1L, t0))
    val docs = rows.map(r => (r._1, r._2, r._3, r._4, r._5))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val label = array_contains(
      graft.operators.TextOps.tokens(col("text")), "alpha")
    val (dw, const) =
      graft.operators.TextOps.nbDistillWeights(docs, label)
    rows.toDF("doc_id", "text", "lang", "source", "n_chars", "ingest_ts")
      .coalesce(1).write.parquet(dir)
    val q = graft.streaming.DocStream.nbScoreStream(
        spark.readStream
          .schema(graft.streaming.DocStream.documentsSchema).parquet(dir),
        dw, const)
      .writeStream.format("memory").queryName("nb_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT doc_id, margin, pred FROM nb_stream")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val batch = docs.select(col("doc_id"),
      graft.operators.TextOps.nbMargin(dw, const).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.keySet === batch.keySet)
    batch.foreach { case (id, m) =>
      assert(streamed(id)._1 === m, s"margin mismatch for doc $id")
      assert(streamed(id)._2 === (if (m > 0) 1 else -1))
    }
    // the model separates the training labels on this clean corpus
    assert(streamed(0L)._2 === 1 && streamed(2L)._2 === 1)
    assert(streamed(1L)._2 === -1 && streamed(3L)._2 === -1)
    spark.catalog.clearCache()
  }

  test("streaming segmentation counts agree with batch plane-for-plane") {
    val feed = java.nio.file.Files
      .createTempDirectory("omeseg_feed").toString
    val r = graft.streaming.OmeStream.segmentCheck(spark, feedDir = feed)
      .collect().head
    assert((0 until 5).map(r.getLong) === Seq(0L, 0L, 0L, 0L, 0L),
      s"streaming/batch segmentation disagreement: $r")
    spark.catalog.clearCache()
  }

  test("streaming tracker: track roots carry across micro-batches; a " +
      "skipped frame starts a new track") {
    import spark.implicits._
    val dir = "/tmp/graft_test_trackstream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    def wave(rows: Seq[(Int, Int, Double)]): Unit =
      rows.map { case (t, label, cx) => ("im", 0, 0, t, label, 5.0, cx) }
        .toDF("image_id", "c", "z", "t", "label", "cy", "cx")
        .coalesce(1).write.mode("append").parquet(dir)
    // wave 1: frames t=0,1 — one blob drifting +1/frame
    wave(Seq((0, 7, 10.0), (1, 7, 11.0)))
    val q = graft.streaming.OmeStream.trackStream(
        spark.readStream
          .schema(graft.streaming.OmeStream.objectSchema)
          .parquet(dir), maxDisp = 3.0)
      .writeStream.format("memory").queryName("track_waves")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // wave 2: frame t=2 continues the chain — the root must come
      // from STATE (frame 1 lives in the previous micro-batch)
      wave(Seq((2, 7, 12.0)))
      q.processAllAvailable()
      // wave 3: frame t=4 skips t=3 — no gap closing live: new track
      wave(Seq((4, 7, 14.0)))
      q.processAllAvailable()
      val got = spark.table("track_waves").collect()
        .map(r => (r.getAs[Int]("t"),
          r.getAs[Int]("track_t"), r.getAs[Int]("track_label"))).sorted
      assert(got.toSeq === Seq((0, 0, 7), (1, 0, 7), (2, 0, 7),
        (4, 4, 7)),
        s"roots must chain through state and break at the gap: ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming tracker: a LATE frame emits singletons and must not " +
      "rewind state — the next in-order frame still links to the true " +
      "latest frame") {
    import spark.implicits._
    val dir = "/tmp/graft_test_trackstream_late"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    def wave(rows: Seq[(Int, Int, Double)]): Unit =
      rows.map { case (t, label, cx) => ("im", 0, 0, t, label, 5.0, cx) }
        .toDF("image_id", "c", "z", "t", "label", "cy", "cx")
        .coalesce(1).write.mode("append").parquet(dir)
    wave(Seq((0, 7, 10.0), (1, 7, 11.0)))
    val q = graft.streaming.OmeStream.trackStream(
        spark.readStream
          .schema(graft.streaming.OmeStream.objectSchema)
          .parquet(dir), maxDisp = 3.0)
      .writeStream.format("memory").queryName("track_late")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a LATE replay of t=0 arrives after t=1 was processed: it must
      // emit a singleton and leave state at frame 1 — before the fix,
      // state rewound to the stale frame 0 and corrupted what follows
      wave(Seq((0, 7, 10.0)))
      q.processAllAvailable()
      wave(Seq((2, 7, 12.0)))
      q.processAllAvailable()
      val got = spark.table("track_late").collect()
        .map(r => (r.getAs[Int]("t"),
          r.getAs[Int]("track_t"), r.getAs[Int]("track_label"))).sorted
      // the in-order t=0,1,2 chain keeps root (0,7); the late replay
      // of t=0 shows up once more as its own singleton (0,7) row
      assert(got.toSeq === Seq((0, 0, 7), (0, 0, 7), (1, 0, 7),
        (2, 0, 7)),
        s"late frame must not rewind tracking state: ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming domain cap: quota carries across micro-batches — a " +
      "full domain rejects every later arrival") {
    import spark.implicits._
    val dir = "/tmp/graft_test_domcapstream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def wave(rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, src) => (id, s"doc $id", "en", src, 6L, t0) }
        .toDF("doc_id", "text", "lang", "source", "n_chars", "ingest_ts")
        .coalesce(1).write.mode("append").parquet(dir)
    wave(Seq((1L, "d"), (2L, "d"), (10L, "e")))
    val q = graft.streaming.DocStream.domainCapStream(
        spark.readStream
          .schema(graft.streaming.DocStream.documentsSchema)
          .parquet(dir), cap = 2)
      .writeStream.format("memory").queryName("domcap_waves")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val w1 = spark.table("domcap_waves").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("admitted")).toMap
      assert(w1 === Map(1L -> 1, 2L -> 1, 10L -> 1)) // d now full
      wave(Seq((3L, "d"), (4L, "d"), (11L, "e")))
      q.processAllAvailable()
      val w2 = spark.table("domcap_waves").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("admitted")).toMap
      assert(w2 === w1 ++ Map(3L -> 0, 4L -> 0, 11L -> 1),
        "quota must persist across batches: d rejects, e admits")
    } finally q.stop()
  }

  test("streaming token budget: first overshoot CLOSES the stratum " +
      "permanently — a later smaller doc is rejected across batches") {
    import spark.implicits._
    val dir = "/tmp/graft_test_tokbudgetstream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def wave(rows: Seq[(Long, String, Long)]): Unit =
      rows.map { case (id, src, n) => (id, s"doc $id", "en", src, n, t0) }
        .toDF("doc_id", "text", "lang", "source", "n_chars", "ingest_ts")
        .coalesce(1).write.mode("append").parquet(dir)
    // budget w=100: wave 1 admits 60; wave 2's big doc (70) overshoots
    // and CLOSES w — the tiny doc (5) in wave 3 must still be rejected
    wave(Seq((1L, "w", 60L), (10L, "x", 9L)))
    val q = graft.streaming.DocStream.tokenBudgetStream(
        spark.readStream
          .schema(graft.streaming.DocStream.documentsSchema)
          .parquet(dir), budgets = Map("w" -> 100L),
        defaultBudget = 1000L)
      .writeStream.format("memory").queryName("tokbudget_waves")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def snap() = spark.table("tokbudget_waves").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("cum_tokens"), r.getAs[Int]("admitted"))).toMap
      assert(snap() === Map(1L -> (60L, 1), 10L -> (9L, 1)))
      wave(Seq((2L, "w", 70L)))
      q.processAllAvailable()
      assert(snap()(2L) === ((0L, 0)), "70 overshoots the remaining 40")
      wave(Seq((3L, "w", 5L), (11L, "x", 9L)))
      q.processAllAvailable()
      val w3 = snap()
      assert(w3(3L) === ((0L, 0)),
        "the overshoot closed stratum w — a later fitting doc stays out")
      assert(w3(11L) === ((18L, 1)), "other strata keep admitting")
    } finally q.stop()
  }
}
