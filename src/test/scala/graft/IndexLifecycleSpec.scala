package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{LayoutOps, TextOps, VectorOps}

/**
 * The r17 maintenance half of the persisted-index lifecycle
 * (VERDICT r16 #3 + the ADVICE r16 replay findings):
 *
 *  - every family's `rebuild*IndexPointer` retrains/canonicalizes into
 *    a new generation of a pointer root and publishes it with one
 *    pointer write — a crash in EVERY window leaves the old
 *    generation answering identically, a completed rebuild answers
 *    like a fresh build over the full corpus (duplicate rows from
 *    replayed appends purged), and a plain (pointer-less) index
 *    directory is refused untouched;
 *  - the probe paths (`ivfIndexTopK` / `ivfPqIndexTopK`) absorb
 *    at-least-once replayed appends via the rank-window dedup — a
 *    duplicated neighbor must not take two ranks and displace a
 *    genuine one;
 *  - `ivfIndexDiskStats` lists through the Hadoop FileSystem API
 *    (works on any scheme, exercised via an explicit `file:` URI);
 *  - `ivfIndexStats` reports NULL ratios (never NaN) on an index with
 *    zero indexed vectors;
 *  - `semanticContaminationIndexed` at nProbe >= nCells equals the
 *    broadcast path exactly;
 *  - each family's written tables (schema with `part`, and an
 *    order-independent row digest) after build, append, replayed append
 *    and retune, and its missing- and legacy-manifest refusal texts.
 */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def emb(n: Int, dims: Int = 8, patterns: Int = 8): DataFrame =
    spark.range(n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)), d =>
        (cos(($"id" % patterns + 1) * (d + 1)) + 0.1).cast("float"))
        .as("embedding"))

  private def topkRows(path: String, probes: DataFrame): Seq[Row] =
    VectorOps.ivfIndexTopK(probes, path, k = 5, nProbe = 2)
      .orderBy("probe_id", "rnk").collect().toSeq

  private val bmCorpus = Seq(
    (0L, "hash join beats sort merge join when one side broadcasts"),
    (1L, "vector search over a hash partitioned index"),
    (2L, "join join join repeated join terms stress tf"),
    (3L, "completely unrelated prose about microscopes"),
    (4L, "hash vector hash vector alternating terms"),
    (5L, "a long tail document mentioning vector once among filler"),
    (6L, "hash tables and join order in a vector database")
  ).toDF("doc_id", "text")
  private val bmTerms = Seq("hash", "join", "vector")

  private def bmRows(path: String): Seq[(Int, Long, Double)] =
    TextOps.bm25AgainstIndex(spark, path, bmTerms).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))).toSeq.sortBy(_._1)

  test("rebuildIvfIndexPointer: nParts re-size re-fans the layout and " +
      "answers are unchanged") {
    val e = emb(64)
    val root = java.nio.file.Files
      .createTempDirectory("ilc_ivf_np").toString
    val gen1 = LayoutOps.withPointerGeneration(spark, root)(g =>
      VectorOps.buildIvfIndex(e, g, nCentroids = 8, iters = 1,
        nParts = 64))
    val probes = e.filter($"vec_id" < 4)
    val before = topkRows(gen1, probes)
    VectorOps.rebuildIvfIndexPointer(spark, root, nParts = 4)
    val live = LayoutOps.resolveIndexPointer(spark, root)
    val dirs = new java.io.File(s"$live/vectors").listFiles()
      .filter(_.getName.startsWith("part=")).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.size <= 4,
      s"expected <= 4 part dirs after re-size, got $dirs")
    assert(spark.read.parquet(s"$live/params")
      .head().getAs[Int]("n_parts") === 4,
      "manifest must record the new fan-out for later readers")
    assert(topkRows(live, probes) === before)
    spark.catalog.clearCache()
  }

  test("rebuildBm25IndexPointer: canonicalizes a replayed-append index " +
      "to a fresh full build — dedup, stats, layout, answers") {
    val root = java.nio.file.Files
      .createTempDirectory("ilc_bm_rb").toString
    val fresh = java.nio.file.Files
      .createTempDirectory("ilc_bm_fresh").toString
    val gen1 = LayoutOps.withPointerGeneration(spark, root)(g =>
      TextOps.buildBm25Index(bmCorpus.filter($"doc_id" < 4L), g))
    val inc = bmCorpus.filter($"doc_id" >= 4L)
    TextOps.appendToBm25Index(inc, gen1)
    TextOps.appendToBm25Index(inc, gen1) // at-least-once replay
    TextOps.buildBm25Index(bmCorpus, fresh)
    val dupPostings = spark.read.parquet(s"$gen1/postings").count()
    TextOps.rebuildBm25IndexPointer(spark, root)
    val live = LayoutOps.resolveIndexPointer(spark, root)
    assert(spark.read.parquet(s"$live/postings").count() <
      dupPostings, "replayed posting rows must be purged from disk")
    assert(spark.read.parquet(s"$live/postings").count() ===
      spark.read.parquet(s"$fresh/postings").count())
    assert(spark.read.parquet(s"$live/doclens").count() === 7L)
    val st = spark.read.parquet(s"$live/stats").head()
    val sf = spark.read.parquet(s"$fresh/stats").head()
    assert(st.getAs[Long]("n_docs") === sf.getAs[Long]("n_docs"))
    assert(st.getAs[Long]("sum_dl") === sf.getAs[Long]("sum_dl"))
    assert(bmRows(live) === bmRows(fresh))
    // nParts re-size through the same path
    TextOps.rebuildBm25IndexPointer(spark, root, nParts = 4)
    val resized = LayoutOps.resolveIndexPointer(spark, root)
    assert(spark.read.parquet(s"$resized/params")
      .head().getAs[Int]("n_parts") === 4)
    assert(bmRows(resized) === bmRows(fresh))
    spark.catalog.clearCache()
  }

  test("ivfIndexTopK / ivfPqIndexTopK with absorbReplays absorb a " +
      "replayed append — the duplicated neighbor keeps ONE rank and " +
      "displaces nothing — and the flag is a no-op on a clean index " +
      "(ADVICE r16)") {
    val e = emb(64)
    val once = java.nio.file.Files
      .createTempDirectory("ilc_ivf_once").toString
    val twice = java.nio.file.Files
      .createTempDirectory("ilc_ivf_twice").toString
    val build = e.filter($"vec_id" % 2 === 0)
    val inc = e.filter($"vec_id" % 2 =!= 0)
    for (p <- Seq(once, twice)) {
      VectorOps.buildIvfIndex(build, p, nCentroids = 8, iters = 1)
      VectorOps.appendToIvfIndex(inc, p)
    }
    VectorOps.appendToIvfIndex(inc, twice) // the replay
    val probes = e.filter($"vec_id" < 4)
    def rows(path: String, absorb: Boolean) =
      VectorOps.ivfIndexTopK(probes, path, k = 5, nProbe = 2,
        absorbReplays = absorb).orderBy("probe_id", "rnk")
        .collect().toSeq
    // clean index: the flag changes nothing (the dedup is a no-op)
    assert(rows(once, absorb = false) === rows(once, absorb = true))
    // replayed index: absorbReplays answers exactly like the clean twin
    val r1 = rows(once, absorb = false)
    val r2 = rows(twice, absorb = true)
    assert(r1 === r2, "replayed rows must not displace genuine neighbors")
    assert(r1.map(r => (r.getLong(0), r.getLong(3))).distinct.size ===
      r1.size, "no neighbor may take two ranks")
    // and the DEFAULT read on the replayed index shows the documented
    // degradation (duplicate ranks) — the reason the crash-to-rebuild
    // window needs the flag or the rebuild
    val rDefault = rows(twice, absorb = false)
    assert(rDefault.map(r => (r.getLong(0), r.getLong(3))).distinct.size <
      rDefault.size, "fixture must demonstrate the duplicate-rank hazard")

    val e16 = emb(64, dims = 16, patterns = 6)
    val pOnce = java.nio.file.Files
      .createTempDirectory("ilc_pq_once").toString
    val pTwice = java.nio.file.Files
      .createTempDirectory("ilc_pq_twice").toString
    // PQ seeding needs vec_id < kCent at build time, so the split is
    // by range, not parity
    for (p <- Seq(pOnce, pTwice)) {
      VectorOps.buildIvfPqIndex(e16.filter($"vec_id" < 32), p,
        m = 4, kCent = 8, nCentroids = 8)
      VectorOps.appendToIvfPqIndex(e16.filter($"vec_id" >= 32), p)
    }
    VectorOps.appendToIvfPqIndex(e16.filter($"vec_id" >= 32), pTwice)
    def pqRows(path: String, absorb: Boolean) =
      VectorOps.ivfPqIndexTopK(e16.filter($"vec_id" < 4), path, k = 5,
        nProbe = 2, absorbReplays = absorb)
        .orderBy("probe_id", "rnk").collect().toSeq
    assert(pqRows(pOnce, absorb = false) === pqRows(pTwice, absorb = true))
    spark.catalog.clearCache()
  }

  test("rebuildIvfPqIndexPointer: retrain-from-source over " +
      "build+replayed-append equals a fresh full build (codes are " +
      "lossy, so the corpus is the argument)") {
    val e16 = emb(64, dims = 16, patterns = 6)
    val root = java.nio.file.Files
      .createTempDirectory("ilc_pq_rb").toString
    val fresh = java.nio.file.Files
      .createTempDirectory("ilc_pq_fresh").toString
    val gen1 = LayoutOps.withPointerGeneration(spark, root)(g =>
      VectorOps.buildIvfPqIndex(e16.filter($"vec_id" < 32), g,
        m = 4, kCent = 8, nCentroids = 8))
    val rest = e16.filter($"vec_id" >= 32)
    VectorOps.appendToIvfPqIndex(rest, gen1)
    VectorOps.appendToIvfPqIndex(rest, gen1) // at-least-once replay
    assert(spark.read.parquet(s"$gen1/codes").count() === 96L)
    VectorOps.rebuildIvfPqIndexPointer(e16, root) // params from manifest
    VectorOps.buildIvfPqIndex(e16, fresh, m = 4, kCent = 8,
      nCentroids = 8)
    val dirty = LayoutOps.resolveIndexPointer(spark, root)
    assert(spark.read.parquet(s"$dirty/codes").count() === 64L,
      "replayed code rows must be purged")
    assert(spark.read.parquet(s"$dirty/pq_book").collect().toSeq ===
      spark.read.parquet(s"$fresh/pq_book").collect().toSeq)
    def pqRows(path: String) =
      VectorOps.ivfPqIndexTopK(e16.filter($"vec_id" < 4), path, k = 5,
        nProbe = 2).orderBy("probe_id", "rnk").collect().toSeq
    assert(pqRows(dirty) === pqRows(fresh))
    spark.catalog.clearCache()
  }

  test("rebuildMinhashIndexPointer: re-derives from STORED shingles — " +
      "same-params rebuild equals a fresh build through a replayed " +
      "append, and a re-band retune equals a fresh build at the new " +
      "parameters (no corpus text re-read)") {
    import graft.operators.TextOps
    val docs = (0L until 24L).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta token$i word${i % 7}"
      (i, if (i % 6 == 5) s"alpha beta gamma delta epsilon zeta token${i - 1} word${(i - 1) % 7}" else base)
    }.toDF("doc_id", "text")
    val ref = docs.filter($"doc_id" % 2 === 0)
    val inc = docs.filter($"doc_id" % 2 === 0 && $"doc_id" % 4 =!= 0)
    val build = docs.filter($"doc_id" % 4 === 0)
    val queries = docs.filter($"doc_id" % 2 =!= 0)
    def hits(path: String, k: Int = 3, nh: Int = 12, b: Int = 4) =
      TextOps.nearDupAgainstIndex(queries, path, threshold = 0.3,
        k = k, numHashes = nh, bands = b)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSeq.sorted
    val root = java.nio.file.Files
      .createTempDirectory("ilc_mh_rb").toString
    val fresh = java.nio.file.Files
      .createTempDirectory("ilc_mh_fresh").toString
    val gen1 = LayoutOps.withPointerGeneration(spark, root)(g =>
      TextOps.buildMinhashIndex(build, g))
    TextOps.appendToMinhashIndex(inc, gen1)
    TextOps.appendToMinhashIndex(inc, gen1) // at-least-once replay
    TextOps.buildMinhashIndex(ref, fresh)
    val dupShingles = spark.read.parquet(s"$gen1/shingles").count()
    assert(dupShingles > ref.count(),
      "fixture must actually hold replayed shingle rows")
    TextOps.rebuildMinhashIndexPointer(spark, root)
    val dirty = LayoutOps.resolveIndexPointer(spark, root)
    assert(spark.read.parquet(s"$dirty/shingles").count() === ref.count(),
      "replayed shingle rows must be purged")
    assert(hits(dirty) === hits(fresh))
    assert(hits(dirty).nonEmpty, "fixture must produce near-dup hits")
    // the retune: re-band 4 -> 6 from stored shingles; equals a fresh
    // build at the new parameters, and the OLD parameters are refused
    TextOps.rebuildMinhashIndexPointer(spark, root, bands = 6)
    val retuned = LayoutOps.resolveIndexPointer(spark, root)
    val fresh6 = java.nio.file.Files
      .createTempDirectory("ilc_mh_f6").toString
    TextOps.buildMinhashIndex(ref, fresh6, bands = 6)
    assert(hits(retuned, b = 6) === hits(fresh6, b = 6))
    val ex = intercept[IllegalArgumentException] {
      TextOps.nearDupAgainstIndex(queries, retuned, threshold = 0.3)
        .collect()
    }
    assert(ex.getMessage.contains("bands"))
    spark.catalog.clearCache()
  }

  test("ivfIndexDiskStats goes through the Hadoop FileSystem API: an " +
      "explicit file: URI lists identically to the bare path, and a " +
      "missing layout still refuses loudly") {
    val e = emb(48)
    val path = java.nio.file.Files
      .createTempDirectory("ilc_disk").toString
    VectorOps.buildIvfIndex(e, path, nCentroids = 8, iters = 1)
    val bare = VectorOps.ivfIndexDiskStats(spark, path).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val uri = VectorOps.ivfIndexDiskStats(spark, s"file:$path").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(bare === uri)
    assert(bare.nonEmpty && bare.forall(_._3 > 0L))
    val ex = intercept[IllegalArgumentException] {
      VectorOps.ivfIndexDiskStats(spark, s"file:$path/nosuch")
    }
    assert(ex.getMessage.contains("no vectors layout"))
    spark.catalog.clearCache()
  }

  test("ivfIndexStats on an index with zero indexed vectors: NULL " +
      "ratios, never NaN") {
    val path = java.nio.file.Files
      .createTempDirectory("ilc_empty").toString
    emb(4).filter($"vec_id" < 2)
      .select($"vec_id".cast("long").as("centroid_id"),
        transform($"embedding", v => v.cast("long")).as("qc"))
      .write.parquet(s"$path/centroids")
    // a schema-complete but EMPTY lists table (built, then every
    // append crashed)
    emb(4).select($"vec_id", $"embedding", lit(0L).as("cluster"))
      .filter(lit(false)).write.parquet(s"$path/vectors")
    val rows = VectorOps.ivfIndexStats(spark, path).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vecs") === 0L)
      assert(r.isNullAt(r.fieldIndex("frac")),
        "frac over an empty corpus must be NULL, not NaN")
      assert(r.isNullAt(r.fieldIndex("imbalance")))
    }
    spark.catalog.clearCache()
  }

  test("semanticContaminationIndexed at nProbe >= nCells equals the " +
      "broadcast path exactly — INCLUDING when train and eval vec_id " +
      "spaces collide (independent numberings; an always-on " +
      "self-exclusion silently passed exactly that leakage)") {
    // train ids 0..59 and eval ids 0..5 OVERLAP on 0..5 — the normal
    // case for independently-numbered corpora. emb() is deterministic
    // by id, so train doc 0 IS eval item 0's exact paraphrase
    // (cosine 1.0): the contamination gate must flag it, not drop it
    // as a "self match".
    val train = emb(60, patterns = 7)
    val eval = emb(6, patterns = 7)
    val path = java.nio.file.Files
      .createTempDirectory("ilc_semidx").toString
    VectorOps.buildIvfIndex(eval, path, nCentroids = 32, iters = 2)
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("eval_id"),
        r.getAs[Double]("max_sim"))).toSeq.sortBy(_._1)
    val direct = canon(
      VectorOps.semanticContamination(train, eval, threshold = 0.5))
    val indexed = canon(VectorOps.semanticContaminationIndexed(
      train, path, threshold = 0.5, nProbe = 32))
    assert(direct.nonEmpty, "threshold too high — fixture flags nothing")
    assert(direct.exists { case (d, e2, s) => d == e2 && s == 1.0 },
      "fixture must contain a colliding-id exact paraphrase")
    assert(indexed === direct)
    spark.catalog.clearCache()
  }

  test("rebuildSimhashIndexPointer: the sixth family's lifecycle — " +
      "same-params rebuild purges a replayed append and equals a fresh " +
      "build; a 4→8 re-band RETUNE from stored sigs equals a fresh " +
      "build at the new banding, also straight from the dirty " +
      "generation") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "entirely unrelated reference material"),
      (102L, "the quick brown fox jumps over the lazy dog"),
      (103L, "another later crawl increment document")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat")
    ).toDF("doc_id", "text")
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    def pairs(p: String, bands: Int = 4) =
      TextOps.simhashAgainstIndex(probe, p, maxHamming = 10,
          bands = bands).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id"),
          r.getAs[Int]("hamming"))).toSet
    def bandRows(p: String) = spark.read.parquet(s"$p/bands")
      .select("band", "chunk", "ref_id", "bn").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet

    // dirty: half build + half append + that append REPLAYED
    val dirtyRoot = tmp("shrb_dirty")
    val fresh = tmp("shrb_fresh")
    val dirty = LayoutOps.withPointerGeneration(spark, dirtyRoot)(g =>
      TextOps.buildSimhashIndex(ref.filter($"doc_id" <= 101L), g))
    TextOps.appendToSimhashIndex(ref.filter($"doc_id" >= 102L), dirty)
    TextOps.appendToSimhashIndex(ref.filter($"doc_id" >= 102L), dirty)
    assert(spark.read.parquet(s"$dirty/sigs").count() === 6L,
      "fixture must actually hold replayed duplicate sig rows")
    TextOps.rebuildSimhashIndexPointer(spark, dirtyRoot)
    TextOps.buildSimhashIndex(ref, fresh)
    val rebuilt = LayoutOps.resolveIndexPointer(spark, dirtyRoot)
    assert(spark.read.parquet(s"$rebuilt/sigs").count() === 4L,
      "rebuild must purge replayed sig rows from disk")
    assert(bandRows(rebuilt) === bandRows(fresh))
    assert(pairs(rebuilt) === pairs(fresh) && pairs(rebuilt).nonEmpty)

    // the RETUNE: 4 -> 8 bands from STORED sigs (no corpus text);
    // old banding refused afterwards
    val fresh8 = tmp("shrb_fresh8")
    TextOps.rebuildSimhashIndexPointer(spark, dirtyRoot, bands = 8)
    TextOps.buildSimhashIndex(ref, fresh8, bands = 8)
    val retuned = LayoutOps.resolveIndexPointer(spark, dirtyRoot)
    assert(bandRows(retuned) === bandRows(fresh8))
    assert(pairs(retuned, bands = 8) === pairs(fresh8, bands = 8))
    val e = intercept[IllegalArgumentException] {
      TextOps.simhashAgainstIndex(probe, retuned, maxHamming = 10)
    }
    assert(e.getMessage.contains("built with bands=8"))

    // a one-step 4 -> 8 retune straight from a dirty generation
    val root = tmp("shrb_root")
    val gen1 = LayoutOps.withPointerGeneration(spark, root)(g =>
      TextOps.buildSimhashIndex(ref.filter($"doc_id" <= 101L), g))
    TextOps.appendToSimhashIndex(ref.filter($"doc_id" >= 102L), gen1)
    TextOps.appendToSimhashIndex(ref.filter($"doc_id" >= 102L), gen1)
    TextOps.rebuildSimhashIndexPointer(spark, root, bands = 8)
    val live = LayoutOps.resolveIndexPointer(spark, root)
    assert(live.endsWith("gen-00002"))
    assert(bandRows(live) === bandRows(fresh8))
    assert(pairs(live, bands = 8) === pairs(fresh8, bands = 8))
    spark.catalog.clearCache()
  }

  test("a SimHash bands table without sig (the pre-r19 layout) is refused " +
      "by both simhashAgainstIndex and appendToSimhashIndex") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "entirely unrelated reference material")
    ).toDF("doc_id", "text")
    val built = java.nio.file.Files.createTempDirectory("sh_built").toString
    val legacy = java.nio.file.Files.createTempDirectory("sh_legacy").toFile
    TextOps.buildSimhashIndex(ref, built)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(built), legacy)
    spark.read.parquet(s"$built/bands").drop("sig")
      .write.mode("overwrite").partitionBy("part").parquet(s"$legacy/bands")
    val q = intercept[IllegalArgumentException](
      TextOps.simhashAgainstIndex(ref, legacy.toString))
    val a = intercept[IllegalArgumentException](
      TextOps.appendToSimhashIndex(ref, legacy.toString))
    for ((e, use) <- Seq((q, "querying"), (a, "appending")))
      assert(e.getMessage.contains("pre-r19 layout") &&
        e.getMessage.contains(s"buildSimhashIndex) before $use"), e.getMessage)
  }

  test("ivfPqIndexTopK excludeSelf = false keeps colliding-id pairs — " +
      "the PQ twin of the r17 silent-leakage fix (ADVICE r17)") {
    val e16 = emb(64, dims = 16, patterns = 6)
    val path = java.nio.file.Files
      .createTempDirectory("ilc_pq_self").toString
    VectorOps.buildIvfPqIndex(e16, path, m = 4, kCent = 8, nCentroids = 8)
    // probe ids 0..3 COLLIDE with indexed ids 0..3 — under independent
    // numberings those are different vectors that must still rank
    val probes = e16.filter($"vec_id" < 4)
    val withSelf = VectorOps.ivfPqIndexTopK(probes, path, k = 5,
      nProbe = 8, excludeSelf = false)
    assert(withSelf.filter($"neighbor_id" === $"probe_id").count() === 4L,
      "every probe's colliding id must rank (ADC distance 0 to itself)")
    // the default keeps the probe-is-in-the-index contract
    assert(VectorOps.ivfPqIndexTopK(probes, path, k = 5, nProbe = 8)
      .filter($"neighbor_id" === $"probe_id").count() === 0L)
    spark.catalog.clearCache()
  }

  test("dedupReplayRows is null-exact dropDuplicates over the rank " +
      "window: NULL ids dedup like equal values and the group's first " +
      "row survives (ADVICE r17)") {
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy($"probe_id")
      .orderBy($"score".desc, $"neighbor_id".asc)
    val rows = Seq[(Long, java.lang.Long, java.lang.Double)](
      (1L, 10L, 0.9), (1L, 10L, 0.9),           // classic replay pair
      (1L, null, 0.5), (1L, null, 0.5),         // replayed NULL-id rows
      (1L, null, 0.4),                          // NULL id, distinct score
      (2L, null, 0.7)                           // lone NULL id
    ).toDF("probe_id", "neighbor_id", "score")
    val got = VectorOps.dedupReplayRows(rows, wRank, "score")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getDouble(2))).toSet
    assert(got === Set((1L, Some(10L), 0.9), (1L, None, 0.5),
      (1L, None, 0.4), (2L, None, 0.7)),
      s"expected exact dropDuplicates-on-window semantics, got $got")
  }

  test("rebuild*IndexPointer refuses a plain index directory (no _ptr/) " +
      "for all five families: IllegalArgumentException naming " +
      "withPointerGeneration, directory listing unchanged") {
    val e = emb(64)
    val e16 = emb(64, dims = 16, patterns = 6)
    def listing(dir: String): Seq[(String, Long)] = {
      val base = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(base)
      try {
        val it = walk.iterator()
        val out = Seq.newBuilder[(String, Long)]
        while (it.hasNext) {
          val f = it.next()
          out += ((base.relativize(f).toString, f.toFile.length))
        }
        out.result().sorted
      } finally walk.close()
    }
    val families: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("ivf", p => VectorOps.buildIvfIndex(e, p, nCentroids = 8,
        iters = 1), p => VectorOps.rebuildIvfIndexPointer(spark, p)),
      ("ivfpq", p => VectorOps.buildIvfPqIndex(e16, p, m = 4, kCent = 8,
        nCentroids = 8), p => VectorOps.rebuildIvfPqIndexPointer(e16, p)),
      ("bm25", p => TextOps.buildBm25Index(bmCorpus, p),
        p => TextOps.rebuildBm25IndexPointer(spark, p)),
      ("minhash", p => TextOps.buildMinhashIndex(bmCorpus, p),
        p => TextOps.rebuildMinhashIndexPointer(spark, p)),
      ("simhash", p => TextOps.buildSimhashIndex(bmCorpus, p),
        p => TextOps.rebuildSimhashIndexPointer(spark, p)))
    for ((name, build, rebuild) <- families) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"ilc_plain_$name").toString
      build(dir)
      val before = listing(dir)
      assert(before.exists(_._1.endsWith(".parquet")),
        s"$name: fixture must hold a built index")
      val ex = intercept[IllegalArgumentException](rebuild(dir))
      assert(ex.getMessage.contains("withPointerGeneration"),
        s"$name: refusal must name the migration path: ${ex.getMessage}")
      assert(listing(dir) === before,
        s"$name: a refused rebuild must leave the directory untouched")
    }
    spark.catalog.clearCache()
  }

  test("pointer lifecycle: first publish, replayed append, " +
      "rebuildIvfIndexPointer — the rename-free object-store protocol, " +
      "simulated on file:; history pruned to live + rollback") {
    val e = emb(64)
    val root = java.nio.file.Files
      .createTempDirectory("ilc_ptr_root").toString
    val fresh = java.nio.file.Files
      .createTempDirectory("ilc_ptr_fresh").toString
    // first publish IS the wrapper: no special-case bootstrap
    val gen1 = LayoutOps.withPointerGeneration(spark, root)(g =>
      VectorOps.buildIvfIndex(e.filter($"vec_id" % 2 === 0), g,
        nCentroids = 8, iters = 2))
    assert(gen1.endsWith("gen-00001"))
    assert(LayoutOps.resolveIndexPointer(spark, root) === gen1)
    // appends target the resolved LIVE generation, unchanged API
    val odd = e.filter($"vec_id" % 2 =!= 0)
    VectorOps.appendToIvfIndex(odd, gen1)
    VectorOps.appendToIvfIndex(odd, gen1) // at-least-once replay
    assert(spark.read.parquet(s"$gen1/vectors").count() === 96L)
    VectorOps.rebuildIvfIndexPointer(spark, root)
    val live = LayoutOps.resolveIndexPointer(spark, root)
    assert(live.endsWith("gen-00002"), s"live moved to $live")
    VectorOps.buildIvfIndex(e, fresh, nCentroids = 8, iters = 2)
    // dedup happened on disk; retrain equals a fresh full build
    assert(spark.read.parquet(s"$live/vectors").count() === 64L)
    assert(spark.read.parquet(s"$live/centroids").collect().toSet ===
      spark.read.parquet(s"$fresh/centroids").collect().toSet)
    val probes = e.filter($"vec_id" < 4)
    assert(topkRows(live, probes) === topkRows(fresh, probes))
    // the predecessor generation is retained for rollback — and after
    // a THIRD publish, pruning keeps exactly live + previous
    VectorOps.rebuildIvfIndexPointer(spark, root)
    val gens = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).toSet
    assert(gens === Set("gen-00002", "gen-00003"), s"got $gens")
    assert(LayoutOps.resolveIndexPointer(spark, root)
      .endsWith("gen-00003"))
    spark.catalog.clearCache()
  }

  test("pointer lifecycle covers ALL FOUR index families: bm25 " +
      "canonicalize, ivf-pq retrain-from-source, and the minhash " +
      "retune all publish through generations and answer like a fresh " +
      "build") {
    def tmpDir(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString

    // BM25: replayed append canonicalized, answers == fresh build
    val bmRoot = tmpDir("ilc_ptr_bm")
    val bmFresh = tmpDir("ilc_ptr_bmf")
    val gen1 = LayoutOps.withPointerGeneration(spark, bmRoot)(g =>
      TextOps.buildBm25Index(bmCorpus.filter($"doc_id" < 4), g))
    val rest = bmCorpus.filter($"doc_id" >= 4)
    TextOps.appendToBm25Index(rest, gen1)
    TextOps.appendToBm25Index(rest, gen1) // at-least-once replay
    TextOps.rebuildBm25IndexPointer(spark, bmRoot)
    TextOps.buildBm25Index(bmCorpus, bmFresh)
    val bmLive = LayoutOps.resolveIndexPointer(spark, bmRoot)
    assert(bmLive.endsWith("gen-00002"))
    assert(spark.read.parquet(s"$bmLive/postings").count() ===
      spark.read.parquet(s"$bmFresh/postings").count(),
      "replayed posting rows must be purged")
    assert(bmRows(bmLive) === bmRows(bmFresh))

    // IVF-PQ: retrain-from-source (codes are lossy) through the root
    val e16 = emb(64, dims = 16, patterns = 6)
    val pqRoot = tmpDir("ilc_ptr_pq")
    val pqFresh = tmpDir("ilc_ptr_pqf")
    val pqGen1 = LayoutOps.withPointerGeneration(spark, pqRoot)(g =>
      VectorOps.buildIvfPqIndex(e16.filter($"vec_id" < 32), g,
        m = 4, kCent = 8, nCentroids = 8))
    val restPq = e16.filter($"vec_id" >= 32)
    VectorOps.appendToIvfPqIndex(restPq, pqGen1)
    VectorOps.appendToIvfPqIndex(restPq, pqGen1)
    VectorOps.rebuildIvfPqIndexPointer(e16, pqRoot)
    VectorOps.buildIvfPqIndex(e16, pqFresh, m = 4, kCent = 8,
      nCentroids = 8)
    val pqLive = LayoutOps.resolveIndexPointer(spark, pqRoot)
    def pqRows(p: String) =
      VectorOps.ivfPqIndexTopK(e16.filter($"vec_id" < 4), p, k = 5,
        nProbe = 2).orderBy("probe_id", "rnk").collect().toSeq
    assert(spark.read.parquet(s"$pqLive/codes").count() === 64L)
    assert(pqRows(pqLive) === pqRows(pqFresh))

    // MinHash: the 4→6 re-band RETUNE from stored shingles
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "the quick brown fox jumps over the lazy dog at dusk"),
      (2L, "completely different content about spark physical plans"),
      (3L, "another unrelated string mentioning parquet row groups")
    ).toDF("doc_id", "text")
    val mhRoot = tmpDir("ilc_ptr_mh")
    val mhFresh = tmpDir("ilc_ptr_mhf")
    val mhGen1 = LayoutOps.withPointerGeneration(spark, mhRoot)(g =>
      TextOps.buildMinhashIndex(docs, g, k = 3, numHashes = 12,
        bands = 4))
    TextOps.rebuildMinhashIndexPointer(spark, mhRoot, numHashes = 12,
      bands = 6)
    TextOps.buildMinhashIndex(docs, mhFresh, k = 3, numHashes = 12,
      bands = 6)
    val mhLive = LayoutOps.resolveIndexPointer(spark, mhRoot)
    assert(mhLive !== mhGen1)
    val probe = Seq((10L, "the quick brown fox jumps over the lazy " +
      "dog tonight")).toDF("doc_id", "text")
    def mhRows(p: String) = TextOps.nearDupAgainstIndex(probe, p,
        k = 3, numHashes = 12, bands = 6, threshold = 0.5)
      .orderBy("doc_id", "ref_id").collect().toSeq
    assert(spark.read.parquet(s"$mhLive/bands").collect().toSet ===
      spark.read.parquet(s"$mhFresh/bands").collect().toSet)
    assert(mhRows(mhLive) === mhRows(mhFresh) && mhRows(mhLive).nonEmpty)
    spark.catalog.clearCache()
  }

  test("pointer protocol model stress: 300 seeded random ops (publish, " +
      "rollback, torn pointer, stranded generation, junk bytes, " +
      "recover) — resolution NEVER leaves the published set and every " +
      "crash injection is survived") {
    val root = java.nio.file.Files
      .createTempDirectory("ilc_ptr_model").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val rnd = new scala.util.Random(0x9027E18L)
    // model state: generations that completed a commitPointerSwap, in
    // publish order (resolution must always land on one of these; the
    // newest is live unless a rollback re-pointed)
    var published = Vector.empty[String]
    var expectedLive: Option[String] = None
    def mkGen(): String = {
      val gen = LayoutOps.pointerStagingPath(spark, root)
      fs.mkdirs(new org.apache.hadoop.fs.Path(gen))
      val out = fs.create(
        new org.apache.hadoop.fs.Path(gen, "payload"), false)
      try out.write(gen.getBytes("UTF-8")) finally out.close()
      gen
    }
    def writePtr(name: String, content: String): Unit = {
      // crashes can only tear NEW pointer objects — the protocol never
      // rewrites a completed one, so neither does the injection
      val p = new org.apache.hadoop.fs.Path(s"$root/_ptr/$name")
      if (!fs.exists(p)) {
        val out = fs.create(p, false)
        try out.write(content.getBytes("UTF-8")) finally out.close()
      }
    }
    var i = 0
    while (i < 300) {
      rnd.nextInt(6) match {
        case 0 | 1 => // clean publish
          val gen = mkGen()
          LayoutOps.commitPointerSwap(spark, root, gen)
          published :+= gen
          expectedLive = Some(gen)
        case 2 => // rollback when a predecessor exists
          if (published.size >= 2 && expectedLive.isDefined) {
            val live = LayoutOps.rollbackIndexPointer(spark, root)
            // rollback lands on a published generation != previous live
            assert(published.contains(live) &&
              !expectedLive.contains(live))
            expectedLive = Some(live)
          }
        case 3 => // crash mid-build: stranded unpublished generation
          mkGen(): Unit
        case 4 => // crash mid-pointer-write: torn prefix of a real form
          val n = 1 + rnd.nextInt(99998)
          val full = f"gen-$n%05d"
          writePtr(f"ptr-$n%05d",
            full.take(rnd.nextInt(full.length))) // STRICT prefix
        case 5 => // junk pointer bytes
          writePtr(f"ptr-${1 + rnd.nextInt(99998)}%05d",
            rnd.nextString(rnd.nextInt(20)))
      }
      // the invariant, checked after EVERY op: if anything was ever
      // published, resolution lands on a fully-published generation —
      // never a stranded or torn target
      if (expectedLive.isDefined) {
        val r1 = LayoutOps.resolveIndexPointer(spark, root)
        assert(published.contains(r1),
          s"op $i: resolved $r1 is not a published generation")
        assert(r1 === expectedLive.get,
          s"op $i: a crash injection moved the live generation")
        LayoutOps.recoverPointerSwap(spark, root)
        val r2 = LayoutOps.resolveIndexPointer(spark, root)
        assert(r2 === r1,
          s"op $i: recovery changed resolution $r1 -> $r2")
      } else {
        LayoutOps.recoverPointerSwap(spark, root) // must not throw
      }
      i += 1
    }
    assert(published.size > 50, "fixture must actually publish")
  }

  test("rollbackIndexPointer re-points to the retained predecessor " +
      "with one pointer write; a second rollback rolls forward; torn " +
      "rollback pointers can never alias") {
    val root = java.nio.file.Files
      .createTempDirectory("ilc_ptr_rb").toString
    // two generations with DIFFERENT content so answers distinguish them
    val g1 = LayoutOps.withPointerGeneration(spark, root)(g =>
      VectorOps.buildIvfIndex(emb(32, patterns = 4), g,
        nCentroids = 4, iters = 1))
    val g2 = LayoutOps.withPointerGeneration(spark, root)(g =>
      VectorOps.buildIvfIndex(emb(64), g, nCentroids = 8, iters = 1))
    assert(LayoutOps.resolveIndexPointer(spark, root) === g2)
    val probes = emb(4)
    val a1 = topkRows(g1, probes)
    val a2 = topkRows(g2, probes)
    assert(a1 !== a2, "fixture generations must answer differently")
    // roll back: gen-00001 is live again, gen-00002 retained
    assert(LayoutOps.rollbackIndexPointer(spark, root) === g1)
    assert(LayoutOps.resolveIndexPointer(spark, root) === g1)
    assert(topkRows(LayoutOps.resolveIndexPointer(spark, root),
      probes) === a1)
    // ... so a second rollback rolls FORWARD again
    assert(LayoutOps.rollbackIndexPointer(spark, root) === g2)
    assert(topkRows(LayoutOps.resolveIndexPointer(spark, root),
      probes) === a2)
    // a torn rollback pointer (prefix of "gen-00001 ptr-00005") must
    // not alias to gen-00001 — the self-naming token is lost
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val torn = new org.apache.hadoop.fs.Path(s"$root/_ptr/ptr-00005")
    val out = fs.create(torn, false)
    try out.write("gen-00001".getBytes("UTF-8")) finally out.close()
    assert(LayoutOps.resolveIndexPointer(spark, root) === g2,
      "a torn rollback pointer must not resolve")
    LayoutOps.recoverPointerSwap(spark, root)
    assert(!fs.exists(torn))
    assert(LayoutOps.resolveIndexPointer(spark, root) === g2)
    // a root with a single generation refuses the rollback loudly
    val lone = java.nio.file.Files
      .createTempDirectory("ilc_ptr_rb1").toString
    LayoutOps.withPointerGeneration(spark, lone)(g =>
      VectorOps.buildIvfIndex(emb(16, patterns = 4), g,
        nCentroids = 4, iters = 1))
    val ex = intercept[IllegalArgumentException] {
      LayoutOps.rollbackIndexPointer(spark, lone)
    }
    assert(ex.getMessage.contains("no predecessor"))
    spark.catalog.clearCache()
  }

  test("pointer crash windows: a stranded unpublished generation is " +
      "invisible and swept; a TORN pointer write can never alias to " +
      "another generation — resolution falls back, recovery deletes it") {
    val e = emb(64)
    val root = java.nio.file.Files
      .createTempDirectory("ilc_ptr_crash").toString
    val gen1 = LayoutOps.withPointerGeneration(spark, root)(g =>
      VectorOps.buildIvfIndex(e, g, nCentroids = 8, iters = 1))
    val probes = e.filter($"vec_id" < 4)
    val before = topkRows(gen1, probes)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())

    // window 1: crash mid-generation-write (before the pointer PUT) —
    // the complete-but-unpublished stage is invisible and regenerable
    val gen2 = LayoutOps.pointerStagingPath(spark, root)
    VectorOps.buildIvfIndex(e, gen2, nCentroids = 8, iters = 1)
    assert(LayoutOps.resolveIndexPointer(spark, root) === gen1,
      "an unpublished generation must be invisible to readers")
    LayoutOps.recoverPointerSwap(spark, root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(gen2)))
    assert(topkRows(LayoutOps.resolveIndexPointer(spark, root),
      probes) === before)

    // window 2: crash mid-POINTER-write. The validity rule (content ==
    // gen-<the pointer's own number>) makes every torn variant invalid,
    // including the nastiest one: a prefix that happens to NAME AN
    // EXISTING OTHER GENERATION.
    for (torn <- Seq("", "gen-0000", "gen-00001")) {
      val gen2b = LayoutOps.pointerStagingPath(spark, root)
      assert(gen2b.endsWith("gen-00002"))
      VectorOps.buildIvfIndex(e, gen2b, nCentroids = 8, iters = 1)
      val ptr = new org.apache.hadoop.fs.Path(s"$root/_ptr/ptr-00002")
      val out = fs.create(ptr, false)
      try out.write(torn.getBytes("UTF-8")) finally out.close()
      assert(LayoutOps.resolveIndexPointer(spark, root) === gen1,
        s"torn pointer '$torn' must not resolve")
      LayoutOps.recoverPointerSwap(spark, root)
      assert(!fs.exists(ptr) &&
        !fs.exists(new org.apache.hadoop.fs.Path(gen2b)),
        s"recovery must delete the torn pointer '$torn' and its stage")
    }

    // a retry after any crash completes normally and answers like the
    // old index (same corpus, deterministic trainer)
    VectorOps.rebuildIvfIndexPointer(spark, root)
    val live = LayoutOps.resolveIndexPointer(spark, root)
    assert(live.endsWith("gen-00002"))
    assert(topkRows(live, probes) === before)
    // recovery on a healthy root is a no-op
    LayoutOps.recoverPointerSwap(spark, root)
    assert(LayoutOps.resolveIndexPointer(spark, root) === live)
    assert(topkRows(live, probes) === before)
    spark.catalog.clearCache()
  }

  test("append -> rollback -> roll-forward visibility under the pointer " +
      "protocol (VERDICT r18 missing #2): rows appended to the live " +
      "generation vanish on rollback — the predecessor predates them — " +
      "and return on roll-forward; recovery mid-state sweeps nothing") {
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "entirely unrelated reference material")
    ).toDF("doc_id", "text")
    val inc = Seq(
      (102L, "a freshly crawled increment document about microscopes")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (0L, "a freshly crawled increment document about microscopes")
    ).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("ilc_ptr_append").toString
    def hits(): Set[Long] =
      TextOps.simhashAgainstIndex(probe,
          LayoutOps.resolveIndexPointer(spark, root), maxHamming = 10)
        .select("ref_id").collect().map(_.getLong(0)).toSet
    LayoutOps.withPointerGeneration(spark, root)(g =>
      TextOps.buildSimhashIndex(ref, g))
    TextOps.rebuildSimhashIndexPointer(spark, root) // gen-00002 live
    val live = LayoutOps.resolveIndexPointer(spark, root)
    assert(live.endsWith("gen-00002"))
    assert(hits() === Set.empty[Long],
      "fixture probe must not match the pre-append reference")
    // append lands IN the live generation (immutable to the protocol:
    // files added, none renamed or rewritten)
    TextOps.appendToSimhashIndex(inc, live)
    assert(hits() === Set(102L))
    // recovery on the mid-append state: live+predecessor retained,
    // appended rows ride their generation
    LayoutOps.recoverPointerSwap(spark, root)
    assert(hits() === Set(102L))
    // rollback: the predecessor PREDATES the append — rows vanish
    LayoutOps.rollbackIndexPointer(spark, root)
    assert(LayoutOps.resolveIndexPointer(spark, root)
      .endsWith("gen-00001"))
    assert(hits() === Set.empty[Long],
      "appended rows must not be visible from the predecessor")
    // a second rollback rolls FORWARD — the appended rows return
    LayoutOps.rollbackIndexPointer(spark, root)
    assert(hits() === Set(102L))
    spark.catalog.clearCache()
  }

  test("pointer retention (ADVICE r18): retain = 3 keeps a mid-scan " +
      "reader's generation across TWO publishes; default 2 prunes to " +
      "live+predecessor; retain < 2 refused; junk 19+-digit names are " +
      "non-matching, never a resolve/recovery hard-failure") {
    val root = java.nio.file.Files
      .createTempDirectory("ilc_ptr_retain").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def gens(): Set[String] = fs.listStatus(
        new org.apache.hadoop.fs.Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).toSet
    val e = emb(32, patterns = 4)
    def publish(retain: Int): String =
      LayoutOps.withPointerGeneration(spark, root, retain)(g =>
        VectorOps.buildIvfIndex(e, g, nCentroids = 4, iters = 1))
    val g1 = publish(3); publish(3); publish(3)
    assert(gens() === Set("gen-00001", "gen-00002", "gen-00003"),
      "retain = 3 must keep the two-publish-old generation")
    // a reader that resolved g1 BEFORE the two publishes still scans
    VectorOps.ivfIndexTopK(e.limit(2), g1, k = 3, nProbe = 2).collect()
    // default retention prunes back to live + predecessor
    val g4 = publish(2)
    assert(gens() === Set("gen-00003", "gen-00004"))
    val ex = intercept[IllegalArgumentException] {
      LayoutOps.recoverPointerSwap(spark, root, retain = 1)
    }
    assert(ex.getMessage.contains("live+predecessor"))
    // ADVICE r18: a junk name whose digits overflow Long must be
    // ignored (the skip-invalid discipline junk CONTENT already gets),
    // not throw NumberFormatException out of resolve/recovery
    val junk = new org.apache.hadoop.fs.Path(
      s"$root/_ptr/ptr-99999999999999999999")
    val out = fs.create(junk, false)
    try out.write("junk".getBytes("UTF-8")) finally out.close()
    assert(LayoutOps.resolveIndexPointer(spark, root) === g4)
    LayoutOps.recoverPointerSwap(spark, root) // must not throw
    assert(LayoutOps.resolveIndexPointer(spark, root) === g4)
    spark.catalog.clearCache()
  }

  // --- the five families' written layout and refusal texts ----------

  private val pinDocs = (0L until 12L).map { i =>
    (i, s"index layout pin ${i % 4} shared words alpha beta gamma " +
      s"token${i % 5} tail$i")
  }.toDF("doc_id", "text")

  /** `(family, build into a generation, append, retune the root,
    * sub-tables)` for the five index families: built over the first
    * half of their input, the second half appended. */
  private def pinFamilies: Seq[(String, String => Unit, String => Unit,
      String => Unit, Seq[String])] = {
    val (dBase, dInc) =
      (pinDocs.filter($"doc_id" < 6), pinDocs.filter($"doc_id" >= 6))
    val (e, e16) = (emb(48, patterns = 6), emb(48, dims = 16, patterns = 6))
    val (eBase, eInc) = ($"vec_id" < 24, $"vec_id" >= 24)
    Seq(
      ("minhash", g => TextOps.buildMinhashIndex(dBase, g, nParts = 4),
        g => TextOps.appendToMinhashIndex(dInc, g),
        r => TextOps.rebuildMinhashIndexPointer(spark, r, bands = 6,
          nParts = 3),
        Seq("bands", "shingles", "params")),
      ("simhash", g => TextOps.buildSimhashIndex(dBase, g, nParts = 4),
        g => TextOps.appendToSimhashIndex(dInc, g),
        r => TextOps.rebuildSimhashIndexPointer(spark, r, bands = 8,
          nParts = 3),
        Seq("bands", "sigs", "params")),
      ("bm25", g => TextOps.buildBm25Index(dBase, g, nParts = 4),
        g => TextOps.appendToBm25Index(dInc, g),
        r => TextOps.rebuildBm25IndexPointer(spark, r, nParts = 3),
        Seq("postings", "doclens", "params", "stats")),
      ("ivf", g => VectorOps.buildIvfIndex(e.filter(eBase), g,
          nCentroids = 6, iters = 1, nParts = 4),
        g => VectorOps.appendToIvfIndex(e.filter(eInc), g),
        r => VectorOps.rebuildIvfIndexPointer(spark, r, nParts = 3),
        Seq("vectors", "centroids", "params")),
      ("ivfpq", g => VectorOps.buildIvfPqIndex(e16.filter(eBase), g,
          m = 4, kCent = 8, nCentroids = 6, nParts = 4),
        g => VectorOps.appendToIvfPqIndex(e16.filter(eInc), g),
        r => VectorOps.rebuildIvfPqIndexPointer(e16, r, nParts = 3),
        Seq("codes", "centroids", "pq_book")))
  }

  /** A table's schema (the `part` partition column included), row count
    * and order-independent row digest (the sum of each row's xxhash64). */
  private def tableDigest(dir: String): String = {
    val t = spark.read.parquet(dir)
    val schema = t.schema
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val r = t.agg(count(lit(1)),
      sum(xxhash64(t.columns.map(col): _*).cast("decimal(38,0)"))).head()
    s"$schema|${r.getLong(0)}|${r.getDecimal(1)}"
  }

  /** The digests the layout test pins, keyed `family/state/table`. */
  private val pinnedLayout: Map[String, String] = Map(
    "minhash/build/bands" ->
      "ref_id:bigint,band:int,band_key:string,bn:int,part:int|24|-25461793049447552300",
    "minhash/build/shingles" ->
      "ref_id:bigint,sh:array<string>|6|-20823500930225689477",
    "minhash/build/params" ->
      "k:int,num_hashes:int,bands:int,n_parts:int|1|-1644631584255578651",
    "minhash/append/bands" ->
      "ref_id:bigint,band:int,band_key:string,bn:int,part:int|48|-5949082125627054495",
    "minhash/append/shingles" ->
      "ref_id:bigint,sh:array<string>|12|-28803346129074278625",
    "minhash/append/params" ->
      "k:int,num_hashes:int,bands:int,n_parts:int|1|-1644631584255578651",
    "minhash/replay/bands" ->
      "ref_id:bigint,band:int,band_key:string,bn:int,part:int|48|-5949082125627054495",
    "minhash/replay/shingles" ->
      "ref_id:bigint,sh:array<string>|18|-36783191327922867773",
    "minhash/replay/params" ->
      "k:int,num_hashes:int,bands:int,n_parts:int|1|-1644631584255578651",
    "minhash/retune/bands" ->
      "ref_id:bigint,band:int,band_key:string,bn:int,part:int|72|-30102845894500037480",
    "minhash/retune/shingles" ->
      "ref_id:bigint,sh:array<string>|12|-28803346129074278625",
    "minhash/retune/params" ->
      "k:int,num_hashes:int,bands:int,n_parts:int|1|6857636035164547814",
    "simhash/build/bands" ->
      "ref_id:bigint,sig:bigint,band:int,chunk:bigint,bn:int,part:int|24|1209812558079358539",
    "simhash/build/sigs" ->
      "ref_id:bigint,sig:bigint|6|-4294903766891495811",
    "simhash/build/params" ->
      "bands:int,n_parts:int|1|-1632806079006174488",
    "simhash/append/bands" ->
      "ref_id:bigint,sig:bigint,band:int,chunk:bigint,bn:int,part:int|48|78622094634812900831",
    "simhash/append/sigs" ->
      "ref_id:bigint,sig:bigint|12|15459443042133694574",
    "simhash/append/params" ->
      "bands:int,n_parts:int|1|-1632806079006174488",
    "simhash/replay/bands" ->
      "ref_id:bigint,sig:bigint,band:int,chunk:bigint,bn:int,part:int|48|78622094634812900831",
    "simhash/replay/sigs" ->
      "ref_id:bigint,sig:bigint|18|35213789851158884959",
    "simhash/replay/params" ->
      "bands:int,n_parts:int|1|-1632806079006174488",
    "simhash/retune/bands" ->
      "ref_id:bigint,sig:bigint,band:int,chunk:bigint,bn:int,part:int|96|-38308119666039210574",
    "simhash/retune/sigs" ->
      "ref_id:bigint,sig:bigint|12|15459443042133694574",
    "simhash/retune/params" ->
      "bands:int,n_parts:int|1|2726056847418893469",
    "bm25/build/postings" ->
      "term:string,doc_id:bigint,tf:bigint,dl:bigint,part:int|66|40265161805905983416",
    "bm25/build/doclens" ->
      "doc_id:bigint,dl:bigint|6|-24516504455453417963",
    "bm25/build/params" ->
      "n_parts:int|1|-8344648708406692296",
    "bm25/build/stats" ->
      "n_docs:bigint,sum_dl:bigint|1|1221553457200055756",
    "bm25/append/postings" ->
      "term:string,doc_id:bigint,tf:bigint,dl:bigint,part:int|132|31253876963906999715",
    "bm25/append/doclens" ->
      "doc_id:bigint,dl:bigint|12|-27465948005253451145",
    "bm25/append/params" ->
      "n_parts:int|1|-8344648708406692296",
    "bm25/append/stats" ->
      "n_docs:bigint,sum_dl:bigint|1|-1606634607006951749",
    "bm25/replay/postings" ->
      "term:string,doc_id:bigint,tf:bigint,dl:bigint,part:int|198|22242592121908016014",
    "bm25/replay/doclens" ->
      "doc_id:bigint,dl:bigint|18|-30415391555053484327",
    "bm25/replay/params" ->
      "n_parts:int|1|-8344648708406692296",
    "bm25/replay/stats" ->
      "n_docs:bigint,sum_dl:bigint|1|-1606634607006951749",
    "bm25/retune/postings" ->
      "term:string,doc_id:bigint,tf:bigint,dl:bigint,part:int|132|-22972693137665789955",
    "bm25/retune/doclens" ->
      "doc_id:bigint,dl:bigint|12|-27465948005253451145",
    "bm25/retune/params" ->
      "n_parts:int|1|6258084186791473711",
    "bm25/retune/stats" ->
      "n_docs:bigint,sum_dl:bigint|1|-1606634607006951749",
    "ivf/build/vectors" ->
      "vec_id:bigint,embedding:array<float>,cluster:bigint,part:int|24|-5782807386441984359",
    "ivf/build/centroids" ->
      "centroid_id:bigint,qc:array<bigint>|6|-30276747299711726203",
    "ivf/build/params" ->
      "n_centroids:int,iters:int,dims:int,n_parts:int|1|-641373462275248626",
    "ivf/append/vectors" ->
      "vec_id:bigint,embedding:array<float>,cluster:bigint,part:int|48|-17881046006857998887",
    "ivf/append/centroids" ->
      "centroid_id:bigint,qc:array<bigint>|6|-30276747299711726203",
    "ivf/append/params" ->
      "n_centroids:int,iters:int,dims:int,n_parts:int|1|-641373462275248626",
    "ivf/replay/vectors" ->
      "vec_id:bigint,embedding:array<float>,cluster:bigint,part:int|72|-29979284627274013415",
    "ivf/replay/centroids" ->
      "centroid_id:bigint,qc:array<bigint>|6|-30276747299711726203",
    "ivf/replay/params" ->
      "n_centroids:int,iters:int,dims:int,n_parts:int|1|-641373462275248626",
    "ivf/retune/vectors" ->
      "vec_id:bigint,embedding:array<float>,cluster:bigint,part:int|48|-41453268015471974492",
    "ivf/retune/centroids" ->
      "centroid_id:bigint,qc:array<bigint>|6|-30276747299711726203",
    "ivf/retune/params" ->
      "n_centroids:int,iters:int,dims:int,n_parts:int|1|-8141272749001421688",
    "ivfpq/build/codes" ->
      "cluster:bigint,vec_id:bigint,codes:array<int>,part:int|24|-36065952086025924044",
    "ivfpq/build/centroids" ->
      "centroid_id:bigint,c_emb:array<float>|6|-7456945596149361902",
    "ivfpq/build/pq_book" ->
      "m:int,k_cent:int,n_centroids:int,dims:int,book:array<float>,n_parts:int|1|3652819638111719881",
    "ivfpq/append/codes" ->
      "cluster:bigint,vec_id:bigint,codes:array<int>,part:int|48|-43267060749226215389",
    "ivfpq/append/centroids" ->
      "centroid_id:bigint,c_emb:array<float>|6|-7456945596149361902",
    "ivfpq/append/pq_book" ->
      "m:int,k_cent:int,n_centroids:int,dims:int,book:array<float>,n_parts:int|1|3652819638111719881",
    "ivfpq/replay/codes" ->
      "cluster:bigint,vec_id:bigint,codes:array<int>,part:int|72|-50468169412426506734",
    "ivfpq/replay/centroids" ->
      "centroid_id:bigint,c_emb:array<float>|6|-7456945596149361902",
    "ivfpq/replay/pq_book" ->
      "m:int,k_cent:int,n_centroids:int,dims:int,book:array<float>,n_parts:int|1|3652819638111719881",
    "ivfpq/retune/codes" ->
      "cluster:bigint,vec_id:bigint,codes:array<int>,part:int|48|20681625723619210334",
    "ivfpq/retune/centroids" ->
      "centroid_id:bigint,c_emb:array<float>|6|-7456945596149361902",
    "ivfpq/retune/pq_book" -> "m:int,k_cent:int,n_centroids:int,dims:int,book:array<float>,n_parts:int|1|-701807544581076266")

  test("the five index families' written tables keep their schema and " +
      "rows after build, append, replayed append and pointer retune") {
    val got = for ((fam, build, append, retune, tables) <- pinFamilies)
      yield {
        val root = java.nio.file.Files
          .createTempDirectory(s"ilc_pin_$fam").toString
        val gen = LayoutOps.withPointerGeneration(spark, root)(build)
        def snap(state: String, dir: String) =
          tables.map(t => s"$fam/$state/$t" -> tableDigest(s"$dir/$t"))
        val built = snap("build", gen)
        append(gen)
        val appended = snap("append", gen)
        append(gen) // byte-identical replay
        val replayed = snap("replay", gen)
        retune(root)
        val retuned = snap("retune", LayoutOps.resolveIndexPointer(spark, root))
        spark.catalog.clearCache()
        built ++ appended ++ replayed ++ retuned
      }
    assert(got.flatten.map(_._1).toSet === pinnedLayout.keySet)
    for ((key, digest) <- got.flatten)
      assert(digest === pinnedLayout(key), key)
  }

  test("missing and legacy manifests are refused with their exact texts " +
      "through query, append, rebuild and stats") {
    val fams = pinFamilies.map(f => f._1 -> f).toMap
    val e = emb(48, patterns = 6)
    val e16 = emb(48, dims = 16, patterns = 6)
    val bag = Seq((0L, Seq("alpha", "tail3"))).toDF("query_id", "terms")
    /** A published generation of `fam` with `edit` applied to it. */
    def damaged(fam: String)(edit: String => Unit): (String, String) = {
      val root = java.nio.file.Files
        .createTempDirectory(s"ilc_refuse_$fam").toString
      val gen = LayoutOps.withPointerGeneration(spark, root)(fams(fam)._2)
      edit(gen)
      (root, gen)
    }
    def drop(table: String)(gen: String): Unit =
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$gen/$table"))
    def rewrite(table: String, f: DataFrame => DataFrame)(gen: String): Unit = {
      val t = f(spark.read.parquet(s"$gen/$table"))
      spark.createDataFrame(java.util.Arrays.asList(t.collect(): _*), t.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$gen/$table")
    }
    def refusal(call: => Any): String =
      intercept[IllegalArgumentException](call).getMessage
    def expectAll(calls: Seq[(String, () => Any)], want: String): Unit =
      for ((entry, call) <- calls)
        assert(refusal(call()) === want, entry)

    val (mhRoot, mh) = damaged("minhash")(drop("params"))
    expectAll(Seq(
      "query" -> (() => TextOps.nearDupAgainstIndex(pinDocs, mh)),
      "append" -> (() => TextOps.appendToMinhashIndex(pinDocs, mh)),
      "rebuild" -> (() => TextOps.rebuildMinhashIndexPointer(spark, mhRoot)),
      "stats" -> (() => TextOps.minhashIndexStats(spark, mh))),
      s"minhash index at $mh has no params manifest — rebuild with " +
        "buildMinhashIndex (a parameter mismatch between build and query " +
        "silently returns zero matches, so unverifiable indexes are " +
        "refused)")

    val (shRoot, sh) = damaged("simhash")(drop("params"))
    expectAll(Seq(
      "query" -> (() => TextOps.simhashAgainstIndex(pinDocs, sh)),
      "append" -> (() => TextOps.appendToSimhashIndex(pinDocs, sh)),
      "rebuild" -> (() => TextOps.rebuildSimhashIndexPointer(spark, shRoot)),
      "stats" -> (() => TextOps.simhashIndexStats(spark, sh))),
      s"simhash index at $sh has no params manifest — rebuild with " +
        "buildSimhashIndex (a banding mismatch between build and query " +
        "silently returns zero matches, so unverifiable indexes are " +
        "refused)")

    def bm25Calls(root: String, gen: String) = Seq(
      "query" -> (() => TextOps.bm25AgainstIndex(spark, gen, Seq("alpha"))),
      "batch" -> (() => TextOps.bm25BatchAgainstIndex(bag, gen)),
      "append" -> (() => TextOps.appendToBm25Index(pinDocs, gen)),
      "rebuild" -> (() => TextOps.rebuildBm25IndexPointer(spark, root)))
    val (bmRoot, bm) = damaged("bm25")(drop("params"))
    expectAll(bm25Calls(bmRoot, bm),
      s"bm25 index at $bm has no params manifest — rebuild with " +
        "buildBm25Index")
    val (bmlRoot, bml) = damaged("bm25")(
      rewrite("params", _.select($"n_parts".as("parts"))))
    expectAll(bm25Calls(bmlRoot, bml),
      s"bm25 index at $bml has an unrecognized params layout — rebuild " +
        "with buildBm25Index")
    val (_, bms) = damaged("bm25")(drop("stats"))
    expectAll(bm25Calls("", bms).take(2),
      s"bm25 index at $bms has no stats table (a crash between an " +
        "append's postings write and its stats refresh can drop it) — " +
        "run refreshBm25Stats to restore it from doclens")

    def ivfCalls(root: String, gen: String) = Seq(
      "query" -> (() => VectorOps.ivfIndexTopK(e.limit(2), gen, k = 3)),
      "append" -> (() => VectorOps.appendToIvfIndex(e.limit(2), gen)),
      "rebuild" -> (() => VectorOps.rebuildIvfIndexPointer(spark, root)))
    val (ivfRoot, ivf) = damaged("ivf")(drop("params"))
    expectAll(ivfCalls(ivfRoot, ivf),
      s"ivf index at $ivf has no params manifest — rebuild with " +
        "buildIvfIndex")
    val (ivflRoot, ivfl) = damaged("ivf")(rewrite("params", _.drop("n_parts")))
    expectAll(ivfCalls(ivflRoot, ivfl),
      s"ivf index at $ivfl predates the current layout (params carries " +
        "no n_parts) — rebuild with buildIvfIndex")

    def pqCalls(root: String, gen: String) = Seq(
      "query" -> (() => VectorOps.ivfPqIndexTopK(e16.limit(2), gen, k = 3)),
      "append" -> (() => VectorOps.appendToIvfPqIndex(e16.limit(2), gen)),
      "rebuild" -> (() => VectorOps.rebuildIvfPqIndexPointer(e16, root)))
    val (pqRoot, pq) = damaged("ivfpq")(drop("pq_book"))
    expectAll(pqCalls(pqRoot, pq),
      s"ivf-pq index at $pq has no codebooks — rebuild with " +
        "buildIvfPqIndex")
    val (pqlRoot, pql) = damaged("ivfpq")(
      rewrite("pq_book", _.drop("n_parts")))
    expectAll(pqCalls(pqlRoot, pql),
      s"ivf-pq index at $pql predates the partitioned layout (pq_book " +
        "carries no n_parts) — rebuild with buildIvfPqIndex")
    spark.catalog.clearCache()
  }
}
