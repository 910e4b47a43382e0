package graft

import org.apache.spark.sql.DataFrame

import graft.operators.TextOps

/** Persisted BM25 index lifecycle: build == per-batch scorer bit-for-bit,
  * append == rebuild, at-least-once replay convergence, stats repair. */
class Bm25IndexSpec extends SparkSpec {
  import spark.implicits._

  // varied tf/dl, one doc with no query terms, one token-free doc
  // (contributes to N and avgdl but can never score — the stats tables
  // must see it even though it emits zero postings)
  private lazy val corpus = Seq(
    (0L, "hash join beats sort merge join when one side broadcasts", "en", "s0", 57L),
    (1L, "vector search over a hash partitioned index", "en", "s0", 44L),
    (2L, "join join join repeated join terms stress tf", "en", "s1", 45L),
    (3L, "completely unrelated prose about microscopes", "en", "s1", 45L),
    (4L, "hash vector hash vector alternating terms", "en", "s0", 42L),
    (5L, "   ", "en", "s1", 3L),
    (6L, "a long tail document mentioning vector once among many many other filler words to stretch dl", "en", "s0", 93L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  private val terms = Seq("hash", "join", "vector")

  private def rows(df: DataFrame) = df.collect()
    .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"),
      r.getAs[Double]("score"))).toSeq.sortBy(_._1)

  test("bm25AgainstIndex equals bm25TopK bit-for-bit (scores, ranks)") {
    val path = java.nio.file.Files.createTempDirectory("bm25idx").toString
    TextOps.buildBm25Index(corpus, path)
    val direct = rows(TextOps.bm25TopK(corpus, terms, kTop = 20))
    val viaIdx = rows(TextOps.bm25AgainstIndex(spark, path, terms,
      kTop = 20))
    assert(direct.nonEmpty && viaIdx === direct)
    // the token-free doc reached the stats: N = 7, sum_dl = sum of dls
    val st = spark.read.parquet(s"$path/stats").head()
    assert(st.getAs[Long]("n_docs") === 7L)
    assert(st.getAs[Long]("sum_dl") ===
      corpus.select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.size(
          TextOps.tokens($"text")))).head().getLong(0))
    spark.catalog.clearCache()
  }

  test("appendToBm25Index: build-half + append-half answers identically " +
      "to a full build (postings, stats, query result)") {
    val full = java.nio.file.Files.createTempDirectory("bm25_full").toString
    val incr = java.nio.file.Files.createTempDirectory("bm25_incr").toString
    TextOps.buildBm25Index(corpus, full)
    TextOps.buildBm25Index(corpus.filter($"doc_id" % 2 === 0), incr)
    TextOps.appendToBm25Index(corpus.filter($"doc_id" % 2 =!= 0), incr)
    def postings(p: String) = spark.read.parquet(s"$p/postings")
      .select("term", "doc_id", "tf", "dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(postings(incr) === postings(full))
    def stats(p: String) = {
      val r = spark.read.parquet(s"$p/stats").head()
      (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"))
    }
    assert(stats(incr) === stats(full))
    assert(rows(TextOps.bm25AgainstIndex(spark, incr, terms)) ===
      rows(TextOps.bm25AgainstIndex(spark, full, terms)))
    spark.catalog.clearCache()
  }

  test("a REPLAYED append (the at-least-once crash/retry story) " +
      "converges: duplicate rows absorbed, stats exact, answers equal") {
    val once = java.nio.file.Files.createTempDirectory("bm25_once").toString
    val twice = java.nio.file.Files.createTempDirectory("bm25_twice").toString
    val inc = corpus.filter($"doc_id" >= 4L)
    for (p <- Seq(once, twice)) {
      TextOps.buildBm25Index(corpus.filter($"doc_id" < 4L), p)
      TextOps.appendToBm25Index(inc, p)
    }
    TextOps.appendToBm25Index(inc, twice) // full replay of a COMPLETED append
    val st = spark.read.parquet(s"$twice/stats").head()
    assert(st.getAs[Long]("n_docs") === 7L,
      "replayed doclens rows must not inflate n_docs")
    assert(rows(TextOps.bm25AgainstIndex(spark, twice, terms)) ===
      rows(TextOps.bm25AgainstIndex(spark, once, terms)))
    // the shared disk monitor reads this layout too: every part dir
    // visible, bytes present, file growth from the replayed append
    val disk = graft.operators.VectorOps.ivfIndexDiskStats(
      spark, twice, sub = "postings").collect()
      .map(r => (r.getAs[Int]("n_files"), r.getAs[Long]("bytes")))
    assert(disk.nonEmpty && disk.forall(_._2 > 0L))
    assert(disk.exists(_._1 >= 2),
      "the replayed append's parts should show multi-file growth")
    // maintenance path: appends accumulate files; the partition-aware
    // compactor flattens each part dir in place and the index answers
    // identically after (file-count hygiene for a long-lived index)
    val (nb, na) = graft.operators.LayoutOps.compactParquet(
      spark, s"$twice/postings")
    graft.operators.LayoutOps.compactParquet(spark, s"$twice/doclens")
    assert(na <= nb)
    assert(rows(TextOps.bm25AgainstIndex(spark, twice, terms)) ===
      rows(TextOps.bm25AgainstIndex(spark, once, terms)))
    spark.catalog.clearCache()
  }

  test("bm25BatchAgainstIndex: each bag ranks like the single-bag path " +
      "(within the nano-unit rounding), miss-everything bags vanish") {
    val path = java.nio.file.Files.createTempDirectory("bm25batch").toString
    TextOps.buildBm25Index(corpus, path)
    val bags = Seq(
      (0L, Seq("hash", "join", "vector")),
      (1L, Seq("vector")),
      (2L, Seq("zzz_nothing"))).toDF("query_id", "terms")
    val out = TextOps.bm25BatchAgainstIndex(bags, path, kTop = 20)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(!out.exists(_._1 === 2L), "all-miss bag must yield no rows")
    // bag 0 = the single-bag query: same docs in the same order; the
    // order-free nano fold may differ from the fixed-order sum only
    // past the 9th decimal, which 6dp rounding almost always absorbs
    val single = rows(TextOps.bm25AgainstIndex(spark, path, terms))
    val bag0 = out.filter(_._1 === 0L).sortBy(_._2)
      .map(t => (t._2, t._3, t._4)).toSeq
    assert(bag0.map(t => (t._1, t._2)) === single.map(t => (t._1, t._2)))
    bag0.zip(single).foreach { case ((_, _, s1), (_, _, s2)) =>
      assert(math.abs(s1 - s2) < 2e-6, s"score drift: $s1 vs $s2")
    }
    // a one-term bag's ranking is tf-then-dl-monotone; spot its top doc
    val bag1 = out.filter(_._1 === 1L).sortBy(_._2)
    assert(bag1.nonEmpty && bag1.head._3 === 4L,
      "doc 4 (tf=2, short) must top the 'vector' bag")
    // the mega-batch fallback (vocabulary too large to inline as isin
    // literals -> semi-join read) must answer identically
    val viaJoin = TextOps.bm25BatchAgainstIndex(bags, path, kTop = 20,
      maxLiteralTerms = 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(viaJoin.sortBy(t => (t._1, t._2)).toSeq ===
      out.sortBy(t => (t._1, t._2)).toSeq)
    // an index whose append was replayed holds byte-identical duplicate
    // postings: both branches must answer as on the clean index
    val replayed = java.nio.file.Files.createTempDirectory("bm25batch_rp")
      .toString
    TextOps.buildBm25Index(corpus.filter($"doc_id" < 4L), replayed)
    for (_ <- 1 to 2)
      TextOps.appendToBm25Index(corpus.filter($"doc_id" >= 4L), replayed)
    for (maxLiteral <- Seq(4096, 1)) {
      val got = TextOps.bm25BatchAgainstIndex(bags, replayed, kTop = 20,
        maxLiteralTerms = maxLiteral).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      assert(got.sortBy(t => (t._1, t._2)).toSeq ===
        out.sortBy(t => (t._1, t._2)).toSeq, s"maxLiteralTerms=$maxLiteral")
    }
    spark.catalog.clearCache()
  }

  test("crash windows fail loud and repair: missing stats names " +
      "refreshBm25Stats; missing params names the rebuild") {
    val path = java.nio.file.Files.createTempDirectory("bm25_crash").toString
    TextOps.buildBm25Index(corpus, path)
    val before = rows(TextOps.bm25AgainstIndex(spark, path, terms))
    // simulate a crash during the stats overwrite: the table vanishes
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$path/stats"))
    val e1 = intercept[IllegalArgumentException] {
      TextOps.bm25AgainstIndex(spark, path, terms).collect()
    }
    assert(e1.getMessage.contains("refreshBm25Stats"))
    TextOps.refreshBm25Stats(spark, path)
    assert(rows(TextOps.bm25AgainstIndex(spark, path, terms)) === before)
    // an index without its constant manifest is unverifiable — refused
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$path/params"))
    val e2 = intercept[IllegalArgumentException] {
      TextOps.bm25AgainstIndex(spark, path, terms).collect()
    }
    assert(e2.getMessage.contains("buildBm25Index"))
    spark.catalog.clearCache()
  }
}
