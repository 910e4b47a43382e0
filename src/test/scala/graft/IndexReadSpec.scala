package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{LayoutOps, TextOps, VectorOps}

/**
 * The index-table reader (`LayoutOps.indexScan` / `indexRows`): for
 * every table of the five index families, after a build and an
 * append, both reads equal `spark.read.parquet` in schema (the `part`
 * partition column included) and rows; scans plan with no schema
 * inference job, and manifest and codebook reads run no job at all.
 */
class IndexReadSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "hash join beats sort merge join when one side broadcasts"),
    (1L, "vector search over a hash partitioned index"),
    (2L, "join join join repeated join terms stress tf"),
    (3L, "completely unrelated prose about microscopes"),
    (4L, "hash vector hash vector alternating terms"),
    (5L, "   "),
    (6L, "hash join beats sort merge join when one side broadcasts"),
    (7L, "a long tail document mentioning vector once among filler"),
    (8L, "hash tables and join order in a vector database"),
    (9L, "vector search over a hash partitioned index today")
  ).toDF("doc_id", "text")

  private def emb(n: Int, dims: Int): DataFrame =
    spark.range(n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)), d =>
        (cos(($"id" % 6 + 1) * (d + 1)) + 0.1).cast("float"))
        .as("embedding"))

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).toSeq.sorted

  /** Each family, built over half of its input and appended the rest:
    * (family, index path, tables, manifest and codebook tables). */
  private lazy val families: Seq[(String, String, Seq[String], Seq[String])] = {
    def dir(n: String) = Files.createTempDirectory(s"idxread_$n").toString
    val (base, inc) = (docs.filter($"doc_id" < 5), docs.filter($"doc_id" >= 5))
    val (e, e16) = (emb(48, 8), emb(48, 16))
    val (eBase, eInc) = (col("vec_id") < 24, col("vec_id") >= 24)
    val mh = dir("mh")
    TextOps.buildMinhashIndex(base, mh, nParts = 4)
    TextOps.appendToMinhashIndex(inc, mh)
    val sh = dir("sh")
    TextOps.buildSimhashIndex(base, sh, nParts = 4)
    TextOps.appendToSimhashIndex(inc, sh)
    val bm = dir("bm")
    TextOps.buildBm25Index(base, bm, nParts = 4)
    TextOps.appendToBm25Index(inc, bm)
    val ivf = dir("ivf")
    VectorOps.buildIvfIndex(e.filter(eBase), ivf, nCentroids = 6,
      iters = 1, nParts = 4)
    VectorOps.appendToIvfIndex(e.filter(eInc), ivf)
    val pq = dir("pq")
    VectorOps.buildIvfPqIndex(e16.filter(eBase), pq, m = 4, kCent = 8,
      nCentroids = 6, nParts = 4)
    VectorOps.appendToIvfPqIndex(e16.filter(eInc), pq)
    spark.catalog.clearCache()
    Seq(
      ("minhash", mh, Seq("bands", "shingles", "params"), Seq("params")),
      ("simhash", sh, Seq("bands", "sigs", "params"), Seq("params")),
      ("bm25", bm, Seq("postings", "doclens", "params", "stats"),
        Seq("params", "stats")),
      ("ivf", ivf, Seq("vectors", "centroids", "params"),
        Seq("params", "centroids")),
      ("ivfpq", pq, Seq("codes", "centroids", "pq_book"),
        Seq("pq_book")))
  }

  test("every table of the five index families reads back as " +
      "spark.read.parquet does: schema with the part column, and rows") {
    for ((fam, path, tables, _) <- families; t <- tables) {
      val dir = s"$path/$t"
      val ref = spark.read.parquet(dir)
      val scan = LayoutOps.indexScan(spark, dir)
      val local = LayoutOps.indexRows(spark, dir)
      assert(scan.schema === ref.schema, s"$fam/$t scan schema")
      assert(local.nonEmpty && local.forall(_.schema == ref.schema),
        s"$fam/$t driver-read schema")
      val want = sorted(ref.collect())
      assert(sorted(scan.collect()) === want, s"$fam/$t scan rows")
      assert(sorted(local) === want, s"$fam/$t driver-read rows")
    }
    // the partitioned tables really carry the partition column
    for ((fam, path, tables, _) <- families)
      assert(LayoutOps.indexScan(spark, s"$path/${tables.head}")
        .schema.last.name === "part", fam)
  }

  test("index scans plan with no schema-inference job; manifest and " +
      "codebook reads run no job and equal head()/collect()") {
    for ((fam, path, tables, small) <- families) {
      for (t <- tables) {
        val infer = jobsDuring(spark.read.parquet(s"$path/$t"))._2.size
        val scan = jobsDuring(LayoutOps.indexScan(spark, s"$path/$t"))._2.size
        assert(infer >= 1 && scan === 0,
          s"$fam/$t: inference ran $infer jobs, indexScan $scan")
      }
      for (t <- small) {
        val (rows, jobs) = jobsDuring(LayoutOps.indexRows(spark, s"$path/$t"))
        assert(jobs.isEmpty, s"$fam/$t: indexRows ran ${jobs.size} jobs")
        val ref = spark.read.parquet(s"$path/$t")
        assert(sorted(rows) === sorted(ref.collect()), s"$fam/$t collect")
        assert(rows.head === ref.head(), s"$fam/$t head")
      }
    }
    // a manifest gate as operators call it: no job
    val mh = families.head._2
    assert(jobsDuring(TextOps.requireIndexParams(spark, mh, 3, 12, 4,
      "IndexReadSpec"))._2.isEmpty)
  }

  test("the reader refuses what spark.read.parquet refuses: a missing " +
      "table, and a directory with no data file") {
    val empty = Files.createTempDirectory("idxread_empty").toString
    intercept[java.io.FileNotFoundException](
      LayoutOps.indexRows(spark, s"$empty/params"))
    intercept[java.io.FileNotFoundException](
      LayoutOps.indexScan(spark, s"$empty/params"))
    intercept[java.io.FileNotFoundException](
      LayoutOps.indexScan(spark, empty))
    assert(LayoutOps.indexRows(spark, empty).isEmpty)
  }

  test("a single-file path under a k=v directory has no partition " +
      "column, as in spark.read.parquet") {
    val root = Files.createTempDirectory("idxread_file").toString
    docs.coalesce(1).write.parquet(s"$root/k=1/t")
    val part = new java.io.File(s"$root/k=1/t").listFiles()
      .find(_.getName.startsWith("part-")).get
    val file = new java.io.File(s"$root/k=1/x.parquet")
    Files.copy(part.toPath, file.toPath)
    val ref = spark.read.parquet(file.getPath)
    assert(ref.schema.fieldNames.toSeq === Seq("doc_id", "text"))
    assert(LayoutOps.indexScan(spark, file.getPath).schema === ref.schema)
    val rows = LayoutOps.indexRows(spark, file.getPath)
    assert(rows.forall(_.schema == ref.schema))
    assert(sorted(rows) === sorted(ref.collect()))
  }

  test("a pre-r15 IVF-PQ pq_book without n_parts is refused with the " +
      "rebuild message") {
    val pq = families.last._2
    val legacy = Files.createTempDirectory("idxread_pq_legacy").toFile
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(pq), legacy)
    spark.read.parquet(s"$pq/pq_book").drop("n_parts")
      .write.mode("overwrite").parquet(s"$legacy/pq_book")
    val e = intercept[IllegalArgumentException](
      VectorOps.appendToIvfPqIndex(emb(4, 16), legacy.toString))
    assert(e.getMessage.contains("predates the partitioned layout (pq_book " +
      "carries no n_parts) — rebuild with buildIvfPqIndex"), e.getMessage)
  }
}
