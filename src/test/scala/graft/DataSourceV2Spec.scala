package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.operators.OmeOps
import graft.schema.Fixtures
import graft.sources.OmeTiff
import graft.sources.v2.OmeTiffScan

/** The `ometiff` DataSourceV2: the written frame back through it and
  * through `OmeTiff.read`, plus nested-column pruning reaching the scan
  * (metadata reads must not decode pixels). The `omezarr` DataSourceV2:
  * the written frame back on every chunk layout, and the same pruning. */
class DataSourceV2Spec extends SparkSpec {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("dsv2_tiff").toString
    OmeTiff.write(Fixtures.corpus4d(spark), d)
    d
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): OmeTiffScan =
    df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b.scan }
      .get.asInstanceOf[OmeTiffScan]

  test("OmeTiff.read and ometiff each reproduce the written frame") {
    val src = Fixtures.corpus4d(spark)
    // what an OME-TIFF keeps: the record fields but `name` (the file
    // name), with channel names as given when the caller overrides them
    def kept(df: DataFrame, names: Option[Seq[String]]): Seq[String] =
      df.select(col("ome_arrow.id").as("id"),
          col("ome_arrow.pixels_meta.dimension_order"),
          col("ome_arrow.pixels_meta.type"),
          col("ome_arrow.pixels_meta.size_t"), col("ome_arrow.pixels_meta.size_c"),
          col("ome_arrow.pixels_meta.size_z"), col("ome_arrow.pixels_meta.size_y"),
          col("ome_arrow.pixels_meta.size_x"),
          col("ome_arrow.pixels_meta.physical_size_x"),
          col("ome_arrow.pixels_meta.physical_size_y"),
          col("ome_arrow.pixels_meta.physical_size_z"),
          names.fold(col("ome_arrow.pixels_meta.channels.name"))(
            n => typedLit(n)).as("channels"),
          col("ome_arrow.planes.t"), col("ome_arrow.planes.c"),
          col("ome_arrow.planes.z"))
        .orderBy(col("id")).collect().map(_.toString).toSeq
    val want = planeRows(src)
    val renamed = Seq("dapi", "gfp")
    val readers: Seq[(String, Option[Seq[String]], DataFrame)] = Seq(
      ("OmeTiff.read dir", None, OmeTiff.read(spark, dir)),
      ("OmeTiff.read glob", None, OmeTiff.read(spark, s"$dir/*.tiff")),
      ("OmeTiff.read names", Some(renamed), OmeTiff.read(spark, dir, renamed)),
      ("ometiff dir", None, spark.read.format("ometiff").load(dir)),
      ("ometiff glob", None, spark.read.format("ometiff").load(s"$dir/*.tiff")),
      ("ometiff names", Some(renamed), spark.read.format("ometiff")
        .option("channel_names", renamed.mkString(",")).load(dir)))
    for ((reader, names, got) <- readers) {
      assert(planeRows(got) === want, s"pixels, $reader")
      assert(kept(got, None) === kept(src, names), s"metadata, $reader")
      assert(got.select(col("ome_arrow.name")).collect().map(_.getString(0)).sorted.toSeq ===
        (0 until 4).map(i => f"i4d-$i%04d.ome.tiff"), s"file names, $reader")
    }
  }

  test("OmeTiff.read refuses channel names the ometiff option cannot carry") {
    for (bad <- Seq(Seq("a,b"), Seq("dapi", " gfp"), Seq("")))
      intercept[IllegalArgumentException](OmeTiff.read(spark, dir, bad))
  }

  test("metadata query prunes pixels out of the scan schema") {
    val df = spark.read.format("ometiff").load(dir)
      .select(col("ome_arrow.id"), col("ome_arrow.pixels_meta.size_x"))
    val scanSchema = scanOf(df).readSchema()
    assert(!scanSchema.catalogString.contains("planes"),
      s"planes survived pruning: ${scanSchema.catalogString}")
    assert(df.collect().map(_.getInt(1)).forall(_ === 8))
  }

  test("plane-coordinate query prunes pixels but keeps plane coords") {
    // array-subfield extraction (GetArrayStructFields) prunes through to
    // the scan; explode-then-select does NOT re-prune generator input in
    // the v2 pushdown, so coordinate sweeps should use this shape
    val df = spark.read.format("ometiff").load(dir)
      .select(col("ome_arrow.planes.t").as("ts"),
        col("ome_arrow.planes.z").as("zs"))
    val scanSchema = scanOf(df).readSchema().catalogString
    assert(!scanSchema.contains("pixels:array"),
      s"pixels survived: $scanSchema")
    assert(df.select(explode(col("ts"))).count() === 4 * 2 * 2 * 2)
  }

  test("pixel query keeps pixels and decodes them correctly") {
    val df = spark.read.format("ometiff").load(dir)
      .select(col("ome_arrow.id").as("id"),
        explode(col("ome_arrow.planes")).as("p"))
      .select(col("id"), col("p.t"), col("p.c"), col("p.z"),
        aggregate(col("p.pixels"), lit(0L), (a, v) => a + v).as("px_sum"))
    assert(scanOf(df).readSchema().catalogString.contains("pixels"))
    // fixture formula: v = (img*31 + t*13 + c*7 + z*3 + p) % 65536 over 8x8
    val r = df.filter(col("id") === "i4d-0000" && col("t") === 0 &&
      col("c") === 0 && col("z") === 0).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("px_sum") === (0 until 64).map(_.toLong).sum)
  }

  test("count(*) over the corpus needs no record fields at all") {
    val df = spark.read.format("ometiff").load(dir)
    assert(df.count() === 4L)
  }

  // --- omezarr ---------------------------------------------------------

  // --- omezarr vs the written frame, on every chunk layout ------------

  private type PlaneRow = (String, Int, Int, Int, Seq[Int])

  /** (id, t, c, z, pixels) of every plane, sorted. */
  private def planeRows(df: DataFrame): Seq[PlaneRow] =
    OmeOps.explodePlanes(df)
      .select(col("image_id"), col("t"), col("c"), col("z"), col("pixels"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getSeq[Int](4)))
      .sortBy(r => (r._1, r._2, r._3, r._4)).toSeq

  /** The metadata a Zarr store keeps, plus each record's plane order. */
  private def keptMeta(df: DataFrame): Seq[String] =
    df.select(col("ome_arrow.id").as("id"), col("ome_arrow.name"),
        col("ome_arrow.pixels_meta.size_t"), col("ome_arrow.pixels_meta.size_c"),
        col("ome_arrow.pixels_meta.size_z"), col("ome_arrow.pixels_meta.size_y"),
        col("ome_arrow.pixels_meta.size_x"),
        col("ome_arrow.pixels_meta.physical_size_x"),
        col("ome_arrow.pixels_meta.physical_size_y"),
        col("ome_arrow.pixels_meta.physical_size_z"),
        col("ome_arrow.pixels_meta.channels.name"),
        col("ome_arrow.planes.t"), col("ome_arrow.planes.c"),
        col("ome_arrow.planes.z"))
      .orderBy(col("id")).collect().map(_.toString).toSeq

  private def omezarr(path: String): DataFrame =
    spark.read.format("omezarr").load(path)

  /** Every `<store>/0` level directory of a corpus. */
  private def levelDirs(d: String): Seq[java.io.File] =
    new java.io.File(d).listFiles.filter(_.getName.endsWith(".zarr"))
      .map(new java.io.File(_, "0")).toSeq

  private def patch(f: java.io.File, from: String, to: String): Unit = {
    val doc = new String(Files.readAllBytes(f.toPath), "UTF-8")
    assert(doc.contains(from), s"fixture drift: no $from in $f")
    Files.write(f.toPath, doc.replace(from, to).getBytes("UTF-8"))
  }

  /** v2 `t.c.z.y.x` chunk files -> the nested `t/c/z/y/x` layout. */
  private def nestV2Keys(d: String): Unit = levelDirs(d).foreach { lvl =>
    lvl.listFiles.filter(_.getName.matches("""\d+(\.\d+){4}""")).foreach { f =>
      val parts = f.getName.split("\\.")
      val dir = new java.io.File(lvl, parts.init.mkString("/"))
      dir.mkdirs()
      assert(f.renameTo(new java.io.File(dir, parts.last)))
    }
    patch(new java.io.File(lvl, ".zarray"),
      "\"dimension_separator\": \".\"", "\"dimension_separator\": \"/\"")
  }

  /** v3 `c/t/c/z/y/x` chunk files -> the flat `c.t.c.z.y.x` layout. */
  private def flattenV3Keys(d: String): Unit = levelDirs(d).foreach { lvl =>
    import scala.jdk.CollectionConverters._
    val cDir = lvl.toPath.resolve("c")
    val files = Files.walk(cDir).iterator().asScala
      .filter(Files.isRegularFile(_)).toList
    files.foreach { f =>
      val key = lvl.toPath.relativize(f).iterator().asScala.mkString(".")
      Files.move(f, lvl.toPath.resolve(key))
    }
    Files.walk(cDir).iterator().asScala.toList.reverse.foreach(Files.delete)
    patch(new java.io.File(lvl, "zarr.json"),
      "\"separator\": \"/\"", "\"separator\": \".\"")
  }

  test("omezarr reproduces the written frame on every chunk layout") {
    val src = Fixtures.corpus4d(spark)
    val want = planeRows(src)
    val wantMeta = keptMeta(src)
    def corpus(name: String)(write: String => Unit): String = {
      val d = Files.createTempDirectory(s"dsv2_zarr_$name").toString
      write(d)
      d
    }
    val w = graft.sources.OmeZarr
    val hole = ("i4d-0002", 1, 0, 1)
    val noPlanes = col("ome_arrow").dropFields("planes").as("ome_arrow")
    val layouts: Seq[(String, String, Seq[PlaneRow])] = Seq(
      ("v2 '.' plane chunks", corpus("v2dot")(w.write(src, _)), want),
      ("v2 '/' plane chunks", corpus("v2slash") { d =>
        w.write(src, d); nestV2Keys(d) }, want),
      ("v2 multi-plane grid", corpus("v2multi")(
        w.write(src, _, chunks = Some(Seq(2, 1, 2, 8, 8)))), want),
      ("v2 sub-plane grid", corpus("v2sub")(
        w.write(src, _, chunks = Some(Seq(1, 1, 2, 4, 8)))), want),
      ("v3 '/' plane chunks", corpus("v3slash")(w.write(src, _, zarrFormat = 3)),
        want),
      ("v3 '.' plane chunks", corpus("v3dot") { d =>
        w.write(src, d, zarrFormat = 3); flattenV3Keys(d) }, want),
      ("v3 sharding_indexed", corpus("v3shard")(w.write(src, _,
        zarrFormat = 3, compressor = "zstd", shardZ = true)), want),
      ("v2 missing chunk", corpus("v2hole") { d =>
        w.write(src, d)
        assert(new java.io.File(s"$d/${hole._1}.zarr/0/" +
          s"${hole._2}.${hole._3}.${hole._4}.0.0").delete())
      }, want.map {
        case (id, t, c, z, px) if (id, t, c, z) == hole => (id, t, c, z, px.map(_ => 0))
        case r => r
      }))
    for ((layout, d, expect) <- layouts) {
      val got = omezarr(d)
      assert(planeRows(got) === expect, s"pixels, $layout")
      assert(keptMeta(got) === wantMeta, s"metadata, $layout")
      // the record metadata equals readMeta's, field for field
      val gotMeta = got.select(noPlanes)
      val meta = w.readMeta(spark, d).select(noPlanes)
      assert(gotMeta.schema.catalogString === meta.schema.catalogString)
      assert(gotMeta.orderBy(col("ome_arrow.id")).collect().map(_.toString).toSeq ===
        meta.orderBy(col("ome_arrow.id")).collect().map(_.toString).toSeq,
        s"record metadata vs readMeta, $layout")
    }
  }

  test("omezarr decodes foreign u1 and big-endian u2 stores") {
    val d = Files.createTempDirectory("dsv2_zarr_dtypes")
    for (s <- Seq("u1_store.zarr", "bigu2_store.zarr"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"src/test/resources/$s"), d.resolve(s).toFile)
    val expect = for (id <- Seq("bigu2_store", "u1_store"); z <- 0 to 1)
      yield (id, 0, 0, z, (0 until 12).map(_ + 100 * z))
    val got = omezarr(d.toString)
    assert(planeRows(got) === expect)
    val meta = got.select(col("ome_arrow.name").as("name"),
        col("ome_arrow.pixels_meta.physical_size_x"),
        col("ome_arrow.pixels_meta.physical_size_z"),
        col("ome_arrow.pixels_meta.channels.name").as("channels"))
      .orderBy(col("name")).collect().map(r => (r.getString(0),
        r.getFloat(1), r.getFloat(2), r.getSeq[String](3))).toSeq
    assert(meta === Seq(("bigu2_store.zarr", 0.5f, 2.0f, Seq("DNA")),
      ("u1_store.zarr", 0.5f, 2.0f, Seq("DNA"))))
  }

  test("a store root without the .zarr suffix reads as one store") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0001")
    val want = planeRows(one).map(r => r.copy(_1 = "image"))
    for (format <- Seq(2, 3)) {
      val d = Files.createTempDirectory(s"dsv2_zarr_bare_v$format")
      graft.sources.OmeZarr.write(one, s"$d/img.zarr", zarrFormat = format)
      Files.move(d.resolve("img.zarr"), d.resolve("image"))
      for (df <- Seq(graft.sources.OmeZarr.read(spark, s"$d/image"),
          omezarr(s"$d/image"))) {
        assert(planeRows(df) === want, s"v$format")
        assert(df.select(col("ome_arrow.name")).collect()(0).getString(0) ===
          "Synthetic image 1")
      }
    }
    val e = intercept[Exception] {
      graft.sources.OmeZarr.read(spark, "/nonexistent/missing.zarr").count()
    }
    assert(e.getMessage.contains("No such Zarr store"))
  }

  test("omezarr metadata + coordinate queries open zero chunk files") {
    // a missing chunk reads as zeros, so deleting chunk files cannot show
    // that none is opened; a scan whose read schema lacks `pixels` lists
    // and opens no chunk file, and the coordinate grid comes from the
    // array shape
    val d = Files.createTempDirectory("dsv2_zarr_meta").toString
    graft.sources.OmeZarr.write(Fixtures.corpus4d(spark), d)
    def scanSchema(df: DataFrame): String =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case b: BatchScanExec => b.scan.readSchema().catalogString }.get
    val meta = spark.read.format("omezarr").load(d)
      .select(col("ome_arrow.id").as("id"),
        col("ome_arrow.pixels_meta.size_z").as("sz"))
    assert(!scanSchema(meta).contains("planes"), scanSchema(meta))
    assert(meta.collect().map(_.getInt(1)).forall(_ === 2))
    val coords = spark.read.format("omezarr").load(d)
      .select(col("ome_arrow.id").as("id"),
        col("ome_arrow.planes.t").as("ts"))
    assert(!scanSchema(coords).contains("pixels"), scanSchema(coords))
    assert(coords.select(explode(col("ts"))).count() === 4 * 8)
  }

  test("v2 sources fail with clear errors on empty or missing inputs") {
    val empty = Files.createTempDirectory("dsv2_empty").toString
    val e1 = intercept[Exception] {
      spark.read.format("ometiff").load(empty).count()
    }
    assert(e1.getMessage.contains("no .tif"))
    val e2 = intercept[Exception] {
      spark.read.format("omezarr").load(empty).count()
    }
    assert(e2.getMessage.contains("No .zarr stores"))
    val e3 = intercept[Exception] {
      spark.read.format("ometiff").load("/nonexistent/path/xyz").count()
    }
    assert(e3.getMessage.contains("no files match"))
  }

  test("omezarr single store with level option reads the pyramid level") {
    val d = Files.createTempDirectory("dsv2_zarr_lvl").toString
    graft.sources.OmeZarr.write(
      Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0001"),
      s"$d/img.zarr", multiscaleLevels = 2)
    val lvl1 = spark.read.format("omezarr").option("level", "1")
      .load(s"$d/img.zarr")
    val r = lvl1.select(col("ome_arrow.pixels_meta.size_x"),
      col("ome_arrow.pixels_meta.physical_size_x")).collect()(0)
    assert(r.getInt(0) === 4)       // 8 >> 1
    assert(r.getFloat(1) === 2.0f)  // level-1 transform: 2x base size
  }
}
