package graft

import org.apache.spark.sql.functions._

import graft.operators.OmeOps
import graft.schema.Fixtures
import graft.sources.{OmeParquet, OmeStack, OmeTiff, OmeXml, ParquetTable, TiffCodec}

/** Source/sink layer: parquet interop, TIFF codec, pattern grammar. */
class SourcesSpec extends SparkSpec {

  private val fixturePath = "/root/repo/src/test/resources/reference_conftest.parquet"

  test("O6: reference-written parquet loads, normalizes and matches strictly") {
    val df = OmeParquet.read(spark, fixturePath)
    assert(OmeOps.verifySchema(df, strict = true))
    val row = OmeOps.describe(df).collect()(0)
    assert(row.getAs[String]("summary") ===
      "2D image, multi-channel (2 channels) - shape (T=1, C=2, Z=1, Y=3, X=4)")
    val px = df.select(element_at(col("ome_arrow.planes"), 2).getField("pixels"))
      .collect()(0).getSeq[Int](0)
    assert(px === (100 to 103) ++ (110 to 113) ++ (120 to 123))
  }

  test("O6: explicit missing column errors clearly") {
    val ex = intercept[IllegalArgumentException] {
      OmeParquet.read(spark, fixturePath, column = Some("nope"))
    }
    assert(ex.getMessage.contains("not found"))
  }

  test("O10+O6: write/read round-trip under a foreign column name + footer tags") {
    val dir = "/tmp/graft_test_rt"
    val tags = Map("k" -> "v", "Plate.ID" -> "P-01")
    // one job: the tags ride the data write
    val (_, jobs) = jobsDuring(OmeParquet.write(Fixtures.mixedCorpus(spark),
      dir, columnName = "image", fileMetadata = tags))
    assert(jobs.size === 1, s"write ran ${jobs.size} jobs")
    val back = OmeParquet.read(spark, dir)
    assert(OmeOps.describe(back).exceptAll(
      OmeOps.describe(Fixtures.mixedCorpus(spark))).count() === 0)
    // tags live in the real parquet FOOTER (export.py:405-414 parity),
    // the only carrier: no sidecar file is written next to the parts
    val footer = OmeParquet.readMetadata(spark, dir)
    assert(footer("ome.arrow.type") === "ome.arrow")
    assert(footer("ome.arrow.version") === graft.schema.OmeSchema.Version)
    assert(footer("k") === "v")
    // in EVERY part file's footer, beside Spark's own keys, key case kept
    val parts = ParquetTable.dataFiles(spark, dir).toSeq
    assert(parts.size >= 2, s"want a multi-file write, got ${parts.size}")
    for (p <- parts) {
      val kv = p.keyValues
      assert(kv.get("ome.arrow.type") === Some("ome.arrow"), p.path)
      assert(tags.forall { case (k, v) => kv.get(k) === Some(v) }, p.path)
      assert(p.sparkSchema.nonEmpty, p.path)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).toSeq
    assert(files.filterNot(n => n.startsWith("part-") || n.startsWith(".") ||
      n == "_SUCCESS").isEmpty, s"unexpected files: $files")
    assert(!files.exists(_.contains("kvstamp")), s"stray files: $files")
    assert(OmeParquet.read(spark, dir).count() === 16)
  }

  test("O6: a Spark-written read plans with no job and round-trips " +
      "the schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ome_rt").toString
    val df = Fixtures.mixedCorpus(spark)
    OmeParquet.write(df, dir)
    val (back, jobs) = jobsDuring(OmeParquet.read(spark, dir))
    assert(jobs.isEmpty, s"read planned with ${jobs.size} jobs")
    // the footer's schema is the one inference finds (all nullable)
    assert(back.schema === spark.read.parquet(dir).schema)
    assert(back.exceptAll(df).count() === 0 && df.exceptAll(back).count() === 0)
    // a round trip of what a read returns keeps its schema
    val again = java.nio.file.Files.createTempDirectory("graft_ome_rt2").toString
    OmeParquet.write(back, again)
    assert(OmeParquet.read(spark, again).schema === back.schema)
    // a single part file under a `k=v` directory is no partitioned table
    val file = ParquetTable.dataFiles(spark, dir).next().path
    val nested = new java.io.File(s"$dir/k=1/x.parquet")
    nested.getParentFile.mkdirs()
    java.nio.file.Files.copy(new java.io.File(file.toUri).toPath, nested.toPath)
    val (one, oneJobs) = jobsDuring(OmeParquet.read(spark, nested.getPath))
    assert(oneJobs.isEmpty && one.schema === back.schema)
  }

  test("O6: files with no Spark row metadata read through inference, " +
      "with the footer path's rows and schema") {
    val scrambled = getClass.getResource("/scrambled_order.parquet").getPath
    for (f <- Seq(fixturePath, scrambled)) {
      assert(ParquetTable.dataFiles(spark, f).next().sparkSchema.isEmpty, f)
      val (df, jobs) = jobsDuring(OmeParquet.read(spark, f))
      assert(jobs.nonEmpty, s"$f: no inference job")
      // a Spark-written copy reads by footer, to the same rows and schema
      val dir = java.nio.file.Files.createTempDirectory("graft_ome_fb").toString
      OmeParquet.write(df, dir)
      val (copy, copyJobs) = jobsDuring(OmeParquet.read(spark, dir))
      assert(copyJobs.isEmpty, f)
      assert(copy.schema === df.schema, f)
      assert(copy.collect().toSeq === df.collect().toSeq, f)
    }
  }

  test("O6: a footer-schema read refuses as an inferred one: missing " +
      "or non-OME column, no OME column, missing path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ome_ref").toString
    Fixtures.conftestDf(spark).withColumn("n", lit(1))
      .write.mode("overwrite").parquet(dir)
    val missing = intercept[IllegalArgumentException](
      OmeParquet.read(spark, dir, column = Some("nope")))
    assert(missing.getMessage.contains("Column 'nope' not found"))
    val notOme = intercept[IllegalArgumentException](
      OmeParquet.read(spark, dir, column = Some("n")))
    assert(notOme.getMessage.contains("Column 'n' in") &&
      notOme.getMessage.contains("is not an OME-Arrow struct"))
    val none = java.nio.file.Files.createTempDirectory("graft_ome_none").toString
    spark.range(2).write.mode("overwrite").parquet(none)
    val undetected = intercept[IllegalArgumentException](
      OmeParquet.read(spark, none))
    assert(undetected.getMessage.contains("No OME-Arrow struct column detected"))
    val gone = intercept[org.apache.spark.sql.AnalysisException](
      OmeParquet.read(spark, s"$none/absent"))
    assert(gone.getCondition === "PATH_NOT_FOUND")
  }

  test("TiffCodec: encode -> decode round-trips pixels exactly") {
    val px = Array.tabulate(12)(i => i * 1000 % 65536)
    val bytes = TiffCodec.encode(Seq((4, 3, px)), Some("hello"))
    val pages = TiffCodec.decode(bytes)
    assert(pages.length === 1)
    assert(pages.head.width === 4 && pages.head.height === 3)
    assert(pages.head.pixels.toSeq === px.toSeq)
    assert(pages.head.description === Some("hello"))
  }

  test("TiffCodec: multi-page chain decodes in order") {
    val pages = (0 until 5).map(i => (2, 2, Array(i, i, i, i)))
    val decoded = TiffCodec.decode(TiffCodec.encode(pages))
    assert(decoded.map(_.pixels(0)) === (0 until 5))
  }

  test("O3: reference OME-TIFF golden shapes") {
    val df = OmeTiff.read(spark,
      "/root/reference/tests/data/ome-artificial-5d-datasets/4D-series.ome.tiff")
    assert(OmeOps.describe(df).collect()(0).getAs[String]("summary") ===
      "4D timelapse-volume, single-channel - shape (T=7, C=1, Z=5, Y=167, X=439)")
  }

  test("O3: RGB TIFF ingests with samples mapped to R/G/B channels") {
    val dir = new java.io.File("/tmp/graft_test_rgb")
    dir.mkdirs()
    // chunky 8-bit deflate RGB, deterministic per-sample ramp
    val f = new java.io.FileOutputStream(new java.io.File(dir, "rgb.tif"))
    try f.write(Fixtures.rgbTiffBytes(5, 4,
      (s, y, x) => (s * 50 + y * 5 + x) % 256, deflate = true))
    finally f.close()
    val df = OmeTiff.read(spark, dir.getPath)
    val d = OmeOps.describe(df).collect()(0)
    assert(d.getAs[String]("summary") ===
      "2D image, multi-channel (3 channels) - shape (T=1, C=3, Z=1, Y=4, X=5)")
    val chs = df.select(col("ome_arrow.pixels_meta.channels.name"))
      .collect()(0).getSeq[String](0)
    assert(chs === Seq("R", "G", "B"))
    // channel planes carry each sample's values
    val byC = OmeOps.explodePlanes(df)
      .select(col("c").cast("int"), col("pixels")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    for (s <- 0 until 3)
      assert(byC(s) === (0 until 20).map(p => (s * 50 + p) % 256))
    // metadata-only route (v2 pruned scan) reports the same shape
    val meta = spark.read.format("ometiff").load(dir.getPath)
      .select(col("ome_arrow.pixels_meta.size_c")).collect()(0).getShort(0)
    assert(meta === 3)
  }

  test("O8: TIFF export -> ingest preserves pixels") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0002")
    OmeTiff.write(one, "/tmp/graft_test_one.ome.tiff")
    val back = OmeTiff.read(spark, "/tmp/graft_test_one.ome.tiff")
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(one) === sums(back))
  }

  test("BigTIFF (magic 43) decodes, including LONG8 strip tags") {
    // hand-built minimal LE BigTIFF: 4x4 uint16 page, pixel data at 16,
    // one IFD at 48 with LONG8-typed strip offset/count entries
    val out = java.nio.ByteBuffer.allocate(256)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(43)
    out.putShort(8).putShort(0).putLong(48) // offset size, reserved, IFD@48
    for (v <- 0 until 16) out.putShort(v.toShort) // pixels at offset 16
    out.putLong(7) // entry count
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      out.putShort(tag.toShort).putShort(typ.toShort)
      out.putLong(count).putLong(value)
    }
    entry(256, 3, 1, 4)   // ImageWidth (SHORT, inline in 8-byte field)
    entry(257, 3, 1, 4)   // ImageLength
    entry(258, 3, 1, 16)  // BitsPerSample
    entry(259, 3, 1, 1)   // Compression: none
    entry(273, 16, 1, 16) // StripOffsets as LONG8
    entry(277, 3, 1, 1)   // SamplesPerPixel
    entry(279, 16, 1, 32) // StripByteCounts as LONG8
    out.putLong(0) // next IFD
    val bytes = java.util.Arrays.copyOf(out.array(), out.position())
    val pages = TiffCodec.decode(bytes)
    assert(pages.length === 1)
    assert((pages.head.width, pages.head.height, pages.head.bitsPerSample)
      === (4, 4, 16))
    assert(pages.head.pixels.toSeq === (0 until 16))
    // metadata-only decode agrees and stays pixel-free
    val meta = TiffCodec.decodeMeta(new TiffCodec.ArrayTiffData(bytes))
    assert(meta.head.width === 4 && meta.head.pixels.isEmpty)
    // a BigTIFF header with the wrong offset bytesize is rejected
    val bad = bytes.clone; bad(4) = 4
    val ex = intercept[IllegalArgumentException] { TiffCodec.decode(bad) }
    assert(ex.getMessage.contains("bytesize"))
  }

  test("hostile BigTIFF LONG8 count rejects loudly before allocating") {
    // regression pin (ADVICE r7 #2): a LONG8 count of 2^61+1 makes
    // elemSize * count wrap to 8, slipping past the end-of-file bound
    // while Array.tabulate would attempt a multi-EB allocation — the
    // count itself must be validated against the file size first
    val out = java.nio.ByteBuffer.allocate(256)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(43)
    out.putShort(8).putShort(0).putLong(48)
    for (v <- 0 until 16) out.putShort(v.toShort)
    out.putLong(7)
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      out.putShort(tag.toShort).putShort(typ.toShort)
      out.putLong(count).putLong(value)
    }
    entry(256, 3, 1, 4); entry(257, 3, 1, 4)
    entry(258, 3, 1, 16); entry(259, 3, 1, 1)
    entry(273, 16, 1, 16); entry(277, 3, 1, 1)
    entry(279, 16, 0x2000000000000001L, 32) // hostile LONG8 count
    out.putLong(0)
    val bytes = java.util.Arrays.copyOf(out.array(), out.position())
    val ex = intercept[IllegalArgumentException] { TiffCodec.decode(bytes) }
    assert(ex.getMessage.contains("claims"), ex.getMessage)
  }

  test("v2 store with OVERSIZED (padded) chunk extents decodes exactly") {
    // regression pin (ADVICE r7 #1): chunk y/x extents LARGER than the
    // array shape are legal zarr (edge chunks pad to the full chunk
    // shape); sx/sy strides would silently mis-read the cX-strided
    // padded rows — they must decode correctly, not merely not error.
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0003")
    val root = "/tmp/graft_test_v2oversized/i4d-0003.zarr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    graft.sources.OmeZarr.write(one, root, compressor = "null")
    val lvl = new java.io.File(s"$root/0")
    val za = new java.io.File(lvl, ".zarray")
    val doc = new String(java.nio.file.Files.readAllBytes(za.toPath), "UTF-8")
    // shape is (t, c, z, 8, 8) whole-plane chunks; oversize to 11 x 13
    val (sy, sx, cY, cX) = (8, 8, 11, 13)
    val patched = doc.replaceAll(
      """"chunks"\s*:\s*\[1, 1, 1, 8, 8\]""",
      s""""chunks": [1, 1, 1, $cY, $cX]""")
    assert(patched != doc, s"fixture drift: expected 8x8 chunks in $doc")
    java.nio.file.Files.write(za.toPath, patched.getBytes("UTF-8"))
    // re-pad every raw <u2 chunk: rows restride from sx to cX, then
    // zero-fill rows sy..cY — exactly what a padding writer emits
    lvl.listFiles.filter(_.getName.matches("""\d+(\.\d+){4}""")).foreach { f =>
      val orig = java.nio.file.Files.readAllBytes(f.toPath)
      assert(orig.length === sy * sx * 2, s"unexpected chunk ${f.getName}")
      val out = new Array[Byte](cY * cX * 2)
      for (y <- 0 until sy)
        System.arraycopy(orig, y * sx * 2, out, y * cX * 2, sx * 2)
      java.nio.file.Files.write(f.toPath, out)
    }
    val back = graft.sources.OmeZarr.read(spark, root)
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(one) === sums(back))
  }

  test("predictor-2 (horizontal differencing) strips decode; tiles reject") {
    // hand-built LE classic TIFF: 4x2 uint16, uncompressed, predictor 2;
    // stored samples are row deltas of 100,110,130,160 / 5,6,8,11
    val deltas = Seq(100, 10, 20, 30, 5, 1, 2, 3)
    val out = java.nio.ByteBuffer.allocate(256)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42).putInt(24)
    deltas.foreach(v => out.putShort(v.toShort)) // pixel data at offset 8
    out.putShort(8) // entry count, IFD at 24
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      out.putShort(tag.toShort).putShort(typ.toShort)
      out.putInt(count).putInt(value)
    }
    entry(256, 3, 1, 4); entry(257, 3, 1, 2)  // 4x2
    entry(258, 3, 1, 16); entry(259, 3, 1, 1) // 16-bit, none
    entry(273, 4, 1, 8); entry(277, 3, 1, 1)  // strip@8, 1 sample
    entry(279, 4, 1, 16); entry(317, 3, 1, 2) // 16 bytes, predictor 2
    out.putInt(0)
    val bytes = java.util.Arrays.copyOf(out.array(), out.position())
    val pages = TiffCodec.decode(bytes)
    assert(pages.head.pixels.toSeq === Seq(100, 110, 130, 160, 5, 6, 8, 11))
    // an unknown predictor id must reject, not silently mis-decode
    val bad = bytes.clone
    // predictor entry value lives 8 bytes into the 8th entry
    val predOff = 24 + 2 + 7 * 12 + 8
    bad(predOff) = 3
    val ex = intercept[IllegalArgumentException] { TiffCodec.decode(bad) }
    assert(ex.getMessage.contains("predictor"))
  }

  /** Classic LE TIFF of one 16-bit gray page held in ONE compressed
    * segment: a strip, or a `tile` x `tile` tile. */
  private def oneSegmentTiff(w: Int, h: Int, compression: Int,
      seg: Array[Byte], tile: Option[Int] = None): Array[Byte] = {
    val ifd = 8 + seg.length + seg.length % 2
    val tags = Seq(256 -> w, 257 -> h, 258 -> 16, 259 -> compression) ++
      (tile match {
        case Some(t) => Seq(322 -> t, 323 -> t, 324 -> 8, 325 -> seg.length)
        case None => Seq(273 -> 8, 279 -> seg.length)
      })
    val out = java.nio.ByteBuffer.allocate(ifd + 2 + 12 * tags.length + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifd).put(seg)
    out.position(ifd)
    out.putShort(tags.length.toShort)
    tags.foreach { case (tag, v) => // all LONG, one value inline
      out.putShort(tag.toShort).putShort(4).putInt(1).putInt(v)
    }
    out.putInt(0).array()
  }

  test("TIFF: a deflate strip that inflates past its page is refused") {
    // a 4x2 16-bit page holds 16 bytes; this strip inflates to 160
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(bos)
    z.write(new Array[Byte](160)); z.close()
    val ex = intercept[IllegalArgumentException] {
      TiffCodec.decode(oneSegmentTiff(4, 2, 8, bos.toByteArray))
    }
    assert(ex.getMessage.contains("bound"))
  }

  test("TIFF: a tiled LZMA page whose tile is larger than the page decodes") {
    // 20x20 page, one 32x32 tile: the tile decodes to 2,048 bytes, more
    // than the page's 800, and only its top-left 20x20 is the page
    val tile = new Array[Byte](32 * 32 * 2)
    for (i <- 0 until 32 * 32) { tile(2 * i) = (i & 0xff).toByte; tile(2 * i + 1) = (i >> 8).toByte }
    val bos = new java.io.ByteArrayOutputStream()
    val xz = new org.tukaani.xz.XZOutputStream(bos, new org.tukaani.xz.LZMA2Options())
    xz.write(tile); xz.close()
    val page = TiffCodec.decode(oneSegmentTiff(20, 20, 34925, bos.toByteArray, Some(32))).head
    assert(page.pixels.toSeq === (0 until 400).map(i => (i / 20) * 32 + i % 20))
  }

  test("TIFF: a truncated PackBits strip throws IllegalArgumentException") {
    // a literal run of 6 with 2 bytes left; a repeat run with no byte
    for (strip <- Seq(Array[Byte](5, 1, 2), Array[Byte](0, 1, -3)))
      intercept[IllegalArgumentException] {
        TiffCodec.decode(oneSegmentTiff(4, 2, 32773, strip))
      }
  }

  test("foreign v2 store with '/' dimension_separator reads") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0001")
    val root = "/tmp/graft_test_v2slash/i4d-0001.zarr"
    graft.sources.OmeZarr.write(one, root)
    // transform into the zarr-2.11 nested layout a foreign writer emits:
    // move t.c.z.y.x chunk files to t/c/z/y/x and patch the separator
    val lvl = new java.io.File(s"$root/0")
    lvl.listFiles.filter(_.getName.matches("""\d+(\.\d+){4}""")).foreach { f =>
      val parts = f.getName.split("\\.")
      val dir = new java.io.File(lvl, parts.init.mkString("/"))
      dir.mkdirs()
      assert(f.renameTo(new java.io.File(dir, parts.last)))
    }
    val za = new java.io.File(lvl, ".zarray")
    val doc = new String(java.nio.file.Files.readAllBytes(za.toPath), "UTF-8")
    java.nio.file.Files.write(za.toPath, doc.replace(
      "\"dimension_separator\": \".\"",
      "\"dimension_separator\": \"/\"").getBytes("UTF-8"))
    val back = graft.sources.OmeZarr.read(spark, root)
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(one) === sums(back))
  }

  test("paged metadata decode reads only header/IFD pages") {
    // 64x64 16-bit page, uncompressed -> 8 KiB of pixel payload the
    // metadata path must never fetch
    val pages = Seq((64, 64, Array.tabulate(64 * 64)(_ % 65536)))
    val bytes = TiffCodec.encode(pages, compression = "none")
    val f = java.io.File.createTempFile("graft_paged", ".tiff")
    java.nio.file.Files.write(f.toPath, bytes)
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      val paged = new TiffCodec.PagedTiffData(
        (pos, b, o, n) => { raf.seek(pos); raf.readFully(b, o, n) },
        f.length, pageSize = 512)
      val meta = TiffCodec.decodeMeta(paged)
      // parity with the in-memory meta decode
      val expect = TiffCodec.decodeMeta(new TiffCodec.ArrayTiffData(bytes))
      assert(meta.map(p => (p.width, p.height, p.bitsPerSample)) ===
        expect.map(p => (p.width, p.height, p.bitsPerSample)))
      assert(meta.head.pixels.isEmpty)
      // the pixel strips span >= 16 of the ~17 512-byte pages; the
      // header/IFD walk must touch only a handful
      val totalPages = (f.length + 511) / 512
      assert(totalPages >= 16, s"fixture too small: $totalPages pages")
      assert(paged.pagesRead <= 4,
        s"metadata decode read ${paged.pagesRead} of $totalPages pages")
    } finally { raf.close(); f.delete() }
  }

  test("O4: pattern grammar expansion") {
    val (nums, isNum) = OmeStack.expandRawToken("000-021")
    assert(nums.length === 22 && nums.head === "000" && nums.last === "021" && isNum)
    val (stepped, _) = OmeStack.expandRawToken("0-10:5")
    assert(stepped === Seq("00", "05", "10"))
    val (alts, isNum2) = OmeStack.expandRawToken("red,green")
    assert(alts === Seq("red", "green") && !isNum2)
    assert(OmeStack.detectDim("E99_C") === Some('C'))
    assert(OmeStack.detectDim("img_zs") === Some('Z'))
    assert(OmeStack.detectDim("E99_") === None)
  }

  test("O4: nviz corpus assembles to the golden 2ch x 22z shape") {
    val df = OmeStack.readPattern(spark,
      "/root/reference/tests/data/nviz-artificial-4d-dataset/E99_C<111,222>_ZS<000-021>.tif")
    val row = OmeOps.describe(df).collect()(0)
    assert(row.getAs[String]("summary") ===
      "3D image (z-stack), multi-channel (2 channels) - shape (T=1, C=2, Z=22, Y=128, X=128)")
    assert(df.select(size(col("ome_arrow.planes"))).collect()(0).getInt(0) === 44)
  }

  test("O9+O5: Zarr export -> ingest round-trips pixels and metadata") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0003")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_z/i4d-0003.zarr")
    val back = graft.sources.OmeZarr.read(spark, "/tmp/graft_test_z/i4d-0003.zarr")
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(one) === sums(back))
    assert(OmeOps.describe(back).collect()(0).getAs[String]("summary") ===
      "4D timelapse-volume, multi-channel (2 channels) - shape (T=2, C=2, Z=2, Y=8, X=8)")
  }

  test("O5: missing Zarr chunks zero-fill") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0000")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_zh/i4d-0000.zarr")
    new java.io.File("/tmp/graft_test_zh/i4d-0000.zarr/0/1.1.1.0.0").delete()
    val back = graft.sources.OmeZarr.read(spark, "/tmp/graft_test_zh/i4d-0000.zarr")
    val holeSum = OmeOps.explodePlanes(back)
      .filter(col("t") === 1 && col("c") === 1 && col("z") === 1)
      .select(aggregate(col("pixels"), lit(0L), (a, v) => a + v))
      .collect()(0).getLong(0)
    assert(holeSum === 0L)
    assert(back.select(size(col("ome_arrow.planes"))).collect()(0).getInt(0) === 8)
  }

  test("O6: foreign field ORDER conforms by name, not position") {
    // pyarrow fixture with every struct level's fields shuffled
    val df = OmeParquet.read(spark,
      "/root/repo/src/test/resources/scrambled_order.parquet")
    val row = OmeOps.describe(df).collect()(0)
    assert(row.getAs[String]("id") === "scr-1")
    assert(row.getAs[String]("type") === "2D image")
    val px = df.select(element_at(col("ome_arrow.planes"), 1).getField("pixels"))
      .collect()(0).getSeq[Int](0)
    assert(px === (0 until 6))
    val ch = df.select(element_at(col("ome_arrow.pixels_meta.channels"), 1))
      .collect()(0).getStruct(0)
    assert(ch.getAs[String]("id") === "ch-0" && ch.getAs[String]("name") === "DNA")
  }

  test("O16: a directory of .zarr stores dispatches to the corpus read") {
    graft.sources.OmeZarr.write(Fixtures.corpus4d(spark), "/tmp/graft_test_zcorp")
    val df = graft.OmeArrow.read(spark, "/tmp/graft_test_zcorp")
    assert(df.count() === 4)
    new java.io.File("/tmp/graft_test_empty").mkdirs()
    val ex = intercept[IllegalArgumentException] {
      graft.OmeArrow.read(spark, "/tmp/graft_test_empty") // no .zarr children
    }
    assert(ex.getMessage.contains("Cannot infer format"))
  }

  test("O16: bare TIFF glob reads one record per file") {
    val df = graft.OmeArrow.read(spark,
      "/root/reference/tests/data/ome-artificial-5d-datasets/*.ome.tiff")
    assert(df.count() === 6) // 6 .ome.tiff files (time-series is .ome.tif)
  }

  test("O8: TIFF writer options (packbits, tiles, channel colors) round-trip") {
    // conftest fixture: 4x3 px (exercises tile edge padding), channels
    // with distinct display colors (blue 0x0000FFFF, red 0xFF0000FF)
    val one = Fixtures.conftestDf(spark)
    graft.sources.OmeTiff.write(one, "/tmp/graft_test_topt",
      compression = "packbits", tile = Some((16, 16)), useChannelColors = true)
    val back = graft.sources.OmeTiff.read(spark, "/tmp/graft_test_topt")
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(one) === sums(back))
    // colors survive the OME-XML Color attribute (signed RGBA int32)
    val colors = back.select(transform(col("ome_arrow.pixels_meta.channels"),
      c => c.getField("color_rgba"))).collect()(0).getSeq[Long](0)
    assert(colors === Seq(0x0000FFFFL, 0xFF0000FFL))
    val ex = intercept[Exception] {
      graft.sources.OmeTiff.write(one, "/tmp/graft_test_topt2",
        compression = "lzma")
    }
    assert(ex.getMessage.contains("lzma"))
  }

  test("O5: foreign Zarr dtypes (|u1 raw, >u2 zlib) decode correctly") {
    val u1 = graft.sources.OmeZarr.read(spark,
      "/root/repo/src/test/resources/u1_store.zarr")
    val r1 = u1.select(
      element_at(col("ome_arrow.planes"), 1).getField("pixels"),
      element_at(col("ome_arrow.planes"), 2).getField("pixels"),
      col("ome_arrow.pixels_meta.physical_size_x"),
      element_at(col("ome_arrow.pixels_meta.channels"), 1).getField("name"))
      .collect()(0)
    assert(r1.getSeq[Int](0) === (0 until 12))
    assert(r1.getSeq[Int](1) === (100 until 112))
    assert(r1.getFloat(2) === 0.5f) // from the scale transform
    assert(r1.getString(3) === "DNA") // from omero channels
    val big = graft.sources.OmeZarr.read(spark,
      "/root/repo/src/test/resources/bigu2_store.zarr")
    val r2 = big.select(element_at(col("ome_arrow.planes"), 2).getField("pixels"))
      .collect()(0)
    assert(r2.getSeq[Int](0) === (100 until 112))
  }

  test("OmeXml: page coordinate mapping follows DimensionOrder") {
    // XYZCT: Z fastest. sizes Z=2,C=3,T=2; page 7 -> z=1, c=0, t=1
    assert(OmeXml.pageCoords("XYZCT", 2, 3, 2, 7) === ((1, 0, 1)))
    // XYCZT: C fastest. page 7 -> c=1, z=0, t=1
    assert(OmeXml.pageCoords("XYCZT", 2, 3, 2, 7) === ((1, 1, 0)))
  }

  test("DocJsonl: hostile text (newlines, quotes, unicode, tabs) " +
      "round-trips losslessly; corrupt lines are counted, not fatal") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    val hostile = Seq(
      (1L, "line one\nline two\twith tab", "en", "s0", 26L),
      (2L, "\"quoted\" and \\backslash\\", "en", "s0", 24L),
      (3L, "unicode: é中文 😀", "zh", "s1", 12L),
      (4L, "", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    graft.sources.DocJsonl.write(hostile, dir)
    val back = graft.sources.DocJsonl.read(spark, dir)
      .orderBy("doc_id").collect()
    val orig = hostile.orderBy("doc_id").collect()
    assert(back.map(_.getString(1)).toSeq === orig.map(_.getString(1)).toSeq,
      "text must survive the JSON escape/unescape cycle byte-for-byte")
    // inject one malformed line beside the good files
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-junk.json"),
      """{"doc_id": 99, "text": "trunca""")
    val report = graft.sources.DocJsonl.ingestReport(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(report("_corrupt") === ((1L, 1L)), s"report: $report")
    assert(report("s0")._1 === 2L && report("s1")._1 === 2L)
    // strict read drops the corrupt line and keeps every good doc
    assert(graft.sources.DocJsonl.read(spark, dir).count() === 4L)
    // quarantine keeps it, raw line attached (project a data column
    // too — corrupt-column-only plans are disallowed by Spark)
    val quar = graft.sources.DocJsonl.quarantine(spark, dir)
      .select(col("doc_id"), col("_corrupt"))
      .filter(col("_corrupt").isNotNull).collect()
    assert(quar.length === 1 && quar.head.getString(1).contains("trunca"))
    // gzip roundtrip: codec picked from the .gz extension on read
    val gzDir = java.nio.file.Files.createTempDirectory("jsonlgz").toString
    graft.sources.DocJsonl.write(hostile, gzDir, compression = "gzip")
    assert(new java.io.File(gzDir).listFiles()
      .exists(_.getName.endsWith(".json.gz")), "expected gzip parts")
    val gzBack = graft.sources.DocJsonl.read(spark, gzDir)
      .orderBy("doc_id").collect()
    assert(gzBack.map(_.getString(1)).toSeq ===
      orig.map(_.getString(1)).toSeq)
  }
}
