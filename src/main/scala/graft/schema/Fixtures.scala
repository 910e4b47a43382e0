package graft.schema

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic OME-Arrow records for tests, golden-oracle queries and
 * benchmarks.
 *
 * `conftestRecord` reproduces the reference's hand-written known-good
 * fixture verbatim (reference: tests/conftest.py:10-70): 4x3 px, 2 channels
 * (DNA / Mito), 1 z, 1 t, physical sizes 0.65/0.65/1.0 µm.
 *
 * `syntheticImages` generates an arbitrary-size corpus of valid records
 * entirely on executors (spark.range + higher-order functions, no driver
 * loop, no UDF) — pixel values follow a closed-form formula so that oracle
 * SQL can regenerate them independently.
 */
object Fixtures {

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  /** tests/conftest.py:10-70, field for field. */
  val conftestRecord: OmeArrowRecord = OmeArrowRecord(
    `type` = OmeSchema.TagType,
    version = "1.0.0",
    id = "img-0001",
    name = "Example image",
    acquisition_datetime = ts("2025-01-01T12:00:00Z"),
    pixels_meta = OmePixelsMeta(
      dimension_order = "XYCT", // Z==1, so XYCT (conftest.py:22)
      `type` = "uint16",
      size_x = 4,
      size_y = 3,
      size_z = 1,
      size_c = 2,
      size_t = 1,
      physical_size_x = Some(0.65f),
      physical_size_y = Some(0.65f),
      physical_size_z = Some(1.00f),
      physical_size_x_unit = Some("µm"),
      physical_size_y_unit = Some("µm"),
      physical_size_z_unit = Some("µm"),
      channels = Seq(
        OmeChannel("C0", "DNA", Some(0.46f), Some(0.40f),
          Some("Epifluorescence"), Some(0x0000FFFFL)),
        OmeChannel("C1", "Mito", Some(0.59f), Some(0.54f),
          Some("Epifluorescence"), Some(0xFF0000FFL))
      )
    ),
    planes = Seq(
      OmePlane(z = 0, t = 0, c = 0,
        pixels = Seq(0, 1, 2, 3, 10, 11, 12, 13, 20, 21, 22, 23)),
      OmePlane(z = 0, t = 0, c = 1,
        pixels = Seq(100, 101, 102, 103, 110, 111, 112, 113, 120, 121, 122, 123))
    )
  )

  /** Single-row DataFrame holding the conftest fixture under the default
    * `ome_arrow` column name. */
  def conftestDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(conftestRecord).toDF().select(
      struct(col("type"), col("version"), col("id"), col("name"),
        col("acquisition_datetime"), col("pixels_meta"), col("planes"))
        .as(OmeSchema.DefaultColumn))
  }

  /**
   * Synthetic corpus: `n` images of shape (T=t, C=c, Z=z, Y=sy, X=sx) with
   * pixel(img, tt, cc, zz, y, x) = (img*31 + tt*13 + cc*7 + zz*3 + y*sx + x) % 65536.
   *
   * Fully distributed: one `spark.range` task per image; planes and pixels
   * are materialized by `transform(sequence(...))` on executors, so the
   * corpus scales to arbitrary n without any driver memory. An oracle can
   * regenerate the same values from the closed form.
   */
  def syntheticImages(spark: SparkSession, n: Int,
      t: Int = 2, c: Int = 2, z: Int = 2,
      sy: Int = 32, sx: Int = 32, prefix: String = "img",
      textured: Boolean = false): DataFrame = {
    graft.functions.ensureRegistered(spark)
    val img = col("id")
    // Native one-loop-per-plane ramp: same values as the column
    // formulation `transform(sequence(0, sy*sx-1), p => (base + p) %
    // 65536)` but without a boxed lambda eval per pixel — the generator
    // was the dominant (and GC-noisy) cost of the scale-pipeline bench.
    //
    // `textured` swaps the linear ramp for the quadratic form
    // `base + p^2 * (1 + (z + p/sx) % 2)`: the ramp's second difference
    // is 0 everywhere, so sharpness-sensitive kernels (focus stacking)
    // see every plane as equally sharp — the textured variant gives
    // in-row second difference 2k with k alternating by (z + row)
    // parity, so the sharpest z genuinely varies across the image and
    // the oracle discriminates, not just smokes. Closed form either way.
    val pixelsFor = (tt: org.apache.spark.sql.Column,
                     cc: org.apache.spark.sql.Column,
                     zz: org.apache.spark.sql.Column) =>
      if (!textured)
        graft.functions.synth_ramp(
          (img * 31 + tt * 13 + cc * 7 + zz * 3).cast("long"),
          lit(sy * sx))
      else {
        val base = img * 31 + tt * 13 + cc * 7 + zz * 3
        // floor-div for the row index: Column./ is DOUBLE division;
        // the square is taken in long — p * p in int overflows above
        // 46,340 px per plane
        transform(sequence(lit(0), lit(sy * sx - 1)), p =>
          ((base + p.cast("long") * p * (lit(1) +
            (zz + floor(p / lit(sx)).cast("int")) % 2))
            % 65536).cast("int"))
      }
    // t-major, then c, then z plane order (reference ingest convention,
    // ingest.py:258-264).
    val planes = flatten(transform(sequence(lit(0), lit(t - 1)), tt =>
      flatten(transform(sequence(lit(0), lit(c - 1)), cc =>
        transform(sequence(lit(0), lit(z - 1)), zz =>
          struct(
            zz.cast("int").as("z"),
            tt.cast("int").as("t"),
            cc.cast("short").as("c"),
            pixelsFor(tt, cc, zz).as("pixels")))))))
    val channels = transform(sequence(lit(0), lit(c - 1)), i =>
      struct(
        concat(lit("ch-"), i).as("id"),
        concat(lit("C"), i).as("name"),
        lit(null).cast("float").as("emission_um"),
        lit(null).cast("float").as("excitation_um"),
        lit(null).cast("string").as("illumination"),
        lit(0xFFFFFFFFL).as("color_rgba")))
    val pixelsMeta = struct(
      lit(if (z > 1) "XYZCT" else "XYCT").as("dimension_order"),
      lit("uint16").as("type"),
      lit(sx).as("size_x"),
      lit(sy).as("size_y"),
      lit(z).as("size_z"),
      lit(c).cast("short").as("size_c"),
      lit(t).as("size_t"),
      lit(1.0f).as("physical_size_x"),
      lit(1.0f).as("physical_size_y"),
      lit(1.0f).as("physical_size_z"),
      lit("µm").as("physical_size_x_unit"),
      lit("µm").as("physical_size_y_unit"),
      lit("µm").as("physical_size_z_unit"),
      channels.as("channels"))
    // min(n, cores) partitions, not a flat defaultParallelism (32): a
    // 4-row family in 32 mostly-empty partitions costs 8x the
    // task-schedule overhead on every downstream job (export wrote 128
    // tasks for 16 rows) — but one-per-image is just as wrong at the
    // other end (the bench's 100+-image scale corpus exploded into
    // 100+ tasks per stage, ome_scale_pipeline 1.1 -> 2.6 s)
    spark.range(0, n, 1,
        math.min(n, spark.sparkContext.defaultParallelism))
      .select(col("id").cast("int").as("id"))
      .select(struct(
        lit(OmeSchema.TagType).as("type"),
        lit(OmeSchema.Version).as("version"),
        format_string("%s-%04d", lit(prefix), img).as("id"),
        format_string("Synthetic image %d", img).as("name"),
        lit(ts("2025-01-01T00:00:00Z")).as("acquisition_datetime"),
        pixelsMeta.as("pixels_meta"),
        planes.as("planes")).as(OmeSchema.DefaultColumn))
  }

  /** Shape parameters of the four `mixedCorpus` families — one per
    * reference classification branch (utils.py:59-69). */
  val MixedFamilies: Seq[(String, Int, Int, Int)] = Seq(
    // (prefix, t, c, z); all 8x8 planes, 4 images each
    ("i2d", 1, 1, 1),
    ("i3d", 1, 2, 3),
    ("mov", 3, 1, 1),
    ("i4d", 2, 2, 2))

  /** 16-image corpus spanning all four (T,Z) classification branches and
    * both channel classes — the describe/slice oracle substrate. */
  def mixedCorpus(spark: SparkSession): DataFrame =
    MixedFamilies.map { case (p, t, c, z) =>
      syntheticImages(spark, 4, t = t, c = c, z = z, sy = 8, sx = 8, prefix = p)
    }.reduce(_ unionAll _)

  /** The `i4d` family alone (2x2x2 planes of 8x8) — substrate for the
    * pixel-level operator oracles. */
  def corpus4d(spark: SparkSession): DataFrame =
    syntheticImages(spark, 4, t = 2, c = 2, z = 2, sy = 8, sx = 8, prefix = "i4d")

  /** The textured `i4e` family (6 images, 2x3x3 planes of 8x8,
    * quadratic texture) — substrate for the sharpness- and
    * channel-sensitive oracles (focus stacking, RGB composite), where
    * the linear ramp's zero second difference would degenerate every
    * plane to an equal-sharpness tie. */
  def texturedCorpus(spark: SparkSession): DataFrame =
    syntheticImages(spark, 6, t = 2, c = 3, z = 3, sy = 8, sx = 8,
      prefix = "i4e", textured = true)

  // --- color TIFF fixture assembly ------------------------------------
  //
  // The library's own TIFF writer is grayscale-only by design (the
  // reference writes single-sample OME-TIFF, export.py:116-228), so
  // RGB / palette DECODE fixtures are assembled directly from the TIFF
  // 6.0 structures here: classic little-endian, single page, strip or
  // tile organization, chunky or planar configuration, optional
  // per-segment deflate. Used by the `ome_tiff_rgb` oracle query and
  // the codec property specs.

  /** RGB(A) TIFF bytes: `px(s, y, x)` is sample `s`'s value.
    * `predictor` applies per-sample horizontal differencing (tag 317=2,
    * strip layout only — matching the decoder's contract). */
  def rgbTiffBytes(w: Int, h: Int, px: (Int, Int, Int) => Int,
      samples: Int = 3, planar: Int = 1, bits: Int = 8,
      tile: Option[(Int, Int)] = None,
      deflate: Boolean = false, predictor: Boolean = false): Array[Byte] = {
    require(!(predictor && tile.isDefined),
      "fixture: predictor 2 is strip-only")
    val eff: (Int, Int, Int) => Int =
      if (!predictor) px
      else {
        val mask = (1 << bits) - 1
        (s, y, x) => if (x == 0) px(s, y, x)
          else (px(s, y, x) - px(s, y, x - 1)) & mask
      }
    colorTiff(w, h, samples, planar, bits, eff, None, tile, deflate,
      predictor)
  }

  /** Palette TIFF bytes: 8-bit indices `idx(y, x)` plus a
    * 16-bit-per-component ColorMap `cmap(i) = (r, g, b)`. */
  def paletteTiffBytes(w: Int, h: Int, idx: (Int, Int) => Int,
      cmap: Int => (Int, Int, Int), deflate: Boolean = false): Array[Byte] =
    colorTiff(w, h, 1, 1, 8, (_, y, x) => idx(y, x), Some(cmap), None,
      deflate, predictor = false)

  private def colorTiff(w: Int, h: Int, samples: Int, planar: Int,
      bits: Int, px: (Int, Int, Int) => Int,
      cmap: Option[Int => (Int, Int, Int)], tile: Option[(Int, Int)],
      deflate: Boolean, predictor: Boolean): Array[Byte] = {
    val bpp = bits / 8
    def put(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
      b.write(v & 0xff)
      if (bpp == 2) b.write((v >> 8) & 0xff)
    }
    // pixel segments: strips (1 chunky / `samples` planar) or tiles
    // (row-major, component-0 set first for planar, edges zero-padded)
    val raw: Seq[Array[Byte]] = tile match {
      case None =>
        if (planar == 2) (0 until samples).map { s =>
          val b = new java.io.ByteArrayOutputStream()
          for (y <- 0 until h; x <- 0 until w) put(b, px(s, y, x))
          b.toByteArray
        } else Seq {
          val b = new java.io.ByteArrayOutputStream()
          for (y <- 0 until h; x <- 0 until w; s <- 0 until samples)
            put(b, px(s, y, x))
          b.toByteArray
        }
      case Some((th, tw)) =>
        val across = (w + tw - 1) / tw
        val down = (h + th - 1) / th
        val perTile = (s0: Option[Int], ty: Int, tx: Int) => {
          val b = new java.io.ByteArrayOutputStream()
          for (r <- 0 until th; c0 <- 0 until tw) {
            val y = ty * th + r; val x = tx * tw + c0
            val in = y < h && x < w
            s0 match {
              case Some(s) => put(b, if (in) px(s, y, x) else 0)
              case None =>
                for (s <- 0 until samples) put(b, if (in) px(s, y, x) else 0)
            }
          }
          b.toByteArray
        }
        if (planar == 2)
          for (s <- 0 until samples; ty <- 0 until down; tx <- 0 until across)
            yield perTile(Some(s), ty, tx)
        else
          for (ty <- 0 until down; tx <- 0 until across)
            yield perTile(None, ty, tx)
    }
    val segs = raw.map { r =>
      if (!deflate) r
      else {
        val d = new java.util.zip.Deflater()
        d.setInput(r); d.finish()
        val buf = new Array[Byte](r.length * 2 + 64)
        val n = d.deflate(buf); d.end()
        java.util.Arrays.copyOf(buf, n)
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x49, 0x49, 42, 0, 0, 0, 0, 0))
    def pad(): Unit = if (out.size() % 2 == 1) out.write(0)
    val segOffsets = segs.map { s => pad(); val o = out.size(); out.write(s); o }
    def shortArr(vals: Seq[Int]): Int = {
      pad(); val o = out.size()
      vals.foreach { v => out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      o
    }
    def longArr(vals: Seq[Int]): Int = {
      pad(); val o = out.size()
      vals.foreach { v =>
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
      }
      o
    }
    // out-of-line value areas (written before the IFD that points at them)
    val bitsValue =
      if (samples == 1) bits else shortArr(Seq.fill(samples)(bits))
    val nSeg = segs.length
    val (offValue, cntValue) =
      if (nSeg == 1) (segOffsets.head, segs.head.length)
      else (longArr(segOffsets), longArr(segs.map(_.length)))
    val cmapValue = cmap.map { f =>
      val rgb = (0 until 256).map(f)
      shortArr(rgb.map(_._1) ++ rgb.map(_._2) ++ rgb.map(_._3))
    }
    // IFD entries, ascending tag order per the spec
    final case class E(tag: Int, typ: Int, count: Int, value: Int)
    val segTags =
      if (tile.isEmpty) Seq(E(273, 4, nSeg, offValue), E(278, 4, 1, h),
        E(279, 4, nSeg, cntValue))
      else Seq(E(322, 4, 1, tile.get._2), E(323, 4, 1, tile.get._1),
        E(324, 4, nSeg, offValue), E(325, 4, nSeg, cntValue))
    val entries = (Seq(
      E(256, 4, 1, w), E(257, 4, 1, h),
      E(258, 3, samples, bitsValue),
      E(259, 3, 1, if (deflate) 8 else 1),
      E(262, 3, 1, if (cmap.isDefined) 3 else 2),
      E(277, 3, 1, samples),
      E(284, 3, 1, planar)) ++ segTags ++
      (if (predictor) Seq(E(317, 3, 1, 2)) else Nil) ++
      cmapValue.map(o => E(320, 3, 3 * 256, o))).sortBy(_.tag)
    pad()
    val ifdOffset = out.size()
    val ifd = java.nio.ByteBuffer
      .allocate(2 + entries.length * 12 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ifd.putShort(entries.length.toShort)
    entries.foreach { e =>
      ifd.putShort(e.tag.toShort); ifd.putShort(e.typ.toShort)
      ifd.putInt(e.count)
      if (e.typ == 3 && e.count == 1) {
        ifd.putShort(e.value.toShort); ifd.putShort(0)
      } else ifd.putInt(e.value)
    }
    ifd.putInt(0) // no next IFD
    out.write(ifd.array())
    val bytes = out.toByteArray
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(4, ifdOffset)
    bytes
  }
}
