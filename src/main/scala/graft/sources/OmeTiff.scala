package graft.sources

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema._

/**
 * TIFF / OME-TIFF source and sink (reference: ingest.py:293-400 `from_tiff`,
 * export.py:116-228 `to_ome_tiff`), built on the `ometiff` DataSourceV2
 * scan + the self-contained `TiffCodec` — the decode loop the reference
 * runs on one process becomes a per-file executor task, so a directory of
 * thousands of TIFFs ingests in parallel with no driver involvement beyond
 * listing.
 *
 * Shape resolution: OME-XML (ImageDescription) sizes + DimensionOrder when
 * present; otherwise a multi-page file is treated as a Z-stack (1,1,N) and
 * a single page as 2-D. (The reference delegates this guess to BioIO's
 * reader heuristics; Z-stack is the convention its pattern-ingest in-file
 * expansion assumes, ingest.py:629-645.)
 *
 * acquisition_datetime: the file's modificationTime (deterministic),
 * where the reference stamps `datetime.now(utc)` (ingest.py:385).
 */
object OmeTiff {

  private[graft] def channelsFor(n: Int, names: Seq[String],
      colors: Seq[Option[Long]] = Nil): Seq[OmeChannel] =
    (0 until n).map { i =>
      // reference channel defaults for file ingest (ingest.py:359-369)
      OmeChannel(s"ch-$i",
        if (i < names.length) names(i) else s"C$i",
        Some(0.0f), Some(0.0f), Some("Unknown"),
        Some(colors.lift(i).flatten.getOrElse(0xFFFFFFFFL)))
    }

  /** Decode one whole TIFF file into a canonical record. */
  private[sources] def decodeRecord(path: String, modTime: Timestamp,
      bytes: Array[Byte], channelNames: Seq[String] = Nil): OmeArrowRecord =
    recordFromPages(path, modTime, TiffCodec.decode(bytes), channelNames)

  /** Metadata-only decode over a random-access source: with
    * [[TiffCodec.PagedTiffData]] only the header/IFD/tag ranges are read
    * from storage — the v2 pruned-scan path never pulls pixel bytes. */
  private[sources] def decodeRecordMeta(path: String, modTime: Timestamp,
      data: TiffCodec.TiffData,
      channelNames: Seq[String] = Nil): OmeArrowRecord =
    recordFromPages(path, modTime, TiffCodec.decodeMeta(data), channelNames)

  /** Channel names and RGBA colors for an RGB(A) / expanded-palette page
    * (OME convention: samples map to channels). */
  private val rgbChannelNames = Seq("R", "G", "B", "A")
  private val rgbChannelColors = Seq(
    Some(0xFF0000FFL), Some(0x00FF00FFL), Some(0x0000FFFFL),
    Some(0xFFFFFFFFL))

  private def recordFromPages(path: String, modTime: Timestamp,
      pages: Seq[TiffCodec.Page],
      channelNames: Seq[String]): OmeArrowRecord = {
    val fileName = path.substring(path.lastIndexOf('/') + 1)
    val stem = fileName.replaceAll("(?i)\\.ome\\.tiff?$|\\.tiff?$", "")
    val xml = pages.head.description.filter(OmeXml.looksLikeOme).flatMap(OmeXml.parse)

    // RGB(A) / palette pages carry channels as SAMPLES: each page's
    // sample planes become C, multi-page -> a Z-stack of color planes
    // (the no-XML convention below, applied per sample). OME-XML channel
    // layouts never pair with multi-sample pages in practice (OME-TIFF
    // writes one channel per page), so the combination is rejected
    // loudly rather than guessed at.
    val sampleCount = pages.head.samples
    require(pages.forall(_.samples == sampleCount),
      s"$fileName: pages have inconsistent sample counts")
    require(sampleCount == 1 || xml.isEmpty,
      s"$fileName: OME-XML dimension layout with $sampleCount-sample " +
        "(RGB) pages unsupported")

    val (st, sc, sz, order) = xml match {
      case Some(m) => (m.sizeT max 1, m.sizeC max 1, m.sizeZ max 1, m.dimensionOrder)
      case None =>
        if (pages.length > 1) (1, sampleCount, pages.length, "XYZCT")
        else (1, sampleCount, 1, "XYCT")
    }
    require(st * sc * sz == pages.length * sampleCount,
      s"$fileName: ${pages.length} pages x $sampleCount samples != " +
        s"T*C*Z = ${st * sc * sz}")
    val sy = pages.head.height
    val sx = pages.head.width
    require(pages.forall(p => p.height == sy && p.width == sx),
      s"$fileName: pages have inconsistent shapes")

    // t-major, c, z plane emission order (ingest.py:370-378)
    val byCoord =
      if (sampleCount > 1)
        // page i = z plane; sample s = channel (pixels sample-planar)
        (for (i <- pages.indices; s <- 0 until sampleCount) yield
          (0, s, i) -> pages(i).samplePlane(s)).toMap
      else pages.zipWithIndex.map { case (p, i) =>
        OmeXml.pageCoords(order, sz, sc, st, i) -> p.pixels
      }.toMap
    val planes = for {
      t <- 0 until st; c <- 0 until sc; z <- 0 until sz
    } yield {
      // a meta-only decode hands back empty pixel arrays (width/height
      // are always > 0, so emptiness is unambiguous)
      val px = byCoord((t, c, z))
      OmePlane(z, t, c.toShort,
        if (px.isEmpty) Seq.empty
        else px.toSeq.map(v => math.min(math.max(v, 0), 65535)))
    }

    val names = if (channelNames.nonEmpty) channelNames
      else if (sampleCount > 1) rgbChannelNames.take(sampleCount)
      else xml.map(_.channelNames).getOrElse(Nil)
    OmeArrowRecord(
      `type` = OmeSchema.TagType,
      version = OmeSchema.Version,
      id = stem,
      name = fileName,
      acquisition_datetime = modTime,
      pixels_meta = OmePixelsMeta(
        dimension_order = if (sz == 1) "XYCT" else "XYZCT",
        `type` = "uint16",
        size_x = sx, size_y = sy, size_z = sz,
        size_c = sc.toShort, size_t = st,
        physical_size_x = Some(xml.flatMap(_.physicalSizeX).getOrElse(1.0f)),
        physical_size_y = Some(xml.flatMap(_.physicalSizeY).getOrElse(1.0f)),
        physical_size_z = Some(xml.flatMap(_.physicalSizeZ).getOrElse(1.0f)),
        physical_size_x_unit = Some("µm"),
        physical_size_y_unit = Some("µm"),
        physical_size_z_unit = Some("µm"),
        channels = channelsFor(sc, names,
          if (sampleCount > 1) rgbChannelColors.take(sampleCount)
          else xml.map(_.channelColors).getOrElse(Nil))),
      planes = planes)
  }

  /** Read TIFF file(s) (path may be a glob or a directory, read one
    * level deep) into one record per file, through the `ometiff` source.
    * `channelNames` overrides the channel names; the source takes them as
    * one comma-separated option that it trims, so a name must be
    * non-empty, comma-free and unpadded. */
  def read(spark: SparkSession, path: String,
      channelNames: Seq[String] = Nil): DataFrame = {
    require(channelNames.forall(n => n.nonEmpty && n.trim == n && !n.contains(",")),
      "OmeTiff.read: channel names must be non-empty, without ',' or " +
        s"surrounding spaces: ${channelNames.mkString("[", "; ", "]")}")
    val names = if (channelNames.isEmpty) Map.empty[String, String]
      else Map("channel_names" -> channelNames.mkString(","))
    spark.read.format("ometiff").options(names).load(path)
  }

  /**
   * Write each record as an OME-TIFF (16-bit gray, deflate strips, OME-XML
   * on page 1). `out` ending in .tif/.tiff writes exactly that file (the
   * reference's single-record contract); otherwise `out` is a directory
   * receiving `<id>.ome.tiff` per row, written from executor tasks.
   */
  def write(df: DataFrame, out: String,
      column: String = OmeSchema.DefaultColumn,
      compression: String = "zlib",
      tile: Option[(Int, Int)] = None,
      useChannelColors: Boolean = false,
      predictor: Boolean = false): Unit = {
    val sp = df.sparkSession
    import sp.implicits._
    val recs = df.select(col(s"$column.*")).as[OmeArrowRecord]
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      sp.sessionState.newHadoopConf())
    val singleFile = out.toLowerCase.endsWith(".tif") || out.toLowerCase.endsWith(".tiff")
    if (singleFile) {
      val all = recs.collect()
      require(all.length == 1,
        s"Writing to a single file '$out' requires exactly 1 record, got ${all.length}")
      writeOne(all(0), new Path(out), hadoopConf.value, compression, tile,
        useChannelColors, predictor)
    } else {
      recs.foreachPartition { it: Iterator[OmeArrowRecord] =>
        it.foreach { r =>
          writeOne(r, new Path(out, s"${r.id}.ome.tiff"), hadoopConf.value,
            compression, tile, useChannelColors, predictor)
        }
      }
    }
  }

  private def writeOne(r: OmeArrowRecord, dest: Path,
      conf: org.apache.hadoop.conf.Configuration,
      compression: String = "zlib", tile: Option[(Int, Int)] = None,
      useChannelColors: Boolean = false, predictor: Boolean = false): Unit = {
    val pm = r.pixels_meta
    val byCoord = r.planes.map(p => (p.t, p.c.toInt, p.z) -> p.pixels).toMap
    val zeros = Array.fill(pm.size_x * pm.size_y)(0)
    val pages = for {
      t <- 0 until pm.size_t; c <- 0 until pm.size_c.toInt; z <- 0 until pm.size_z
    } yield (pm.size_x, pm.size_y,
      byCoord.get((t, c, z)).map(_.toArray).getOrElse(zeros))
    // pages emitted z-fastest, then c, then t == DimensionOrder "XYZCT"
    val xml = OmeXml.generate(r.name, pm.size_x, pm.size_y, pm.size_z,
      pm.size_c.toInt, pm.size_t, "XYZCT",
      pm.physical_size_x, pm.physical_size_y, pm.physical_size_z,
      r.pixels_meta.channels.map(_.name),
      if (useChannelColors) r.pixels_meta.channels.map(_.color_rgba) else Nil)
    val bytes = TiffCodec.encode(pages, Some(xml), compression, tile, predictor)
    val fs = dest.getFileSystem(conf)
    fs.setWriteChecksum(false)
    val os = fs.create(dest, true)
    try os.write(bytes) finally os.close()
  }
}
