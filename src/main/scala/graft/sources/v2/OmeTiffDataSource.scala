package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.schema.{OmeArrowRecord, OmeChannel, OmePixelsMeta, OmePlane, OmeSchema}
import graft.sources.{OmeTiff, TiffCodec}

/**
 * DataSourceV2 batch source for TIFF / OME-TIFF corpora:
 *
 * {{{
 *   spark.read.format("ometiff").load("/data/plates/")    // 1 row per file
 * }}}
 *
 * [[OmeTiff.read]] is a thin call of this source. Catalyst pushes the
 * REQUIRED (nested) schema into the scan via
 * `SupportsPushDownRequiredColumns`, so a query that never touches
 * `planes.pixels` — `describe`, shape joins, plane-coordinate queries,
 * `count(*)` — decodes TIFF headers/OME-XML only and skips every strip
 * decompression, reading ONLY the header/IFD/tag-value byte ranges via
 * demand-paged positioned reads (`TiffCodec.PagedTiffData`) — pixel
 * payload bytes never leave storage. At 100 TB that turns metadata
 * analytics over an image lake from a full decode pass into a true
 * header scan, for I/O as well as CPU. Pixel-touching queries read and
 * decode the whole file.
 *
 * One file = one `InputPartition` — the same per-image parallelism as the
 * reference's per-file ingest loop (ingest.py:293-400), minus the driver
 * bottleneck. Options: `channel_names` (comma-separated override, same
 * semantics as `from_tiff`'s argument, ingest.py:302).
 */
class OmeTiffDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "ometiff"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OmeTiffDataSource.tableSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new OmeTiffTable(properties.asScala.toMap)
}

object OmeTiffDataSource {
  val tableSchema: StructType =
    StructType(Seq(StructField(OmeSchema.DefaultColumn, OmeSchema.omeArrowType)))

  /** Expand a path/glob/directory into (path, modTime ms, length) TIFFs. */
  private[v2] def listFiles(conf: org.apache.hadoop.conf.Configuration,
      pathStr: String): Seq[(String, Long, Long)] = {
    val p = new Path(pathStr)
    val fs = p.getFileSystem(conf)
    val isTiff = (n: String) => {
      val l = n.toLowerCase
      l.endsWith(".tif") || l.endsWith(".tiff")
    }
    val statuses = {
      val globbed = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
      require(globbed.nonEmpty, s"ometiff: no files match $pathStr")
      globbed.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
        else Seq(st)
      }
    }
    val files = statuses.filter(st => isTiff(st.getPath.getName))
      .map(st => (st.getPath.toString, st.getModificationTime, st.getLen))
      .sortBy(_._1)
    require(files.nonEmpty, s"ometiff: no .tif/.tiff files under $pathStr")
    files
  }
}

class OmeTiffTable(properties: Map[String, String])
    extends Table with SupportsRead {

  private val pathOpt = properties.get("path")

  override def name(): String = s"ometiff(${pathOpt.getOrElse("?")})"
  override def schema(): StructType = OmeTiffDataSource.tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val path = Option(options.get("path")).orElse(pathOpt).getOrElse(
      throw new IllegalArgumentException("ometiff: no path specified"))
    val channelNames = Option(options.get("channel_names"))
      .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    new OmeTiffScanBuilder(path, channelNames)
  }
}

class OmeTiffScanBuilder(path: String, channelNames: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = OmeTiffDataSource.tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val files = OmeTiffDataSource.listFiles(conf, path)
    new OmeTiffScan(files, required, channelNames,
      new SerializableConfiguration(conf))
  }
}

case class OmeTiffInputPartition(path: String, modTimeMs: Long, len: Long)
    extends InputPartition

class OmeTiffScan(files: Seq[(String, Long, Long)], required: StructType,
    channelNames: Seq[String], conf: SerializableConfiguration)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ometiff ${files.length} files, readSchema=${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] =
    files.map { case (p, ts, len) =>
      OmeTiffInputPartition(p, ts, len): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new OmeTiffReaderFactory(required, channelNames, conf)
}

class OmeTiffReaderFactory(required: StructType, channelNames: Seq[String],
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OmeTiffPartitionReader(
      partition.asInstanceOf[OmeTiffInputPartition], required, channelNames, conf)
}

/**
 * Reads one TIFF into one InternalRow shaped exactly like the PRUNED
 * schema. Pixels are decoded only when the pruned schema still reaches
 * `planes.pixels`; otherwise the strip/tile payloads are never touched.
 */
class OmeTiffPartitionReader(part: OmeTiffInputPartition,
    required: StructType, channelNames: Seq[String],
    conf: SerializableConfiguration) extends PartitionReader[InternalRow] {

  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    done = true
    val p = new Path(part.path)
    val fs = p.getFileSystem(conf.value)
    val ts = new java.sql.Timestamp(part.modTimeMs)
    val rec =
      if (RecordRows.pixelsRequired(required)) {
        val bytes = RecordRows.readFileFully(fs, p, part.len)
        OmeTiff.decodeRecord(part.path, ts, bytes, channelNames)
      } else {
        // metadata-only scan: demand-paged positioned reads fetch just
        // the header/IFD/tag-value pages — the strip/tile payload bytes
        // never leave storage (the 100 TB header-scan property holds
        // for I/O as well as CPU)
        val in = fs.open(p)
        try OmeTiff.decodeRecordMeta(part.path, ts,
          new TiffCodec.PagedTiffData(
            (pos, b, o, n) => in.readFully(pos, b, o, n), part.len),
          channelNames)
        finally in.close()
      }
    val vals: Array[Any] = required.fields.map {
      case StructField(n, dt: StructType, _, _) if n == OmeSchema.DefaultColumn =>
        RecordRows.record(rec, dt): Any
      case f => throw new IllegalStateException(
        s"ometiff: unexpected required column ${f.name}")
    }
    row = new GenericInternalRow(vals)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** Builders from the decoded record to InternalRows of an arbitrary
  * PRUNED sub-schema of the canonical struct (field subset, any order),
  * plus the helpers both v2 sources share. */
private[v2] object RecordRows {

  /** Does the pruned schema still reach `planes.pixels`? Decides whether
    * a partition reader decodes pixel payloads at all — ONE definition
    * so the two sources can never diverge on the question. */
  def pixelsRequired(required: StructType): Boolean =
    required.find(_.name == OmeSchema.DefaultColumn).exists { f =>
      f.dataType.asInstanceOf[StructType].find(_.name == "planes").exists {
        _.dataType.asInstanceOf[ArrayType].elementType
          .asInstanceOf[StructType].fieldNames.contains("pixels")
      }
    }

  /** Whole-file read with an explicit 2 GiB guard — `.toInt` on a larger
    * length would wrap (negative-size allocation or silent truncation). */
  def readFileFully(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      len: Long): Array[Byte] = {
    require(len <= Int.MaxValue,
      s"$p is $len bytes — single files above 2 GiB are not supported " +
        "by the in-memory decoder")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0L, bytes) finally in.close()
    bytes
  }

  def record(r: OmeArrowRecord, req: StructType): InternalRow =
    new GenericInternalRow(req.fields.map { f =>
      (f.name match {
        case "type" => UTF8String.fromString(r.`type`)
        case "version" => UTF8String.fromString(r.version)
        case "id" => UTF8String.fromString(r.id)
        case "name" => UTF8String.fromString(r.name)
        case "acquisition_datetime" =>
          DateTimeUtils.fromJavaTimestamp(r.acquisition_datetime)
        case "pixels_meta" =>
          pixelsMeta(r.pixels_meta, f.dataType.asInstanceOf[StructType])
        case "planes" =>
          val elem = f.dataType.asInstanceOf[ArrayType]
            .elementType.asInstanceOf[StructType]
          new GenericArrayData(r.planes.map(plane(_, elem)).toArray[Any])
        case other => throw new IllegalStateException(
          s"ometiff: unknown record field $other")
      }): Any
    })

  private def pixelsMeta(m: OmePixelsMeta, req: StructType): InternalRow =
    new GenericInternalRow(req.fields.map { f =>
      (f.name match {
        case "dimension_order" => UTF8String.fromString(m.dimension_order)
        case "type" => UTF8String.fromString(m.`type`)
        case "size_x" => m.size_x
        case "size_y" => m.size_y
        case "size_z" => m.size_z
        case "size_c" => m.size_c
        case "size_t" => m.size_t
        case "physical_size_x" => m.physical_size_x.map(Float.box).orNull
        case "physical_size_y" => m.physical_size_y.map(Float.box).orNull
        case "physical_size_z" => m.physical_size_z.map(Float.box).orNull
        case "physical_size_x_unit" =>
          m.physical_size_x_unit.map(UTF8String.fromString).orNull
        case "physical_size_y_unit" =>
          m.physical_size_y_unit.map(UTF8String.fromString).orNull
        case "physical_size_z_unit" =>
          m.physical_size_z_unit.map(UTF8String.fromString).orNull
        case "channels" =>
          val elem = f.dataType.asInstanceOf[ArrayType]
            .elementType.asInstanceOf[StructType]
          new GenericArrayData(m.channels.map(channel(_, elem)).toArray[Any])
        case other => throw new IllegalStateException(
          s"ometiff: unknown pixels_meta field $other")
      }): Any
    })

  private def channel(c: OmeChannel, req: StructType): InternalRow =
    new GenericInternalRow(req.fields.map { f =>
      (f.name match {
        case "id" => UTF8String.fromString(c.id)
        case "name" => UTF8String.fromString(c.name)
        case "emission_um" => c.emission_um.map(Float.box).orNull
        case "excitation_um" => c.excitation_um.map(Float.box).orNull
        case "illumination" => c.illumination.map(UTF8String.fromString).orNull
        case "color_rgba" => c.color_rgba.map(Long.box).orNull
        case other => throw new IllegalStateException(
          s"ometiff: unknown channel field $other")
      }): Any
    })

  private def plane(p: OmePlane, req: StructType): InternalRow =
    new GenericInternalRow(req.fields.map { f =>
      (f.name match {
        case "z" => p.z
        case "t" => p.t
        case "c" => p.c
        case "pixels" => new GenericArrayData(p.pixels.toArray)
        case other => throw new IllegalStateException(
          s"ometiff: unknown plane field $other")
      }): Any
    })
}
