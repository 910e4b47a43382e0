package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.schema.OmeSchema
import graft.sources.OmeZarr

/**
 * DataSourceV2 batch source for OME-Zarr stores (v2 + v3 containers):
 *
 * {{{
 *   spark.read.format("omezarr").load("/data/zarr-corpus/")  // 1 row per store
 *   spark.read.format("omezarr").option("level", "1").load("/data/img.zarr")
 * }}}
 *
 * Column pruning exploits Zarr's layout directly: store metadata lives in
 * sidecar JSON, so a pruned schema decides how much I/O each partition
 * does —
 *  - no `planes.pixels` and no `planes` at all: zero chunk files opened
 *    (pure JSON metadata, the [[OmeZarr.readMeta]] path);
 *  - `planes` coordinates without `pixels`: the (t,c,z) grid derives from
 *    the array shape — still zero chunk I/O (Zarr grids are dense by
 *    metadata; missing chunks are fill-value anyway);
 *  - `planes.pixels`: every chunk or shard file, whatever the chunk
 *    layout, decodes through [[OmeZarr.decodeChunkFile]] into plane
 *    pieces, [[OmeZarr.assemblePlane]] copies them into planes, and
 *    missing chunks zero-fill in [[OmeZarr.configToRecord]].
 *
 * One store = one `InputPartition` (an image is the parallelism unit,
 * matching the ometiff source); chunk fan-out happens inside the reader,
 * so a read has no shuffle. [[OmeZarr.read]] and [[OmeZarr.readAll]] are
 * this source. A path is one store when its root holds store metadata
 * (`.zattrs`/`.zarray` or `zarr.json`), else a corpus directory of
 * `*.zarr` stores. Options: `level` (multiscale level path, default "0").
 */
class OmeZarrDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "omezarr"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OmeTiffDataSource.tableSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new OmeZarrTable(properties.asScala.toMap)
}

private[v2] class OmeZarrTable(properties: Map[String, String])
    extends Table with SupportsRead {

  private val pathOpt = properties.get("path")

  override def name(): String = s"omezarr(${pathOpt.getOrElse("?")})"
  override def schema(): StructType = OmeTiffDataSource.tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val path = Option(options.get("path")).orElse(pathOpt).getOrElse(
      throw new IllegalArgumentException("omezarr: no path specified"))
    val level = Option(options.get("level")).getOrElse("0")
    new OmeZarrScanBuilder(path, level)
  }
}

private[v2] class OmeZarrScanBuilder(path: String, level: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = OmeTiffDataSource.tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val spark = SparkSession.active
    val configs = OmeZarr.storeConfigs(spark, path, level)
    val needPixels = RecordRows.pixelsRequired(required)
    // chunk listing happens at PLAN time only when pixels are needed —
    // a pruned metadata scan never touches the chunk tree at all
    val parts = configs.map { c =>
      OmeZarrInputPartition(c,
        if (needPixels) OmeZarr.chunkFiles(spark, c, level) else Seq.empty,
        needPixels)
    }
    new OmeZarrScan(parts, required,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }
}

private[v2] case class OmeZarrInputPartition(
    config: graft.sources.OmeZarr.StoreConfig,
    chunkPaths: Seq[String],
    needPixels: Boolean) extends InputPartition

private[v2] class OmeZarrScan(parts: Seq[OmeZarrInputPartition], required: StructType,
    conf: SerializableConfiguration) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"omezarr ${parts.length} stores, readSchema=${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] =
    parts.map(p => p: InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new OmeZarrReaderFactory(required, conf)
}

private[v2] class OmeZarrReaderFactory(required: StructType,
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OmeZarrPartitionReader(
      partition.asInstanceOf[OmeZarrInputPartition], required, conf)
}

/** One store -> one InternalRow of the PRUNED schema; chunk decode only
  * when the partition was planned with pixels. */
private[v2] class OmeZarrPartitionReader(part: OmeZarrInputPartition,
    required: StructType, conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    done = true
    def readBytes(cp: String): Array[Byte] = {
      val p = new Path(cp)
      val fs = p.getFileSystem(conf.value)
      RecordRows.readFileFully(fs, p, fs.getFileStatus(p).getLen)
    }
    val cfg = part.config
    // one store = one partition, so every piece of a plane is in hand
    val decoded = part.chunkPaths
      .flatMap(cp => OmeZarr.decodeChunkFile(cfg, cp, readBytes(cp)))
      .groupBy(pc => (pc._1, pc._2, pc._3))
      .map { case (k, ps) =>
        k -> OmeZarr.assemblePlane(cfg, ps.iterator.map(p => (p._4, p._5, p._6, p._7, p._8)))
      }
    val rec = OmeZarr.configToRecord(cfg, decoded, part.needPixels)
    val vals: Array[Any] = required.fields.map {
      case StructField(n, dt: StructType, _, _) if n == OmeSchema.DefaultColumn =>
        RecordRows.record(rec, dt): Any
      case f => throw new IllegalStateException(
        s"omezarr: unexpected required column ${f.name}")
    }
    row = new GenericInternalRow(vals)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
