package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types._

/**
 * A parquet table's data files and their footers, read on the driver
 * with no Spark job. Every driver-side footer read in graft goes through
 * here, so every caller lists a table and opens its footers the same
 * way: the index reads ([[graft.operators.LayoutOps.indexScan]],
 * `indexRows`), the OME-Parquet schema and tag reads ([[OmeParquet]])
 * and the events table's timestamp-unit probe.
 */
private[graft] object ParquetTable {

  /** The footer key under which Spark's parquet writer stores the Spark
    * schema of a file's data columns. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** One data file of the table rooted at `root`. */
  final case class DataFile(status: FileStatus, root: Path,
      conf: Configuration) {

    def path: Path = status.getPath

    /** The `name=value` directory segments between `root` and this
      * file, each typed as Spark's partition inference types a graft
      * `part` key: int, else long, else string. A file outside the
      * directory `root` (`root` itself, when it is a file) has none:
      * Spark infers no partition column for a single-file path. */
    def partitionValues: Seq[(StructField, Any)] = {
      val base = root.toUri.getPath.stripSuffix("/") + "/"
      val dir = path.getParent.toUri.getPath + "/"
      if (!dir.startsWith(base)) Seq.empty
      else dir.stripPrefix(base).split('/').toSeq.filter(_.contains('=')).map {
        seg =>
          val Array(k, raw) = seg.split("=", 2)
          val v = ExternalCatalogUtils.unescapePathName(raw)
          v.toIntOption.map(StructField(k, IntegerType) -> (_: Any))
            .orElse(v.toLongOption.map(StructField(k, LongType) -> _))
            .getOrElse(StructField(k, StringType) -> v)
      }
    }

    /** `f` applied to an open reader of this file: one positioned
      * footer read, row groups only if `f` asks for them. */
    def read[T](f: ParquetFileReader => T): T = {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
      try f(r) finally r.close()
    }

    /** The footer's key-value metadata. */
    def keyValues: Map[String, String] =
      read(_.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap)

    /** The Spark schema of the file's data columns: the row metadata
      * Spark's parquet writer puts in every footer. None for a file
      * another writer (pyarrow, parquet-mr) wrote. */
    def sparkSchema: Option[StructType] = read(sparkSchemaOf)
  }

  /** [[DataFile.sparkSchema]] of an already open reader. */
  def sparkSchemaOf(r: ParquetFileReader): Option[StructType] =
    Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** The data files of the table at `path` in path order: `path` itself
    * when it is a file, else the files under it, walking partition
    * directories depth-first and skipping `_`/`.` names (commit markers,
    * checksums, staging) as Spark's file index does. Lazy: the first
    * file costs one listing per directory level. Raises
    * `FileNotFoundException` when `path` is missing. */
  def dataFiles(spark: SparkSession, path: String): Iterator[DataFile] = {
    val conf = spark.sessionState.newHadoopConf()
    val hp = new Path(path)
    val fs = hp.getFileSystem(conf)
    val root = fs.makeQualified(hp)
    walk(fs, root).map(DataFile(_, root, conf))
  }

  /** [[dataFiles]]' head, or None when `path` is missing or holds no
    * data file. */
  def firstDataFile(spark: SparkSession, path: String): Option[DataFile] =
    try dataFiles(spark, path).nextOption()
    catch { case _: java.io.FileNotFoundException => None }

  private def walk(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    fs.listStatus(dir).sortBy(_.getPath.getName).iterator
      .filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .flatMap(s => if (s.isDirectory) walk(fs, s.getPath) else Iterator(s))
}
