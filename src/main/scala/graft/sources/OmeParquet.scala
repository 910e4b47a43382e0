package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.`type`.TypeReference
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.OmeOps
import graft.schema.OmeSchema

/**
 * OME-Parquet source/sink (reference: ingest.py:814-932 `from_ome_parquet`,
 * export.py:377-422 `to_ome_parquet`).
 *
 * Differences from the reference, by design (SURVEY.md §7.4):
 *  - every row stays queryable — there is no `row_index` single-record
 *    pick; use `.limit`/`.filter` on the returned DataFrame;
 *  - the reserved always-null `masks` field is dropped on read and not
 *    written (Spark cannot write Parquet NullType); the reference's
 *    lenient field-set matcher ignores it, so interop holds both ways;
 *  - file-level KV metadata (`ome.arrow.type`/`version` tags,
 *    export.py:405-414) is written into every part file's parquet
 *    FOOTER by the parquet write itself ([[OmeParquetFormat]]), so
 *    pyarrow and the reference's tag check (ingest.py:923-930) see real
 *    footer metadata. The footer is the tags' only carrier.
 *
 * A read of a Spark-written table plans with no Spark job: its schema
 * comes from one footer's Spark row metadata, read on the driver. Only
 * files other writers made (pyarrow, the reference) and partitioned
 * directories go through Spark's schema inference.
 */
object OmeParquet {

  /**
   * Read an OME-Parquet file/directory and normalize to a single
   * `ome_arrow` column of the canonical Spark schema.
   *
   * Column resolution mirrors ingest.py:872-912: an explicit `column` must
   * exist and match; otherwise the first struct column whose field-name
   * set equals the canonical record's (ignoring `masks`) is auto-detected.
   * `strict` additionally requires exact canonical types.
   */
  def read(spark: SparkSession, path: String,
      column: Option[String] = None, strict: Boolean = false): DataFrame = {
    val raw = footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    val colName = column match {
      case Some(c) =>
        require(raw.schema.fieldNames.contains(c),
          s"Column '$c' not found in $path (have: ${raw.schema.fieldNames.mkString(", ")})")
        require(OmeOps.verifySchema(raw, c, strict),
          s"Column '$c' in $path is not an OME-Arrow struct (strict=$strict)")
        c
      case None =>
        val found = OmeOps.detectOmeColumns(raw, strict)
        require(found.nonEmpty,
          s"No OME-Arrow struct column detected in $path " +
            s"(columns: ${raw.schema.fieldNames.mkString(", ")})")
        found.head
    }
    val rec = col(colName)
    // Rebuild the struct BY FIELD NAME into canonical order before the
    // cast: the lenient matcher is order-insensitive but Spark's struct
    // cast is positional — a foreign producer writing the same fields in
    // a different order would otherwise scramble values silently. The
    // cast then normalizes reader widenings (uint16 pixels already
    // int32, timestamp_ntz -> session-UTC timestamp, etc.).
    val conformed = conformByName(rec, raw.schema(colName).dataType,
      OmeSchema.omeArrowType)
    raw.select(conformed.cast(OmeSchema.omeArrowType).as(OmeSchema.DefaultColumn))
  }

  /** Recursively reorder struct fields (at any nesting depth, through
    * arrays) to match `target`'s field order, dropping extras such as the
    * reserved `masks` field. Types are left to the final cast. Returns the
    * column UNCHANGED when names already align (the common engine-written
    * case — avoids wrapping every pixel array in an interpreted identity
    * transform), and preserves NULL records (a rebuilt struct over a null
    * input would otherwise become a non-null struct of nulls). */
  private def conformByName(c: Column,
      source: org.apache.spark.sql.types.DataType,
      target: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
    def aligned(s: DataType, t: DataType): Boolean = (s, t) match {
      case (ss: StructType, ts: StructType) =>
        ss.fields.map(_.name).sameElements(ts.fields.map(_.name)) &&
          ss.fields.zip(ts.fields).forall { case (a, b) => aligned(a.dataType, b.dataType) }
      case (ArrayType(se, _), ArrayType(te, _)) => aligned(se, te)
      case _ => true
    }
    (source, target) match {
      case (s, t) if aligned(s, t) => c
      case (s: StructType, t: StructType) =>
        val rebuilt = struct(t.fields.map { tf =>
          val sf = s.fields.find(_.name == tf.name).getOrElse(
            throw new IllegalArgumentException(s"missing field ${tf.name}"))
          conformByName(c.getField(tf.name), sf.dataType, tf.dataType).as(tf.name)
        }.toIndexedSeq: _*)
        when(c.isNull, lit(null)).otherwise(rebuilt)
      case (ArrayType(se, _), ArrayType(te, _)) =>
        transform(c, e => conformByName(e, se, te))
      case _ => c
    }
  }

  /** The schema `spark.read.parquet(path)` infers, taken from the first
    * data file's Spark row metadata with no Spark job. None where
    * inference must run: `path` is missing (so the read raises as
    * Spark's does), its first file was not written by Spark, or the
    * table is partitioned (Spark types the partition columns). */
  private def footerSchema(spark: SparkSession,
      path: String): Option[StructType] =
    ParquetTable.firstDataFile(spark, path)
      .filter(_.partitionValues.isEmpty)
      .flatMap(_.sparkSchema)

  /**
   * Write the `ome_arrow` column as OME-Parquet: zstd, chosen column name
   * (reference raw-writer default is "image", class API uses "ome_arrow"),
   * with the OME tags and `fileMetadata` in every part file's footer.
   * One Spark job: the tags ride the parquet write ([[OmeParquetFormat]]).
   */
  def write(df: DataFrame, path: String,
      columnName: String = OmeSchema.DefaultColumn,
      sourceColumn: String = OmeSchema.DefaultColumn,
      fileMetadata: Map[String, String] = Map.empty,
      compression: String = "zstd"): Unit = {
    val tags = Map(
      "ome.arrow.type" -> OmeSchema.TagType,
      "ome.arrow.version" -> OmeSchema.Version) ++ fileMetadata
    df.select(col(sourceColumn).as(columnName))
      .write.format(classOf[OmeParquetFormat].getName).mode("overwrite")
      .option("compression", compression)
      .option(FooterTagsKey, json.writeValueAsString(tags.asJava))
      .save(path)
  }

  /** Read the OME tags back: the footer key-value metadata of the first
    * data file of `dir` (or of `dir` itself when it is a single file)
    * — what the reference writes and checks (ingest.py:923-930), one
    * positioned footer read, no row groups touched. Empty when absent:
    * soft, like the reference's warning-only check. Any Spark-written
    * file also carries Spark's own row-metadata key. */
  def readMetadata(spark: SparkSession, dir: String): Map[String, String] =
    ParquetTable.firstDataFile(spark, dir).fold(Map.empty[String, String])(
      _.keyValues)

  /** The writer option, and then the Hadoop job conf key, that carries
    * the footer tags from [[write]] to [[OmeFooterWriteSupport]]: one
    * JSON object, so the tag keys keep their case (Spark lower-cases
    * option KEYS, never values). */
  private[sources] val FooterTagsKey = "graft.ome.footer.tags"

  private[sources] val json = new ObjectMapper()
}

/**
 * Spark's parquet file format, writing the footer tags [[OmeParquet.write]]
 * passes into every part file it writes. Addressed by class name only —
 * never registered under a short name — so `format("parquet")` stays
 * Spark's own; reads of what it writes are plain parquet reads.
 */
class OmeParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    val conf = job.getConfiguration
    options.get(OmeParquet.FooterTagsKey)
      .foreach(conf.set(OmeParquet.FooterTagsKey, _))
    conf.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[OmeFooterWriteSupport].getName)
    factory
  }
}

/** Spark's parquet write support, adding the job's footer tags to the
  * key-value metadata every file it writes ends with. A tag wins over a
  * Spark key of the same name. */
class OmeFooterWriteSupport extends ParquetWriteSupport {
  override def init(conf: Configuration): WriteSupport.WriteContext = {
    val ctx = super.init(conf)
    val extra = new java.util.HashMap[String, String](ctx.getExtraMetaData)
    Option(conf.get(OmeParquet.FooterTagsKey)).foreach { tags =>
      extra.putAll(OmeParquet.json.readValue(tags,
        new TypeReference[java.util.Map[String, String]] {}))
    }
    new WriteSupport.WriteContext(ctx.getSchema, extra)
  }
}
