package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
 *    export.py:405-414) is stamped into every part file's parquet
 *    FOOTER after the Spark write (Spark exposes no write-time hook for
 *    custom key-values): a distributed parquet-hadoop rewrite that
 *    byte-copies row groups (`ParquetFileWriter.appendFile` — no
 *    decode/re-encode, one sequential read+write per file, each file
 *    independent) and ends with the merged key-value map, so pyarrow
 *    and the reference's tag check (ingest.py:923-930) see real footer
 *    metadata. The footer is the tags' only carrier.
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
    val raw = spark.read.parquet(path)
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

  /**
   * Write the `ome_arrow` column as OME-Parquet: zstd, chosen column name
   * (reference raw-writer default is "image", class API uses "ome_arrow"),
   * with the OME tags stamped into every part file's footer.
   */
  def write(df: DataFrame, path: String,
      columnName: String = OmeSchema.DefaultColumn,
      sourceColumn: String = OmeSchema.DefaultColumn,
      fileMetadata: Map[String, String] = Map.empty,
      compression: String = "zstd"): Unit = {
    df.select(col(sourceColumn).as(columnName))
      .write.mode("overwrite")
      .option("compression", compression)
      .parquet(path)
    val tags = Map(
      "ome.arrow.type" -> OmeSchema.TagType,
      "ome.arrow.version" -> OmeSchema.Version) ++ fileMetadata
    stampFooterMetadata(df.sparkSession, path, tags)
  }

  /**
   * Stamp `tags` into the footer key-value metadata of every part file
   * under `dir` — the real thing the reference writes (export.py:405-414,
   * via pyarrow), readable back by any parquet implementation.
   *
   * Spark's parquet sink exposes no hook for custom file metadata, so
   * this is a post-write rewrite through parquet-hadoop:
   * `ParquetFileWriter.appendFile` byte-copies the row groups (no
   * decode/re-encode — pure sequential I/O) and `end(...)` writes the
   * merged key-value map. Files rewrite INDEPENDENTLY on executors (one
   * task per file, temp-file + rename), so the pass distributes across
   * the cluster and costs one extra read+write of the export — borne
   * only by this sink, never by queries.
   */
  private[graft] def stampFooterMetadata(spark: SparkSession, dir: String,
      tags: Map[String, String]): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val root = new Path(dir)
    val fs = root.getFileSystem(conf.value)
    val parts = fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq
    if (parts.nonEmpty) {
      // parallelize with one exact slice per file — a Dataset
      // repartition here would add a full (if tiny) shuffle job to
      // every export
      spark.sparkContext.parallelize(parts, parts.length)
        .foreachPartition { it: Iterator[String] =>
          it.foreach(p => stampOne(new Path(p), conf.value, tags))
        }
    }
  }

  private def stampOne(path: Path,
      conf: org.apache.hadoop.conf.Configuration,
      tags: Map[String, String]): Unit = {
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
    val in = HadoopInputFile.fromPath(path, conf)
    val reader = ParquetFileReader.open(in)
    val (schema, existing) = try {
      val fmd = reader.getFooter.getFileMetaData
      (fmd.getSchema, fmd.getKeyValueMetaData)
    } finally reader.close()
    val merged = new java.util.HashMap[String, String](existing)
    tags.foreach { case (k, v) => merged.put(k, v) }
    val tmp = new Path(path.getParent, s".${path.getName}.kvstamp")
    val writer = new ParquetFileWriter(HadoopOutputFile.fromPath(tmp, conf),
      schema, ParquetFileWriter.Mode.OVERWRITE,
      128L * 1024 * 1024 /* row groups are copied verbatim */, 0)
    writer.start()
    writer.appendFile(in)
    writer.end(merged)
    val fs = path.getFileSystem(conf)
    // delete-then-rename (NOT rename-over): ChecksumFileSystem keeps a
    // sibling .crc per file — a POSIX rename over the original would
    // leave the original's stale checksum behind and poison every
    // subsequent read. Delete drops the crc; rename carries tmp's along.
    fs.delete(path, false)
    require(fs.rename(tmp, path),
      s"OmeParquet: could not replace $path with its stamped rewrite")
  }

  /** Read the OME tags back: the footer key-value metadata of the first
    * part file under `dir` (or of `dir` itself when it is a single file)
    * — what the reference writes and checks (ingest.py:923-930), one
    * positioned footer read, no row groups touched. Empty when absent:
    * soft, like the reference's warning-only check. Any Spark-written
    * file also carries Spark's own row-metadata key. */
  def readMetadata(spark: SparkSession, dir: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Map.empty
    val st = fs.getFileStatus(root)
    val partOpt =
      if (st.isFile) Some(root)
      else fs.listStatus(root)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).headOption.map(_.getPath)
    partOpt.fold(Map.empty[String, String]) { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try reader.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap
      finally reader.close()
    }
  }
}
