package graft.operators

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ParquetTable

/**
 * Physical data-layout operators — the write-side techniques that
 * make 100 TB scans cheap before any query runs: multi-dimensional
 * clustering so parquet min/max stats prune on more than one column.
 */
object LayoutOps {

  /**
   * Attach the Z-order clustering key: `z` = Morton interleave of the
   * low `bits` bits of the two columns (values folded into the 2^bits
   * grid by modulo, so arbitrary key ranges cluster without a stats
   * pass). Sorting by `z` keeps rows close in EITHER dimension close
   * on disk — the Delta/Iceberg Z-ORDER layout as a plain expression.
   */
  def zorder(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 16): DataFrame = {
    graft.functions.ensureRegistered(df.sparkSession)
    val mask = lit((1L << bits) - 1)
    df.withColumn("z", graft.functions.z_value(
      col(xCol).cast("long").bitwiseAND(mask),
      col(yCol).cast("long").bitwiseAND(mask), bits))
  }

  /**
   * Write `df` Z-ordered across `numFiles` parquet files:
   * range-partition on `z` (sampled range boundaries — balanced
   * files without a global sort) and sort within each partition, so
   * every file covers a compact z-range and its x/y column stats
   * cover a tight rectangle of the key grid.
   */
  def writeZordered(df: DataFrame, path: String, xCol: String,
      yCol: String, bits: Int = 16, numFiles: Int = 8): Unit =
    zorder(df, xCol, yCol, bits)
      .repartitionByRange(numFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(path)

  /**
   * Small-file compaction: rewrite a parquet directory into
   * `ceil(total_bytes / targetBytes)` files — the operational fix for
   * the small-file problem (a 100 TB table accreted from streaming
   * micro-batches or over-parallel writes pays footer/open overhead
   * per file and floods the driver's file listing; NameNode-scale
   * metadata pressure is the classic failure). Sizing reads ONLY the
   * directory listing; the data moves once through a round-robin
   * repartition (no keys — pure file-count surgery, content
   * preserved as a multiset).
   *
   * Partitioned (Hive-layout) tables: a directory whose children are
   * subdirectories (`path/day=…/`) recurses and compacts each leaf
   * partition IN PLACE, preserving the directory structure — each
   * leaf's files stay inside their partition dir, so partition
   * columns, pruning, and discovery are untouched (the flat-path
   * sizing alone would see zero files, read the whole table through
   * Spark's recursive reader, and flatten it to one file). Hidden
   * children (`_`/`.` prefixes, e.g. `_SUCCESS`) are ignored. A
   * mixed layout (data files AND partition subdirectories at the
   * same level — not a valid Hive table) compacts only the
   * subtrees and leaves the loose root files untouched.
   *
   * Swap discipline per leaf: the rewrite lands in a DOT-PREFIXED
   * sibling `.compact.tmp.<leaf>`, then two renames swap it in, and
   * a failed second rename restores the original directory — a crash
   * can strand a `.compact.tmp.<leaf>`/`.compact.old.<leaf>` sibling
   * but never loses the table. The dot prefix matters for
   * partitioned tables, where the sibling lives INSIDE the table
   * root: Hadoop/Spark's hidden-path filter skips `.`-prefixed
   * directories during partition discovery, so a stranded staging
   * dir can never surface as a phantom partition that duplicates the
   * leaf's rows on read. Every compaction pass also sweeps stranded
   * staging dirs from a previous crashed run first: `.compact.old.X`
   * with no live `X` is the original mid-swap — restored by rename;
   * with a live `X` it is a stale copy — deleted; `.compact.tmp.X`
   * is regenerable — deleted. Readers racing the swap window
   * (between the two renames) can see the path briefly missing;
   * compaction is an offline/maintenance operation, not a
   * concurrent-reader-safe commit protocol (that is a table format's
   * job — Delta/Iceberg). Returns (files_before, files_after) summed
   * over leaves.
   */
  def compactParquet(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, "compactParquet: targetBytes must be positive")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    // a crashed run may have left `path` itself mid-swap (renamed away
    // to its .compact.old sibling) — recover before listing
    if (!fs.exists(hp) && hp.getParent != null) {
      val bak = new org.apache.hadoop.fs.Path(
        hp.getParent, ".compact.old." + hp.getName)
      if (fs.exists(bak))
        require(fs.rename(bak, hp), s"compactParquet: cannot restore $path")
    }
    sweepCompactStaging(fs, hp)
    val children = fs.listStatus(hp)
    val subdirs = children.filter { s =>
      val n = s.getPath.getName
      // never recurse into staging leftovers — a stranded backup holds
      // a COPY of the original data and compacting it as a partition
      // would double the table (`.`-prefix catches the current naming;
      // the `.compact.` substring catches pre-r12 suffix-style names)
      s.isDirectory && !n.startsWith("_") && !n.startsWith(".") &&
        !n.contains(".compact.")
    }
    if (subdirs.nonEmpty) {
      // partitioned layout: compact each partition subtree in place
      val results =
        subdirs.map(d => compactParquet(spark, d.getPath.toString, targetBytes))
      (results.map(_._1).sum, results.map(_._2).sum)
    } else {
      val parts = children
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (parts.isEmpty) (0, 0) // nothing to compact (empty partition)
      else {
        val total = parts.map(_.getLen).sum
        val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
        val tmp = new org.apache.hadoop.fs.Path(
          hp.getParent, ".compact.tmp." + hp.getName)
        val old = new org.apache.hadoop.fs.Path(
          hp.getParent, ".compact.old." + hp.getName)
        spark.read.parquet(path).repartition(n)
          .write.mode("overwrite").parquet(tmp.toString)
        fs.delete(old, true)
        require(fs.rename(hp, old), s"compactParquet: cannot stage $path")
        try {
          require(fs.rename(tmp, hp), s"compactParquet: cannot swap in $tmp")
        } catch {
          case e: Throwable =>
            // restore the staged original so `path` never ends up missing
            fs.rename(old, hp)
            fs.delete(tmp, true)
            throw e
        }
        fs.delete(old, true)
        val after = fs.listStatus(hp).count(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))
        (parts.length, after)
      }
    }
  }

  /**
   * Recover/clean staging dirs stranded among `dir`'s children by a
   * compaction run that crashed between its two swap renames. Covers
   * both the current dot-prefixed names (`.compact.{tmp,old}.<leaf>`)
   * and the pre-r12 suffix names (`<leaf>.compact.{tmp,old}`) — the
   * latter are the read-duplication hazard this sweep retires: a
   * suffix-named backup inside a table root parses as a real Hive
   * partition (e.g. `day=X.compact.old`) and silently duplicates the
   * leaf's rows on the next read.
   */
  private def sweepCompactStaging(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory) return
    fs.listStatus(dir).foreach { s =>
      val n = s.getPath.getName
      val leaf =
        if (n.startsWith(".compact.old.")) n.stripPrefix(".compact.old.")
        else if (n.endsWith(".compact.old")) n.stripSuffix(".compact.old")
        else null
      if (n.startsWith(".compact.tmp.") || n.endsWith(".compact.tmp")) {
        fs.delete(s.getPath, true) // tmp is always regenerable
      } else if (leaf != null) {
        val live = new org.apache.hadoop.fs.Path(dir, leaf)
        if (fs.exists(live)) fs.delete(s.getPath, true) // stale copy
        else require(fs.rename(s.getPath, live),
          s"compactParquet: cannot restore $live from crashed staging")
      }
    }
  }

  /**
   * Bucketed plane-table layout — the imaging twin of
   * [[graft.operators.JoinOps.writeBucketed]]: an exploded plane table
   * (`explodePlanes` output) written bucketed+sorted on `image_id`, so
   * EVERY later per-image aggregation — `nestPlanes`, per-image QC
   * rollups, feature joins on `image_id` — reads the bucket
   * partitioning straight off the scan and plans with ZERO exchanges.
   * At 100 TB the plane table is the hot representation (SURVEY §1.4
   * form 2) and per-image re-aggregation is its dominant access
   * pattern; paying the bucket shuffle once at ingest amortizes it
   * across the whole downstream workload. Registers an EXTERNAL table
   * at `path` (explicit location, like `writeBucketed`).
   */
  def writePlanesBucketed(planeDf: DataFrame, table: String, path: String,
      nBuckets: Int): Unit =
    planeDf.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, "image_id").sortBy("image_id")
      .saveAsTable(table)

  /**
   * Clustering-quality report over a written parquet directory: one
   * row per part file with its row count and the min/max of the two
   * key columns — the rectangle a min/max-pruning reader would skip
   * or scan. The quality metric is `avg_extent_frac`: mean of
   * (per-file x-extent / global x-extent + y-extent fraction) / 2 —
   * ~1.0 for an unclustered write (every file spans everything),
   * shrinking toward numFiles^-1/2 under Z-order. Reads only footer
   * stats via a grouped aggregation, no second data pass at scale
   * (the per-file group is what the footer stats would give; exact
   * here so the DuckDB oracle can replay it from the rows).
   */
  def clusteringReport(spark: SparkSession, path: String,
      xCol: String, yCol: String): DataFrame = {
    val df = spark.read.parquet(path)
      .select(col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"),
        input_file_name().as("file"))
    val perFile = df.groupBy(col("file"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
    val global = perFile.agg(
      min(col("x_min")).as("gx_min"), max(col("x_max")).as("gx_max"),
      min(col("y_min")).as("gy_min"), max(col("y_max")).as("gy_max"))
    perFile.crossJoin(broadcast(global))
      .select(col("n_rows"), col("x_min"), col("x_max"),
        col("y_min"), col("y_max"),
        round(((col("x_max") - col("x_min")).cast("double") /
          greatest(col("gx_max") - col("gx_min"), lit(1L)) +
          (col("y_max") - col("y_min")).cast("double") /
            greatest(col("gy_max") - col("gy_min"), lit(1L))) / 2, 6)
          .as("extent_frac"))
  }

  // --- index table reads ----------------------------------------------

  /** `t` with every field and element nullable — the schema a parquet
    * read reports. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case other => other
  }

  /** Field `i` of a parquet record as the value `collect()` returns for
    * Spark type `t`, for the column types graft's index tables use.
    * Arrays are Spark's three-level lists. */
  private def fieldValue(g: Group, i: Int, t: DataType): Any =
    if (g.getFieldRepetitionCount(i) == 0) null
    else t match {
      case IntegerType => g.getInteger(i, 0)
      case LongType => g.getLong(i, 0)
      case FloatType => g.getFloat(i, 0)
      case DoubleType => g.getDouble(i, 0)
      case StringType => g.getString(i, 0)
      case ArrayType(et, _) =>
        val list = g.getGroup(i, 0)
        scala.collection.mutable.ArraySeq.make(
          Array.tabulate[Any](list.getFieldRepetitionCount(0))(j =>
            fieldValue(list.getGroup(0, j), 0, et)))
      case other => throw new UnsupportedOperationException(
        s"indexRows: no driver-side decoding of $other columns")
    }

  /** The fields of `s` read by name from a record; a column the file
    * lacks reads NULL, as in a Spark scan. */
  private def recordFields(g: Group, s: StructType): Array[Any] =
    s.fields.map { f =>
      if (g.getType.containsField(f.name))
        fieldValue(g, g.getType.getFieldIndex(f.name), f.dataType)
      else null
    }

  /**
   * A Spark scan of a table graft wrote (an index sub-table such as
   * `bands`, `postings` or `vectors`), with the schema given instead of
   * inferred: the data columns come from the Spark schema in ONE
   * footer, and the partition columns (the `part` key) from that
   * file's directory names. Spark's schema inference would run a job
   * to read the same footer; this reads it on the driver and runs
   * none. The scan itself, its partition pruning and its pushed
   * filters are those of `spark.read.parquet(dir)`, and so is the
   * schema, column order included. Raises, as that read does, when
   * `dir` is missing or holds no data file.
   */
  def indexScan(spark: SparkSession, dir: String): DataFrame = {
    val first = ParquetTable.dataFiles(spark, dir).nextOption().getOrElse(
      throw new java.io.FileNotFoundException(s"no data files under $dir"))
    val data = first.sparkSchema.getOrElse(notSparkWritten(first))
    spark.read
      .schema(StructType(data.fields ++ first.partitionValues.map(_._1)))
      .parquet(dir)
  }

  /**
   * The rows of a SMALL table graft wrote (an index manifest or
   * codebook: `params`, `stats`, `pq_book`, `centroids`), read on the
   * driver with no Spark job: every data file under `dir` is decoded
   * by the parquet reader in this JVM. Rows equal those of
   * `spark.read.parquet(dir).collect()`, with the same schema (partition
   * columns last), in file order. Callers use it only where those rows
   * were collected to the driver anyway; every distributed read stays
   * an [[indexScan]]. Raises when `dir` is missing; an empty table
   * yields no rows.
   */
  def indexRows(spark: SparkSession, dir: String): Array[Row] =
    ParquetTable.dataFiles(spark, dir).toArray.flatMap { f =>
      val parts = f.partitionValues
      f.read { r =>
        val data = ParquetTable.sparkSchemaOf(r).getOrElse(notSparkWritten(f))
        val schema = nullable(StructType(data.fields ++ parts.map(_._1)))
          .asInstanceOf[StructType]
        val msg = r.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(msg)
        Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { pages =>
            val rec = io.getRecordReader(pages, new GroupRecordConverter(msg))
            Iterator.fill(pages.getRowCount.toInt) {
              new GenericRowWithSchema(
                recordFields(rec.read(), data) ++ parts.map(_._2), schema)
            }
          }.toArray[Row]
      }
    }

  private def notSparkWritten(f: ParquetTable.DataFile): Nothing =
    throw new IllegalArgumentException(
      s"${f.path} carries no Spark schema: not a table Spark wrote")

  // --- the persisted-index layout -------------------------------------

  /**
   * The layout all five index families write: the MinHash and SimHash
   * `bands`, the BM25 `postings`, the IVF `vectors` and the IVF-PQ
   * `codes`. Each row carries an int `part`, the append unit, computed
   * from the family's key ([[hashPart]] of a band bucket or a term; the
   * cell id mod `n_parts` for the IVF twins), so every row of one
   * bucket, term or cell lands in one `part=` directory. The table is
   * clustered on `part` and sorted within partitions by `key`: a reader
   * prunes to its keys' part directories (PartitionFilters), and the
   * pushed key predicate skips row groups inside them. `n_parts` caps
   * the directory count, so the file listing stays bounded however many
   * keys the index holds. Beside it sit one-file tables (a manifest, a
   * codebook, BM25's stats) that only [[manifestRows]] and
   * [[manifestScan]] read.
   *
   * `mode` is "overwrite" (a build, or a rebuild into a new generation),
   * "append" (new files under the touched parts, nothing rewritten) or
   * "dynamic" (rewrite only the parts the frame holds: the per-write
   * `partitionOverwriteMode`, which takes precedence over the session
   * conf, so maintenance on two index paths never turns the other's
   * overwrite into a full-table one). `stage` runs between the layout
   * and the write: an append whose plan reads the parts it overwrites
   * materializes there first. Returns the staged frame.
   */
  private[graft] def writeParts(df: DataFrame, dir: String, key: String,
      mode: String = "overwrite",
      stage: DataFrame => DataFrame = identity): DataFrame = {
    val laid = stage(df.repartition(col("part")).sortWithinPartitions(col(key)))
    val w = laid.write
    (if (mode == "dynamic")
       w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     else w.mode(mode)).partitionBy("part").parquet(dir)
    laid
  }

  /** The `part` of hashed keys: `xxhash64(keys) mod nParts`. */
  private[graft] def hashPart(nParts: Int, keys: Column*): Column =
    pmod(xxhash64(keys: _*), lit(nParts.toLong)).cast("int")

  /** [[hashPart]] of one string key, evaluated on the driver by the same
    * Catalyst `XxHash64` (seed 42), so a reader computes the part
    * directories of its keys with no job and cannot disagree with the
    * writer. */
  private[graft] def hashPartOf(nParts: Int, key: String): Int = {
    val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        StringType))).eval(null).asInstanceOf[Long]
    (((h % nParts) + nParts) % nParts).toInt
  }

  /** Writes a one-row int manifest (`params`) to `dir`. */
  private[graft] def writeManifest(spark: SparkSession, dir: String,
      fields: (String, Int)*): Unit =
    spark.createDataFrame(java.util.List.of(Row.fromSeq(fields.map(_._2))),
        StructType(fields.map(f => StructField(f._1, IntegerType, false))))
      .coalesce(1).write.mode("overwrite").parquet(dir)

  /**
   * The one guarded reader of an index's one-file tables (`params`,
   * `pq_book`, `centroids`, BM25's `stats`): the rows of `path/table`,
   * read on the driver with no job ([[indexRows]]). A parameter
   * mismatch between build and query can return wrong or no answers
   * silently, so an index whose table is missing or empty is refused
   * with `"<family> index at <path> has no <absent>"`, and one whose
   * first row lacks any of `fields` (a layout that predates them) with
   * `"<family> index at <path> " + legacy(<missing fields, /-joined>)`.
   */
  private[graft] def manifestRows(spark: SparkSession, path: String,
      table: String, family: String, absent: String,
      fields: Seq[String] = Nil,
      legacy: String => String = identity): Array[Row] = {
    val rows = guarded(path, family, absent)(indexRows(spark, s"$path/$table"))
    if (rows.isEmpty) refuseIndex(path, family, s"has no $absent")
    val missing = fields.filterNot(rows.head.schema.fieldNames.contains)
    if (missing.nonEmpty) refuseIndex(path, family, legacy(missing.mkString("/")))
    rows
  }

  /** [[manifestRows]]' guard on a one-file table read as a scan (a
    * codebook joined in the plan rather than collected). */
  private[graft] def manifestScan(spark: SparkSession, path: String,
      table: String, family: String, absent: String): DataFrame =
    guarded(path, family, absent)(indexScan(spark, s"$path/$table"))

  private def guarded[A](path: String, family: String, absent: String)(
      read: => A): A =
    try read
    catch { case e: Throwable => refuseIndex(path, family, s"has no $absent", e) }

  private def refuseIndex(path: String, family: String, what: String,
      cause: Throwable = null): Nothing =
    throw new IllegalArgumentException(s"$family index at $path $what", cause)

  // --- pointer-publish index lifecycle --------------------------------

  /** The index publish protocol — every rebuild
    * (`rebuild*IndexPointer`) publishes through it, on posix/HDFS and
    * on object stores alike (s3a, gs, abfs, ..., where rename is a
    * non-atomic copy+delete: the protocol renames nothing). The index
    * ROOT holds numbered generation directories (`gen-00001`, ...) plus a
    * tiny pointer directory `_ptr/` of one-line pointer objects
    * (`ptr-00001` containing exactly `gen-00001`). The LIVE index is the
    * generation named by the highest VALID pointer; publish = write the
    * full new generation, then PUT one new pointer object — a
    * single-object write, atomic on every store (S3 PUTs are
    * all-or-nothing; no rename, no overwrite, nothing in place).
    *
    * Crash windows (every one leaves the old generation serving):
    *  - mid-generation-write: no pointer names it → invisible;
    *    [[recoverPointerSwap]] sweeps the stranded directory;
    *  - mid-pointer-write: a pointer is valid ONLY under
    *    [[pointerTarget]]'s two content forms (publish `gen-<own n>`,
    *    rollback `gen-<m> ptr-<own n>`), both chosen so every strict
    *    prefix fails validation — a torn write can never alias to a
    *    different generation; resolution falls back to the previous
    *    valid pointer and recovery deletes the torn one;
    *  - after the pointer write: publish is complete; recovery prunes
    *    all but the live and the immediately-previous generation (kept
    *    for [[rollbackIndexPointer]]).
    *
    * Maintenance is single-writer per index root (generation numbers
    * are allocated by listing); READERS are
    * wait-free — [[resolveIndexPointer]] at open, then every query runs
    * against a generation directory that no publish ever mutates.
    * Generations are immutable TO THE PROTOCOL: the standard pure-append
    * APIs (`appendToIvfIndex` & co.) may still target the resolved live
    * generation — they add files, never rename or rewrite published
    * ones, so the pointer's atomicity story is untouched; on an object
    * store their parquet commits inherit Spark's committer semantics
    * (use an object-store-native committer, e.g. the S3A magic
    * committer, as for any parquet append there). Visibility rule
    * (spec-pinned, IndexLifecycleSpec): appends ride the generation
    * they landed in — rows appended to the live generation VANISH on
    * [[rollbackIndexPointer]] (the predecessor predates them) and
    * RETURN when a second rollback rolls forward; an append is only as
    * durable as its generation's place in the retention window. */
  private def pointerDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_ptr")

  // digit count bounded to 18 (ADVICE r18): 18 digits always fit a
  // Long, so a junk 19+-digit name (e.g. ptr-99999999999999999999)
  // is treated as non-matching — the same skip-invalid behavior junk
  // pointer CONTENT gets — instead of toLong throwing and hard-failing
  // resolve/recovery on a file recovery could then never sweep
  private val GenName = "^gen-(\\d{5,18})$".r
  private val PtrName = "^ptr-(\\d{5,18})$".r

  private def genLeaf(n: Long): String = f"gen-$n%05d"

  private def listNumbered(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      pat: scala.util.matching.Regex): Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case pat(n) => Some((n.toLong, st.getPath))
        case _ => None
      }
    }

  private val RollbackContent = "^gen-(\\d{5,18}) ptr-(\\d{5,18})$".r

  /** The validated TARGET generation of `ptr-<n>`, or None. Two valid
    * content forms, both torn-write-proof (every strict prefix of
    * either fails validation, so a crash mid-write can never alias to
    * a different generation):
    *  - publish: exactly `gen-<n>` — the pointer's OWN number;
    *  - rollback: `gen-<m> ptr-<n>` — any generation, but the second
    *    token must name the pointer itself (a torn prefix loses it).
    * In both forms the named generation directory must exist. */
  private def pointerTarget(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, n: Long,
      ptr: org.apache.hadoop.fs.Path): Option[Long] = {
    val content = try {
      val in = fs.open(ptr)
      try {
        // read to EOF (or 64 bytes — a valid pointer is ~10-24): a
        // SHORT read must not make a good pointer look torn
        val buf = new Array[Byte](64)
        var off = 0
        var got = 0
        while (off < buf.length && got >= 0) {
          got = in.read(buf, off, buf.length - off)
          if (got > 0) off += got
        }
        new String(buf, 0, off, "UTF-8").trim
      } finally in.close()
    } catch { case _: java.io.IOException => "" }
    val target = content match {
      case RollbackContent(m, self) if self.toLong == n => Some(m.toLong)
      case _ if content == genLeaf(n) => Some(n)
      case _ => None
    }
    target.filter(m =>
      fs.exists(new org.apache.hadoop.fs.Path(root, genLeaf(m))))
  }

  /** Valid pointers as `(pointer number, target generation)`, newest
    * pointer first. */
  private def validPointers(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(Long, Long)] =
    listNumbered(fs, pointerDir(root), PtrName).sortBy(-_._1)
      .flatMap { case (n, p) => pointerTarget(fs, root, n, p).map((n, _)) }

  /** The LIVE generation directory of a pointer-published index — what
    * readers open and what [[graft.operators.VectorOps.ivfIndexTopK]]
    * and friends take as their index path. Fails with a build recipe if
    * the root has no published generation. */
  def resolveIndexPointer(spark: SparkSession, root: String): String = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    val live = validPointers(fs, rp).headOption.map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"resolveIndexPointer: no published generation under $root — " +
          "build into LayoutOps.withPointerGeneration(spark, root)(gen " +
          "=> buildIvfIndex(corpus, gen, ...)) to publish the first one " +
          "(a plain index directory has no _ptr/: rebuild it that way)"))
    new org.apache.hadoop.fs.Path(rp, genLeaf(live)).toString
  }

  /** Allocates the next generation directory path under `root` (max of
    * every existing generation/pointer number, plus one) WITHOUT
    * creating it — the caller writes the complete new index there, then
    * [[commitPointerSwap]] publishes it. A crash before the commit
    * leaves the directory unreferenced and invisible. */
  private[graft] def pointerStagingPath(spark: SparkSession,
      root: String): String = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    val used = (listNumbered(fs, rp, GenName) ++
      listNumbered(fs, pointerDir(rp), PtrName)).map(_._1)
    new org.apache.hadoop.fs.Path(rp,
      genLeaf(if (used.isEmpty) 1L else used.max + 1L)).toString
  }

  /** Publishes a staged generation with ONE pointer-object write (the
    * atomic step on every filesystem, object stores included), then
    * prunes: all generations beyond the newest `retain` (>= 2 — the
    * immediate predecessor is always kept for rollback) are deleted,
    * along with their pointers and any torn/stranded leftovers. */
  private[graft] def commitPointerSwap(spark: SparkSession, root: String,
      genPath: String, retain: Int = 2): Unit = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    val gp = new org.apache.hadoop.fs.Path(genPath)
    val n = gp.getName match {
      case GenName(d) => d.toLong
      case other => throw new IllegalArgumentException(
        s"commitPointerSwap: $other is not a gen-<n> directory — stage " +
          "at LayoutOps.pointerStagingPath")
    }
    require(gp.getParent != null &&
        fs.makeQualified(gp.getParent) == fs.makeQualified(rp),
      s"commitPointerSwap: $genPath is not a child of $root")
    require(fs.exists(gp) && fs.listStatus(gp).nonEmpty,
      s"commitPointerSwap: nothing staged at $genPath")
    val ptr = new org.apache.hadoop.fs.Path(pointerDir(rp), f"ptr-$n%05d")
    require(!fs.exists(ptr),
      s"commitPointerSwap: $ptr already exists — maintenance is " +
        "single-writer per index root")
    val out = fs.create(ptr, false)
    try out.write((genLeaf(n) + "\n").getBytes("UTF-8")) finally out.close()
    prunePointerGenerations(fs, rp, retain)
  }

  /** Crash-recovery sweep for a pointer-published index: deletes
    * torn pointers, stranded unpublished generations, and all history
    * beyond the newest `retain` (default 2: live + predecessor).
    * Idempotent; a no-op on a healthy root; safe before the first
    * publish (nothing valid to keep → only strandeds are swept). */
  def recoverPointerSwap(spark: SparkSession, root: String,
      retain: Int = 2): Unit = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    prunePointerGenerations(fs, rp, retain)
  }

  private def prunePointerGenerations(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, retain: Int): Unit = {
    require(retain >= 2, // the predecessor is rollback's target
      s"pointer generation retention must keep live+predecessor, got $retain")
    val valid = validPointers(fs, root)
    val keepPtrs = valid.take(retain).map(_._1).toSet
    val keepGens = valid.take(retain).map(_._2).toSet
    listNumbered(fs, pointerDir(root), PtrName).foreach { case (n, p) =>
      if (!keepPtrs.contains(n)) fs.delete(p, false)
    }
    listNumbered(fs, root, GenName).foreach { case (n, p) =>
      if (!keepGens.contains(n)) fs.delete(p, true)
    }
  }

  /** The pointer lifecycle's publish wrapper: recover, allocate the
    * next generation, run `build` against it (write the COMPLETE new
    * index there), commit with the one-object pointer write, and
    * return the now-live generation path. Works identically on `file:`
    * (how the spec simulates it) and on object stores — no step
    * renames or overwrites anything.
    *
    * Reader hazard (ADVICE r18): a reader that resolved the live
    * generation stays correct across ONE publish (its generation
    * becomes the retained predecessor) but a SECOND publish prunes
    * that directory under its scan — missing-file failures. Where long
    * scans overlap frequent publishes, raise `retain` (generations kept
    * after each publish, default 2 = live + rollback predecessor) so
    * pruning lags the oldest running reader. */
  def withPointerGeneration(spark: SparkSession, root: String,
      retain: Int = 2)(build: String => Unit): String = {
    recoverPointerSwap(spark, root, retain)
    val gen = pointerStagingPath(spark, root)
    build(gen)
    commitPointerSwap(spark, root, gen, retain)
    gen
  }

  /** Re-points the live index to the RETAINED PREDECESSOR generation —
    * the operator the pruning policy keeps that generation for (a
    * rebuild published bad data, roll back while the root cause is
    * found). Implemented as one new pointer-object write in the
    * self-naming rollback form (`gen-<m> ptr-<n>` — see
    * [[resolveIndexPointer]]'s validity rule; still no renames, still
    * atomic, still torn-write-proof), so rollback has the same crash
    * story as publish. The generation rolled back FROM stays retained
    * (it becomes the predecessor), so a second rollback rolls forward
    * again. Refuses when no predecessor generation is retained. Returns
    * the now-live generation path. */
  def rollbackIndexPointer(spark: SparkSession, root: String,
      retain: Int = 2): String = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    val valid = validPointers(fs, rp)
    require(valid.nonEmpty,
      s"rollbackIndexPointer: no published generation under $root")
    val live = valid.head._2
    val prev = valid.collectFirst { case (_, g) if g != live => g }
      .getOrElse(throw new IllegalArgumentException(
        s"rollbackIndexPointer: no predecessor generation retained " +
          s"under $root — only ${genLeaf(live)} is published"))
    val used = (listNumbered(fs, rp, GenName) ++
      listNumbered(fs, pointerDir(rp), PtrName)).map(_._1)
    val n = used.max + 1L
    val ptr = new org.apache.hadoop.fs.Path(pointerDir(rp), f"ptr-$n%05d")
    val out = fs.create(ptr, false)
    try out.write(f"${genLeaf(prev)} ptr-$n%05d\n".getBytes("UTF-8"))
    finally out.close()
    prunePointerGenerations(fs, rp, retain)
    new org.apache.hadoop.fs.Path(rp, genLeaf(prev)).toString
  }
}
