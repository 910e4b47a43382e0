package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.sql.Timestamp
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BlockMean2x
import graft.schema._

/**
 * OME-Zarr (NGFF) source/sink (reference: ingest.py:695-811 `from_ome_zarr`
 * via BioIO, export.py:231-374 `to_ome_zarr`), self-contained on the public
 * Zarr container formats:
 *
 *  - **v2** (NGFF 0.4): `.zgroup`/`.zattrs`/`.zarray` JSON + one binary
 *    file per chunk named `t.c.z.0.0`;
 *  - **v3** (NGFF 0.5 — the REFERENCE'S DEFAULT, export.py:242): per-node
 *    `zarr.json` metadata, chunk keys `c/t/c/z/y/x` (default encoding,
 *    "/" or "." separator), `bytes` + optional compression codecs.
 *
 * Chunking is one chunk per (t,c,z) plane (`chunks = [1,1,1,Y,X]`) by
 * default; any TCZYX chunk grid and v3 `shardZ` shards are written by
 * the same grid writer. Export writes each store whole in one task (a
 * single-store target after a `collect`), pyramid levels included: a task
 * holds one record's planes, never the corpus, and a write has no
 * shuffle. Ingest is the `omezarr` DataSourceV2 scan: one store per
 * partition, whose reader decodes every chunk layout into plane pieces,
 * assembles and zero-fills the record, so a read has no shuffle. The trade-off,
 * in both directions: the image is the unit of parallelism, as in the
 * `ometiff` source — one store's chunks encode or decode in one task,
 * and the record is one row anyway.
 *
 * Codecs: `null` (raw), `zlib` (JDK inflate; v3 writes its `gzip`
 * codec), `zstd` (zstd-jni from Spark's own jars; raw frames, matching
 * numcodecs' v2 `{"id": "zstd"}` and the v3 `zstd` codec — the
 * REFERENCE'S DEFAULT compressor, export.py:265–289), and **Blosc**
 * decode/encode via [[BloscCodec]] (lz4/zlib/zstd/snappy payloads, byte-
 * and bit-shuffle) — numcodecs' default envelope, so reference-written
 * stores open without external jars. Multiscale pyramid levels are 2x2
 * block means of the level above ([[graft.functions.BlockMean2x.mean]];
 * level-shape contract `max(1, n >> l)`, export.py:317-318).
 */
object OmeZarr {

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // --- tiny JSON field extractors (engine-written metadata only) ------
  private def jsonString(json: String, key: String): Option[String] =
    (jsonStr(key) + """\s*:\s*"((?:[^"\\]|\\.)*)"""").r
      .findFirstMatchIn(json).map(_.group(1))
  private def jsonIntArray(json: String, key: String): Option[Seq[Long]] =
    (jsonStr(key) + """\s*:\s*\[([^\]]*)\]""").r
      .findFirstMatchIn(json)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq)
  private def jsonNumArray(json: String, key: String): Option[Seq[Double]] =
    (jsonStr(key) + """\s*:\s*\[([^\]]*)\]""").r
      .findFirstMatchIn(json)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq)

  /** The JSON value (object or array) of `key`'s first occurrence, found
    * by balanced-bracket scan with string awareness — the flat regex
    * extractors above cannot cross nested arrays (the sharding codec's
    * configuration holds arrays inside the codecs array). Returns the
    * exact value substring including its outer brackets. */
  private[sources] def jsonValue(json: String, key: String): Option[String] = {
    val m = (jsonStr(key) + """\s*:\s*""").r.findFirstMatchIn(json)
      .getOrElse(return None)
    val start = m.end
    if (start >= json.length || (json(start) != '[' && json(start) != '{'))
      return None
    var depth = 0; var i = start; var inStr = false; var esc = false
    while (i < json.length) {
      val ch = json(i)
      if (inStr) {
        if (esc) esc = false
        else if (ch == '\\') esc = true
        else if (ch == '"') inStr = false
      } else ch match {
        case '"' => inStr = true
        case '[' | '{' => depth += 1
        case ']' | '}' =>
          depth -= 1
          if (depth == 0) return Some(json.substring(start, i + 1))
        case _ =>
      }
      i += 1
    }
    None
  }

  /** Split a JSON array's body into its top-level element substrings. */
  private[sources] def jsonElements(arr: String): Seq[String] = {
    val body = arr.trim.stripPrefix("[").stripSuffix("]")
    val out = Seq.newBuilder[String]
    var depth = 0; var inStr = false; var esc = false; var start = 0
    for (i <- body.indices) {
      val ch = body(i)
      if (inStr) {
        if (esc) esc = false
        else if (ch == '\\') esc = true
        else if (ch == '"') inStr = false
      } else ch match {
        case '"' => inStr = true
        case '[' | '{' => depth += 1
        case ']' | '}' => depth -= 1
        case ',' if depth == 0 =>
          out += body.substring(start, i); start = i + 1
        case _ =>
      }
    }
    if (body.trim.nonEmpty) out += body.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** The image name from a multiscales attrs document. The naive first
    * `"name"` match breaks on foreign stores that serialize `axes` before
    * the multiscale `name` (key order is free in JSON): axis objects are
    * `{"name": "t", "type": ...}`, so skip any name immediately followed
    * by a "type" key (and the v3 codec/grid `{"name": ..,
    * "configuration": ..}` shape likewise). */
  private def imageName(attrs: String): Option[String] =
    (""""name"\s*:\s*"((?:[^"\\]|\\.)*)"\s*(,\s*"(?:type|configuration)")?""").r
      .findAllMatchIn(attrs).find(_.group(2) == null).map(_.group(1))

  /** The "scale" coordinate transform of the multiscales dataset whose
    * `path` equals `levelPath` — NOT the first scale array in the document,
    * which is level 0's transform and halves every physical size read from
    * a pyramid level (VERDICT r3 #2). Falls back to the first scale array
    * for foreign stores that order keys differently. */
  private def scaleForLevel(attrs: String, levelPath: String): Seq[Double] = {
    val re = ("""\{\s*"path"\s*:\s*""" +
      java.util.regex.Pattern.quote(jsonStr(levelPath)) +
      """\s*,[\s\S]*?"scale"\s*:\s*\[([^\]]*)\]""").r
    re.findFirstMatchIn(attrs)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty)
        .map(_.toDouble).toSeq)
      .orElse(jsonNumArray(attrs, "scale"))
      .getOrElse(Seq(1.0, 1.0, 1.0, 1.0, 1.0))
  }

  // --- chunk payload codecs -------------------------------------------

  private[sources] def encodeChunk(bytes: Array[Byte], comp: String): Array[Byte] =
    comp match {
      case "null" => bytes
      case "zlib" => zlibCompress(bytes)
      case "gzip" => gzipCompress(bytes)
      case "zstd" => com.github.luben.zstd.Zstd.compress(bytes, 3)
      case "blosc" => BloscCodec.compress(bytes, typesize = 2,
        cname = "zlib", shuffle = 1)
      case "blosclz" => BloscCodec.compress(bytes, typesize = 2,
        cname = "blosclz", shuffle = 1)
      case other => throw new IllegalArgumentException(
        s"Zarr: compressor '$other' unsupported")
    }

  /** `expect` is the exact chunk payload size (chunk shape × dtype) — it
    * both sizes buffers and CAPS decompression, so a hostile chunk can't
    * zip-bomb an executor (the expansion stops at the cap and errors). */
  private[sources] def decodeChunk(raw: Array[Byte], comp: String,
      expect: Int): Array[Byte] = comp match {
    case "null" => raw
    case "zlib" => Codecs.inflate(raw, 0, raw.length, boundedCap(expect))
    case "gzip" => gzipDecompress(raw, expect)
    case "zstd" => zstdDecompress(raw, expect)
    case "blosc" => BloscCodec.decompress(raw, maxOut = boundedCap(expect))
    // numcodecs LZMA writes liblzma XZ streams (format 2 is the legacy
    // alone container — both sniffed); decode bounded by the chunk size
    case "lzma" => Codecs.lzmaDecode(raw, boundedCap(expect))
    case other => throw new IllegalArgumentException(
      s"Zarr: compressor '$other' unsupported")
  }

  /** Raw zstd frame (numcodecs v2 / zarr v3 codec). The destination
    * allocation is bounded by `expect` (or the unknown-size ceiling), so
    * a hostile chunk can't demand more — zstd-jni errors past the cap. */
  private def zstdDecompress(data: Array[Byte], expect: Int): Array[Byte] = {
    import com.github.luben.zstd.Zstd
    val cap = boundedCap(expect)
    val size =
      if (expect > 0) expect
      else {
        val hint = Zstd.decompressedSize(data)
        if (hint > 0 && hint <= cap) hint.toInt else cap
      }
    val dst = new Array[Byte](size)
    val rc = Zstd.decompressByteArray(dst, 0, size, data, 0, data.length)
    if (Zstd.isError(rc))
      throw new IllegalArgumentException(s"Zarr: zstd: ${Zstd.getErrorName(rc)}")
    if (rc == size) dst else java.util.Arrays.copyOf(dst, rc.toInt)
  }

  // zlib-wrapped, numcodecs zlib compatible
  private def zlibCompress(data: Array[Byte]): Array[Byte] = Codecs.deflate(data)

  /** Decompression cap: the exact expected size when known, else a sane
    * ceiling so unknown-size paths still can't expand unboundedly. */
  private def boundedCap(expect: Int): Int =
    if (expect > 0) expect else 1 << 28

  private def gzipCompress(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val gz = new GZIPOutputStream(bos)
    gz.write(data); gz.close()
    bos.toByteArray
  }

  private def gzipDecompress(data: Array[Byte], expect: Int): Array[Byte] = {
    val cap = boundedCap(expect)
    val gz = new GZIPInputStream(new java.io.ByteArrayInputStream(data))
    val out = try gz.readNBytes(cap + 1) finally gz.close()
    require(out.length <= cap,
      s"Zarr: gzip chunk inflates past $cap bytes (expected $expect)")
    out
  }

  // --- write ----------------------------------------------------------

  /**
   * Write each record as an OME-Zarr image directory `<out>/<id>.zarr`
   * (or exactly `out` when it ends in ".zarr" — single-record contract).
   * `multiscaleLevels` >= 1 adds 2x-downscaled levels "1", "2", ...
   * `zarrFormat` 2 writes NGFF 0.4 (`.zattrs`), 3 writes NGFF 0.5
   * (`zarr.json`, the reference's default container). `compressor`:
   * "zlib" (v3 writes its gzip codec), "zstd" (the reference's default
   * codec, raw frames), "blosc" (zlib payload, byte-shuffle) or "null".
   *
   * `shardZ` (v3 only; export.py:342-348 `shards` semantics) packs all z
   * planes of one (t, c) into a single `sharding_indexed` shard file with
   * one-plane inner chunks and a crc32c'd end index — at 100 TB this
   * collapses the file count by size_z without giving up per-plane
   * addressability (readers fetch one inner chunk via the index).
   *
   * Each store is written whole by one task (a single-store target after
   * a `collect`): every level's array document and chunks, each level 2x2
   * block-meaned from the one above, then the group document. The image
   * is the unit of parallelism, so a write has no shuffle.
   */
  def write(df: DataFrame, out: String,
      multiscaleLevels: Int = 1,
      compressor: String = "zlib",
      zarrFormat: Int = 2,
      shardZ: Boolean = false,
      chunks: Option[Seq[Int]] = None,
      column: String = OmeSchema.DefaultColumn): Unit = {
    require(multiscaleLevels >= 1, "multiscaleLevels must be >= 1")
    require(Set("zlib", "null", "blosc", "blosclz", "zstd").contains(compressor),
      s"compressor '$compressor' unsupported (zlib/zstd/blosc/blosclz/null)")
    require(zarrFormat == 2 || zarrFormat == 3,
      s"zarrFormat must be 2 or 3, got $zarrFormat")
    require(!shardZ || zarrFormat == 3, "shardZ requires zarrFormat = 3")
    // arbitrary TCZYX chunk shapes (export.py:342-348 semantics): multi-
    // plane chunks batch t/c/z, sub-plane chunks split big Y×X planes
    chunks.foreach { ch =>
      require(ch.length == 5 && ch.forall(_ >= 1),
        s"chunks must be 5 positive extents (got $ch)")
      require(!shardZ, "chunks and shardZ are mutually exclusive")
    }
    val v3 = zarrFormat == 3
    // the v3 container has no zlib codec; deflate rides its gzip codec
    val chunkComp = if (v3 && compressor == "zlib") "gzip" else compressor
    val spark = df.sparkSession
    import spark.implicits._
    val recs = df.select(col(s"$column.*")).as[OmeArrowRecord]
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    if (out.toLowerCase.endsWith(".zarr")) {
      // chunk names carry no image id, so one store holds exactly one
      // record — multiple records would silently clobber each other
      val all = recs.collect()
      require(all.length == 1,
        s"Writing to a single store '$out' requires exactly 1 record, got ${all.length}")
      writeStore(all(0), new Path(out), conf.value, multiscaleLevels, chunkComp,
        v3, shardZ, chunks)
    } else recs.foreachPartition { it: Iterator[OmeArrowRecord] =>
      it.foreach(r => writeStore(r, new Path(out, s"${r.id}.zarr"), conf.value,
        multiscaleLevels, chunkComp, v3, shardZ, chunks))
    }
  }

  /** One record's whole store: per level its array document and chunk
    * grid (level shapes `max(1, n >> l)`, export.py:317-318), then the
    * group document. */
  private def writeStore(r: OmeArrowRecord, root: Path,
      conf: org.apache.hadoop.conf.Configuration, levels: Int, chunkComp: String,
      v3: Boolean, shardZ: Boolean, chunks: Option[Seq[Int]]): Unit = {
    val pm = r.pixels_meta
    val fs = root.getFileSystem(conf)
    fs.setWriteChecksum(false)
    var planes = r.planes.map(p => (p.t, p.c.toInt, p.z) -> p.pixels.toArray).toMap
    var (ly, lx) = (pm.size_y, pm.size_x)
    for (l <- 0 until levels) {
      if (l > 0) {
        planes = planes.map { case (k, px) => k -> BlockMean2x.mean(px, lx, ly) }
        ly = math.max(ly / 2, 1); lx = math.max(lx / 2, 1)
      }
      val shape = Seq(pm.size_t, pm.size_c.toInt, pm.size_z, ly, lx)
      val grid = chunks.getOrElse(Seq(1, 1, if (shardZ) pm.size_z else 1, ly, lx))
      val dir = new Path(root, l.toString)
      if (v3) {
        val inner = chunkComp match {
          case "gzip" =>
            """[{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "gzip", "configuration": {"level": 6}}]"""
          case "blosc" =>
            """[{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "blosc", "configuration": {"cname": "zlib", "clevel": 6, "shuffle": "shuffle", "typesize": 2, "blocksize": 0}}]"""
          case "blosclz" =>
            """[{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "blosc", "configuration": {"cname": "blosclz", "clevel": 5, "shuffle": "shuffle", "typesize": 2, "blocksize": 0}}]"""
          case "zstd" =>
            """[{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "zstd", "configuration": {"level": 3, "checksum": false}}]"""
          case _ =>
            """[{"name": "bytes", "configuration": {"endian": "little"}}]"""
        }
        val codecs =
          if (shardZ)
            s"""[{"name": "sharding_indexed", "configuration": {"chunk_shape": [1, 1, 1, $ly, $lx], "codecs": $inner, "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}], "index_location": "end"}}]"""
          else inner
        writeText(fs, new Path(dir, "zarr.json"),
          s"""{"zarr_format": 3, "node_type": "array",
             | "shape": [${shape.mkString(", ")}], "data_type": "uint16",
             | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${grid.mkString(", ")}]}},
             | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
             | "fill_value": 0, "codecs": $codecs,
             | "dimension_names": ["t", "c", "z", "y", "x"]}"""
            .stripMargin.replace("\n", ""))
      } else {
        val comp = chunkComp match {
          case "zlib" => """{"id": "zlib", "level": 6}"""
          case "blosc" =>
            """{"id": "blosc", "cname": "zlib", "clevel": 6, "shuffle": 1, "blocksize": 0}"""
          case "blosclz" =>
            """{"id": "blosc", "cname": "blosclz", "clevel": 5, "shuffle": 1, "blocksize": 0}"""
          case "zstd" => """{"id": "zstd", "level": 3}"""
          case _ => "null"
        }
        writeText(fs, new Path(dir, ".zarray"),
          s"""{"zarr_format": 2, "shape": [${shape.mkString(", ")}],
             | "chunks": [${grid.mkString(", ")}],
             | "dtype": "<u2", "compressor": $comp, "fill_value": 0,
             | "order": "C", "filters": null, "dimension_separator": "."}"""
            .stripMargin.replace("\n", ""))
      }
      writeGrid(fs, dir, planes, shape, grid, chunkComp, v3, shardZ)
    }
    val psx = pm.physical_size_x.getOrElse(1.0f)
    val psy = pm.physical_size_y.getOrElse(1.0f)
    val psz = pm.physical_size_z.getOrElse(1.0f)
    val datasets = (0 until levels).map { lv =>
      val f = 1 << lv
      s"""{"path": ${jsonStr(lv.toString)}, "coordinateTransformations":
         | [{"type": "scale", "scale": [1.0, 1.0, $psz, ${psy * f}, ${psx * f}]}]}"""
        .stripMargin.replace("\n", "")
    }.mkString("[", ", ", "]")
    val channels = pm.channels
      .map(ch => s"""{"label": ${jsonStr(ch.name)}}""").mkString("[", ", ", "]")
    val axes =
      """[{"name": "t", "type": "time"}, {"name": "c", "type": "channel"},
        | {"name": "z", "type": "space", "unit": "micrometer"},
        | {"name": "y", "type": "space", "unit": "micrometer"},
        | {"name": "x", "type": "space", "unit": "micrometer"}]"""
        .stripMargin.replace("\n", "")
    if (v3) {
      writeText(fs, new Path(root, "zarr.json"),
        s"""{"zarr_format": 3, "node_type": "group", "attributes":
           | {"ome": {"version": "0.5",
           | "multiscales": [{"name": ${jsonStr(r.name)},
           | "axes": $axes, "datasets": $datasets}],
           | "omero": {"channels": $channels}}}}"""
          .stripMargin.replace("\n", ""))
    } else {
      writeText(fs, new Path(root, ".zgroup"), """{"zarr_format": 2}""")
      writeText(fs, new Path(root, ".zattrs"),
        s"""{"multiscales": [{"version": "0.4", "name": ${jsonStr(r.name)},
           | "axes": $axes,
           | "datasets": $datasets}],
           | "omero": {"channels": $channels}}"""
          .stripMargin.replace("\n", ""))
    }
  }

  /**
   * One level's chunk files: each cell of the TCZYX `grid` over `shape`
   * is a zero-padded C-order uint16-LE buffer filled from the present
   * `planes`, then encoded. A cell none of whose planes is present is not
   * written. A shard (`shardZ`, grid `[1, 1, Z, Y, X]`) is its one-plane
   * inner cells' payloads back to back, then one u64-LE (offset, nbytes)
   * pair per inner cell (an absent one all-ones) and their crc32c.
   */
  private def writeGrid(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      planes: Map[(Int, Int, Int), Array[Int]], shape: Seq[Int], grid: Seq[Int],
      comp: String, v3: Boolean, shardZ: Boolean): Unit = {
    val Seq(st, sc, sz, sy, sx) = shape
    /** The encoded cell of extents `ext` whose corner is plane (t0, c0,
      * z0), pixel (y0, x0); None when it holds no present plane. */
    def cell(t0: Int, c0: Int, z0: Int, y0: Int, x0: Int,
        ext: Seq[Int]): Option[Array[Byte]] = {
      val Seq(ct, cc, cz, cy, cx) = ext
      val h = math.min(cy, sy - y0); val w = math.min(cx, sx - x0)
      val buf = new Array[Byte](ct * cc * cz * cy * cx * 2)
      var present = false
      for (dt <- 0 until ct; dc <- 0 until cc; dz <- 0 until cz;
           px <- planes.get((t0 + dt, c0 + dc, z0 + dz))) {
        present = true
        val base = ((dt * cc + dc) * cz + dz) * cy * cx
        var r = 0
        while (r < h) {
          var q = 0
          while (q < w) {
            val v = px((y0 + r) * sx + x0 + q)
            val o = (base + r * cx + q) * 2
            buf(o) = (v & 0xff).toByte
            buf(o + 1) = ((v >> 8) & 0xff).toByte
            q += 1
          }
          r += 1
        }
      }
      if (present) Some(encodeChunk(buf, comp)) else None
    }
    val Seq(ct, cc, cz, cy, cx) = grid
    for (tg <- 0 until (st + ct - 1) / ct; cg <- 0 until (sc + cc - 1) / cc;
         zg <- 0 until (sz + cz - 1) / cz; yg <- 0 until (sy + cy - 1) / cy;
         xg <- 0 until (sx + cx - 1) / cx) {
      val (t0, c0, z0) = (tg * ct, cg * cc, zg * cz)
      val payload =
        if (!shardZ) cell(t0, c0, z0, yg * cy, xg * cx, grid)
        else {
          val inner = (0 until cz).map(dz => cell(t0, c0, z0 + dz, 0, 0, Seq(1, 1, 1, sy, sx)))
          Option.when(inner.exists(_.isDefined)) {
            val idx = ByteBuffer.allocate(cz * 16 + 4).order(ByteOrder.LITTLE_ENDIAN)
            var off = 0L
            inner.foreach {
              case Some(p) => idx.putLong(off).putLong(p.length.toLong); off += p.length
              case None => idx.putLong(-1L).putLong(-1L)
            }
            val crc = new java.util.zip.CRC32C
            crc.update(idx.array(), 0, cz * 16)
            idx.putInt(crc.getValue.toInt)
            inner.flatten.toArray.flatten ++ idx.array()
          }
        }
      payload.foreach { bytes =>
        val key = Seq(tg, cg, zg, yg, xg)
        val os = fs.create(
          if (v3) new Path(dir, "c/" + key.mkString("/")) else new Path(dir, key.mkString(".")),
          true)
        try os.write(bytes) finally os.close()
      }
    }
  }

  private def writeText(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      text: String): Unit = {
    val os = fs.create(p, true)
    try os.write(text.getBytes("UTF-8")) finally os.close()
  }

  // --- read -----------------------------------------------------------

  /** `shardT/C/Z` > 0 marks a v3 `sharding_indexed` array: each chunk
    * file is a shard of shardT×shardC×shardZ one-plane inner chunks,
    * with a u64-LE (offset, nbytes) index per inner chunk (missing =
    * all-ones), optionally crc32c-suffixed, at the shard's end/start. */
  private[sources] final case class StoreConfig(store: String, stem: String,
      name: String, st: Int, sc: Int, sz: Int, sy: Int, sx: Int,
      psx: Float, psy: Float, psz: Float, chans: Seq[String],
      comp: String, big: Boolean, u1: Boolean, v3: Boolean, sep: String,
      shardT: Int = 0, shardC: Int = 0, shardZ: Int = 0,
      shardCrc: Boolean = false, shardIdxEnd: Boolean = true,
      shardIdxBig: Boolean = false,
      // chunk grid (arbitrary shapes supported on the non-sharded path);
      // chY/chX of 0 mean "whole plane" (the write default)
      chT: Int = 1, chC: Int = 1, chZ: Int = 1, chY: Int = 0, chX: Int = 0) {
    /** Effective per-axis chunk extents (0 -> whole plane). */
    def cT: Int = math.max(chT, 1)
    def cC: Int = math.max(chC, 1)
    def cZ: Int = math.max(chZ, 1)
    def cY: Int = if (chY <= 0) sy else chY
    def cX: Int = if (chX <= 0) sx else chX
  }

  /** Parse one store's metadata (driver-side, metadata-scale); detects
    * v3 (`zarr.json` present) vs v2 (`.zarray`/`.zattrs`). */
  private def parseConfig(fs: org.apache.hadoop.fs.FileSystem,
      storePath: String, levelPath: String): StoreConfig = {
    val root = new Path(storePath)
    val v3 = fs.exists(new Path(root, "zarr.json"))
    if (v3) parseConfigV3(fs, root, storePath, levelPath)
    else parseConfigV2(fs, root, storePath, levelPath)
  }

  private def parseConfigV2(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      storePath: String, levelPath: String): StoreConfig = {
    val attrs = readText(fs, new Path(root, ".zattrs"))
    val levelDir = new Path(root, levelPath)
    val zarray = readText(fs, new Path(levelDir, ".zarray"))
    val shape = jsonIntArray(zarray, "shape").getOrElse(
      throw new IllegalArgumentException(s"Zarr: $storePath has no shape"))
    require(shape.length == 5, s"Zarr: expected 5-D TCZYX shape, got $shape")
    val chunks = jsonIntArray(zarray, "chunks").get.map(_.toInt)
    require(chunks.length == 5 && chunks.forall(_ >= 1),
      s"Zarr: chunks must be 5 positive extents (chunks=$chunks)")
    val dtype = jsonString(zarray, "dtype").getOrElse("<u2")
    require(Set("<u2", "|u1", ">u2").contains(dtype),
      s"Zarr: dtype '$dtype' unsupported (u1/u2 only)")
    // compressor is either JSON null or an object whose "id" names the
    // codec; scope the id lookup to the compressor OBJECT so an "id" key
    // elsewhere in the document cannot satisfy the check
    val nullComp = """"compressor"\s*:\s*null""".r.findFirstIn(zarray).isDefined
    val compObj = """"compressor"\s*:\s*(\{[^}]*\})""".r
      .findFirstMatchIn(zarray).map(_.group(1))
    val compId =
      if (nullComp) "null"
      else compObj.flatMap(jsonString(_, "id")).getOrElse(
        throw new IllegalArgumentException(
          "Zarr: .zarray has neither a null compressor nor a compressor id"))
    require(Set("zlib", "null", "blosc", "zstd", "lzma").contains(compId),
      s"Zarr: compressor '$compId' unsupported (zlib/zstd/blosc/lzma/null)")
    // filters would transform bytes before/after the compressor — we
    // implement none, so anything but null/absent must be rejected
    val filtersSpecified = """"filters"\s*:\s*(?!null)[\[{"]""".r
      .findFirstIn(zarray).isDefined
    require(!filtersSpecified,
      "Zarr: filters are unsupported (store must have \"filters\": null)")
    val scale = scaleForLevel(attrs, levelPath)
    val chanNames = """\{\s*"label"\s*:\s*"((?:[^"\\]|\\.)*)"\s*\}""".r
      .findAllMatchIn(attrs).map(_.group(1)).toSeq
    // zarr 2.11+ writers may nest chunks with "/" (dimension_separator);
    // absent means the spec default "."
    val sep = jsonString(zarray, "dimension_separator").getOrElse(".")
    require(sep == "." || sep == "/",
      s"Zarr: dimension_separator '$sep' unsupported")
    StoreConfig(storePath, root.getName.stripSuffix(".zarr"),
      imageName(attrs).getOrElse(root.getName),
      shape(0).toInt, shape(1).toInt, shape(2).toInt, shape(3).toInt,
      shape(4).toInt, scale(4).toFloat, scale(3).toFloat, scale(2).toFloat,
      chanNames, compId, dtype == ">u2", dtype == "|u1", v3 = false, sep = sep,
      chT = chunks(0), chC = chunks(1), chZ = chunks(2),
      chY = chunks(3), chX = chunks(4))
  }

  private def parseConfigV3(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      storePath: String, levelPath: String): StoreConfig = {
    val attrs = readText(fs, new Path(root, "zarr.json"))
    val arrDoc = readText(fs, new Path(new Path(root, levelPath), "zarr.json"))
    val shape = jsonIntArray(arrDoc, "shape").getOrElse(
      throw new IllegalArgumentException(s"Zarr v3: $storePath has no shape"))
    require(shape.length == 5, s"Zarr: expected 5-D TCZYX shape, got $shape")
    // chunk_shape appears in BOTH the chunk_grid and a sharding codec's
    // configuration — scope the lookup to the chunk_grid object
    val gridObj = jsonValue(arrDoc, "chunk_grid").getOrElse(
      throw new IllegalArgumentException(
        s"Zarr v3: $storePath has no regular chunk_grid"))
    val chunks = jsonIntArray(gridObj, "chunk_shape").getOrElse(
      throw new IllegalArgumentException(
        s"Zarr v3: $storePath chunk_grid has no chunk_shape")).map(_.toInt)
    val dtype = jsonString(arrDoc, "data_type").getOrElse("uint16")
    require(dtype == "uint16" || dtype == "uint8",
      s"Zarr v3: data_type '$dtype' unsupported (uint8/uint16 only)")
    val codecsStr = jsonValue(arrDoc, "codecs").getOrElse(
      throw new IllegalArgumentException(s"Zarr v3: $storePath has no codecs"))
    // detect by the name VALUE, not the first "name" key: a foreign writer
    // may serialize "configuration" (whose inner codecs carry their own
    // "name" keys) before the codec's own "name" — key order is free
    val shardObj = jsonElements(codecsStr).find(_.contains("\"sharding_indexed\""))

    // the per-plane codec chain: the array's own codecs, or — sharded —
    // the sharding configuration's inner codecs
    def chainInfo(chain: String): (String, Boolean) = {
      val names = jsonElements(chain).flatMap(jsonString(_, "name"))
      require(names.contains("bytes"),
        s"Zarr v3: codecs $names lack the required 'bytes' codec")
      val unknown = names.filterNot(Set("bytes", "gzip", "blosc", "zstd"))
      require(unknown.isEmpty,
        s"Zarr v3: codecs ${unknown.mkString(",")} unsupported (bytes/gzip/zstd/blosc)")
      val comp =
        if (names.contains("gzip")) "gzip"
        else if (names.contains("blosc")) "blosc"
        else if (names.contains("zstd")) "zstd"
        else "null"
      (comp, jsonString(chain, "endian").contains("big"))
    }

    val (comp, big, shardDims, shardIdx) = shardObj match {
      case None =>
        require(chunks.length == 5 && chunks.forall(_ >= 1),
          s"Zarr: chunk_shape must be 5 positive extents (chunks=$chunks)")
        val (c, b) = chainInfo(codecsStr)
        (c, b, (0, 0, 0), (false, true, false))
      case Some(obj) =>
        val conf = jsonValue(obj, "configuration").getOrElse(
          throw new IllegalArgumentException(
            s"Zarr v3: sharding codec in $storePath has no configuration"))
        val inner = jsonIntArray(conf, "chunk_shape").getOrElse(
          throw new IllegalArgumentException(
            s"Zarr v3: sharding codec in $storePath has no chunk_shape"))
          .map(_.toInt)
        require(inner == Seq(1, 1, 1, shape(3).toInt, shape(4).toInt),
          s"Zarr: only one-plane inner chunks supported (inner=$inner)")
        require(chunks(3) == shape(3) && chunks(4) == shape(4) &&
          chunks.take(3).forall(_ >= 1),
          s"Zarr: shard shape must cover whole planes (chunks=$chunks)")
        val (c, b) = chainInfo(jsonValue(conf, "codecs").getOrElse(
          throw new IllegalArgumentException(
            s"Zarr v3: sharding codec in $storePath has no inner codecs")))
        val idxCodecs = jsonValue(conf, "index_codecs")
        val crc = idxCodecs.exists(_.contains("crc32c"))
        val idxBig = idxCodecs.exists(jsonString(_, "endian").contains("big"))
        val idxEnd =
          jsonString(conf, "index_location").forall(_ == "end")
        (c, b, (chunks(0), chunks(1), chunks(2)), (crc, idxEnd, idxBig))
    }
    val sep = jsonString(arrDoc, "separator").getOrElse("/")
    require(sep == "/" || sep == ".", s"Zarr v3: separator '$sep' unsupported")
    val scale = scaleForLevel(attrs, levelPath)
    val chanNames = """\{\s*"label"\s*:\s*"((?:[^"\\]|\\.)*)"\s*\}""".r
      .findAllMatchIn(attrs).map(_.group(1)).toSeq
    StoreConfig(storePath, root.getName.stripSuffix(".zarr"),
      imageName(attrs).getOrElse(root.getName),
      shape(0).toInt, shape(1).toInt, shape(2).toInt, shape(3).toInt,
      shape(4).toInt, scale(4).toFloat, scale(3).toFloat, scale(2).toFloat,
      chanNames, comp, big, dtype == "uint8", v3 = true, sep = sep,
      shardT = shardDims._1, shardC = shardDims._2, shardZ = shardDims._3,
      shardCrc = shardIdx._1, shardIdxEnd = shardIdx._2,
      shardIdxBig = shardIdx._3,
      chT = if (shardObj.isEmpty) chunks(0) else 1,
      chC = if (shardObj.isEmpty) chunks(1) else 1,
      chZ = if (shardObj.isEmpty) chunks(2) else 1,
      chY = if (shardObj.isEmpty) chunks(3) else 0,
      chX = if (shardObj.isEmpty) chunks(4) else 0)
  }

  /** All chunk/shard file paths of one store's level, listed at planning
    * time: the level directory's files whose relative path is a chunk key
    * of the store's layout — `[c<sep>]t<sep>c<sep>z<sep>y<sep>x`. */
  private[sources] def chunkFiles(spark: SparkSession, c: StoreConfig,
      levelPath: String): Seq[String] = {
    val fs = new Path(c.store).getFileSystem(spark.sessionState.newHadoopConf())
    val levelDir = fs.makeQualified(new Path(new Path(c.store), levelPath))
    val sep = "\\" + c.sep
    val key = ((if (c.v3) "c" + sep else "") + """\d+(""" + sep + """\d+){4}""").r
    // listStatus, not listFiles: a located status costs the local file
    // system one owner/permission lookup per file
    def walk(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.flatMap { s =>
      if (s.isDirectory) walk(s.getPath)
      else Seq(s.getPath.toString).filter(f => key.matches(f.stripPrefix(levelDir.toString + "/")))
    }
    walk(levelDir)
  }

  /**
   * Decode one chunk (or shard) FILE of store `c` into plane pieces
   * `(t, c, z, gy, gx, h, w, pixels)` — `gy/gx` the piece's top-left in
   * the full plane, `pixels` row-major h×w — the executor-side kernel of
   * the `omezarr` partition reader, which assembles each plane with
   * [[assemblePlane]]. A whole-plane chunk or a shard's inner chunk is a
   * piece that covers its plane.
   */
  private[sources] def decodeChunkFile(c: StoreConfig, p: String,
      raw: Array[Byte]): Seq[(Int, Int, Int, Int, Int, Int, Int, Array[Int])] = {
    val bpp = if (c.u1) 1 else 2

    // the pieces of one decoded C-order chunk of extents (eT, eC, eZ,
    // eY, eX) whose corner is plane (t0, c0, z0), pixel (gy, gx)
    def pieces(bytes: Array[Byte], t0: Int, c0: Int, z0: Int, gy: Int, gx: Int,
        eT: Int, eC: Int, eZ: Int, eY: Int, eX: Int) = {
      val n = eT * eC * eZ * eY * eX * bpp
      require(bytes.length >= n, s"Zarr chunk $p: ${bytes.length} bytes < $n")
      val h = math.min(eY, c.sy - gy)
      val w = math.min(eX, c.sx - gx)
      require(h > 0 && w > 0, s"Zarr chunk $p: grid cell outside array shape")
      val bb = ByteBuffer.wrap(bytes)
        .order(if (c.big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      for {
        dt <- 0 until eT
        dc <- 0 until eC
        dz <- 0 until eZ
        t = t0 + dt
        ch = c0 + dc
        z = z0 + dz
        if t < c.st && ch < c.sc && z < c.sz // edge-chunk padding
      } yield {
        val slabBase = ((dt * eC + dc) * eZ + dz) * eY * eX
        val px = new Array[Int](h * w)
        var r = 0
        while (r < h) {
          var q = 0
          while (q < w) {
            val idx = slabBase + r * eX + q
            px(r * w + q) =
              if (c.u1) bytes(idx) & 0xff else bb.getShort(idx * 2) & 0xffff
            q += 1
          }
          r += 1
        }
        (t, ch, z, gy, gx, h, w, px)
      }
    }

    val (tg, cg, zg, yg, xg) = chunkCoords(p)
    if (c.shardT == 0)
      pieces(decodeChunk(raw, c.comp, c.cT * c.cC * c.cZ * c.cY * c.cX * bpp),
        tg * c.cT, cg * c.cC, zg * c.cZ, yg * c.cY, xg * c.cX,
        c.cT, c.cC, c.cZ, c.cY, c.cX)
    else {
      // shard file: the index is n u64 (offset, nbytes) pairs in t-major
      // inner-grid order, missing chunks all-ones, optionally crc32c'd,
      // at end/start
      val n = c.shardT * c.shardC * c.shardZ
      val idxLen = n * 16 + (if (c.shardCrc) 4 else 0)
      require(raw.length >= idxLen, s"Zarr shard $p: no room for index")
      val idxOff = if (c.shardIdxEnd) raw.length - idxLen else 0
      val bb = ByteBuffer.wrap(raw).order(
        if (c.shardIdxBig) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      if (c.shardCrc) {
        val crc = new java.util.zip.CRC32C
        crc.update(raw, idxOff, n * 16)
        val stored = bb.getInt(idxOff + n * 16) & 0xffffffffL
        require(crc.getValue == stored,
          s"Zarr shard $p: index crc32c mismatch")
      }
      (0 until n).flatMap { i =>
        val off = bb.getLong(idxOff + i * 16)
        val len = bb.getLong(idxOff + i * 16 + 8)
        if (off == -1L && len == -1L) Seq.empty // missing -> fill
        else {
          require(off >= 0 && len > 0 && off + len <= raw.length,
            s"Zarr shard $p: inner chunk $i out of bounds ($off+$len)")
          val chunk = java.util.Arrays.copyOfRange(
            raw, off.toInt, (off + len).toInt)
          pieces(decodeChunk(chunk, c.comp, c.sy * c.sx * bpp),
            tg * c.shardT + i / (c.shardC * c.shardZ),
            cg * c.shardC + (i / c.shardZ) % c.shardC,
            zg * c.shardZ + i % c.shardZ, 0, 0, 1, 1, 1, c.sy, c.sx)
        }
      }
    }
  }

  /** All five chunk-GRID indices from a chunk path. */
  private[sources] def chunkCoords(path: String): (Int, Int, Int, Int, Int) = {
    val parts = path.split('/')
    val last = parts.last
    if (last.startsWith("c.")) { // v3 "." separator
      val n = last.split("\\.")
      (n(1).toInt, n(2).toInt, n(3).toInt, n(4).toInt, n(5).toInt)
    } else if (last.contains('.')) { // v2 "t.c.z.y.x"
      val n = last.split("\\.")
      (n(0).toInt, n(1).toInt, n(2).toInt, n(3).toInt, n(4).toInt)
    } else { // "/" separator: .../<t>/<c>/<z>/<y>/<x>
      val L = parts.length
      (parts(L - 5).toInt, parts(L - 4).toInt, parts(L - 3).toInt,
        parts(L - 2).toInt, parts(L - 1).toInt)
    }
  }

  /** Copy one plane's pieces `(gy, gx, h, w, px)` row by row into a
    * zero-initialized sy×sx plane (missing chunks stay fill_value 0). */
  private[sources] def assemblePlane(c: StoreConfig,
      pieces: Iterator[(Int, Int, Int, Int, Array[Int])]): Seq[Int] = {
    val out = new Array[Int](c.sy * c.sx)
    pieces.foreach { case (gy, gx, h, w, px) =>
      var r = 0
      while (r < h) {
        System.arraycopy(px, r * w, out, (gy + r) * c.sx + gx, w)
        r += 1
      }
    }
    out.toSeq
  }

  /**
   * Read one OME-Zarr image directory (level `levelPath`, default "0")
   * into a single canonical record — v2 or v3, auto-detected. This is the
   * `omezarr` source: `spark.read.format("omezarr").option("level", ..)`.
   */
  def read(spark: SparkSession, path: String, levelPath: String = "0"): DataFrame =
    spark.read.format("omezarr").option("level", levelPath).load(path)

  /** Read every `*.zarr` child of a directory, one record each (the same
    * `omezarr` scan as [[read]]: one store per partition). */
  def readAll(spark: SparkSession, dir: String, levelPath: String = "0"): DataFrame =
    read(spark, dir, levelPath)

  /**
   * METADATA-ONLY read of a corpus directory (or one store): canonical
   * records with correct id/name/pixels_meta and EMPTY `planes`, from the
   * stores' JSON documents alone — zero chunk files opened (Zarr keeps
   * metadata in sidecar JSON, so "describe an image lake" needs no pixel
   * I/O at all). This is the `omezarr` scan with `planes` pruned away;
   * errors surface at the first action.
   */
  def readMeta(spark: SparkSession, dir: String,
      levelPath: String = "0"): DataFrame = {
    val rec = col(OmeSchema.DefaultColumn)
    read(spark, dir, levelPath).select(struct(
      Seq("type", "version", "id", "name", "acquisition_datetime", "pixels_meta")
        .map(f => rec.getField(f).as(f)) :+
        array().cast(org.apache.spark.sql.types.ArrayType(OmeSchema.planeType))
          .as("planes"): _*).as(OmeSchema.DefaultColumn))
  }

  /** Configs for a path that is either one store or a corpus directory
    * of `*.zarr` stores — the `omezarr` planning entry. A store is told
    * by its own root metadata (`.zattrs`/`.zarray` or `zarr.json`), so
    * its root need not end in ".zarr". */
  private[sources] def storeConfigs(spark: SparkSession, path: String,
      levelPath: String): Seq[StoreConfig] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (Seq(".zattrs", ".zarray", "zarr.json").exists(m => fs.exists(new Path(root, m))))
      Seq(parseConfig(fs, path, levelPath))
    else {
      require(fs.exists(root), s"No such Zarr store: $path")
      val stores = fs.listStatus(root).filter(_.isDirectory)
        .map(_.getPath.toString).filter(_.endsWith(".zarr"))
      require(stores.nonEmpty, s"No .zarr stores under $path")
      stores.map(parseConfig(fs, _, levelPath)).toSeq
    }
  }

  /**
   * Canonical record from a store config plus decoded planes, zero-
   * filling the full (t,c,z) grid, t-major — the `omezarr` DataSourceV2
   * row path.
   */
  private[sources] def configToRecord(c: StoreConfig,
      decoded: Map[(Int, Int, Int), Seq[Int]],
      withPixels: Boolean): OmeArrowRecord = {
    val names =
      if (c.chans.length == c.sc) c.chans
      else (0 until c.sc).map(i => s"C$i")
    val channels = names.zipWithIndex.map { case (n, i) =>
      OmeChannel(s"ch-$i", n, Some(0.0f), Some(0.0f), Some("Unknown"),
        Some(0xFFFFFFFFL))
    }
    val zeros = Seq.fill(c.sy * c.sx)(0)
    val planes = for {
      t <- 0 until c.st; ch <- 0 until c.sc; z <- 0 until c.sz
    } yield OmePlane(z, t, ch.toShort,
      if (!withPixels) Seq.empty
      else decoded.getOrElse((t, ch, z), zeros))
    OmeArrowRecord(OmeSchema.TagType, OmeSchema.Version, c.stem, c.name,
      new Timestamp(0L),
      OmePixelsMeta(
        if (c.sz > 1) "XYZCT" else "XYCT", "uint16",
        c.sx, c.sy, c.sz, c.sc.toShort, c.st,
        Some(c.psx), Some(c.psy), Some(c.psz),
        Some("µm"), Some("µm"), Some("µm"), channels),
      planes)
  }

  private def readText(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    require(fs.exists(p), s"Missing $p")
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }
}
