package graft

import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.OmeOps
import graft.schema.Fixtures
import graft.sources.OmeZarr

/** `OmeZarr.write` against a plain-loop reference: every chunk file's
  * decompressed bytes (C order, zero padding, shard index offsets and
  * crc32c) and the set of files each store holds, on every chunk layout. */
class ZarrWriteSpec extends SparkSpec {

  private type Key = (String, Int, Int, Int) // (id, t, c, z)

  /** Level-0 planes of `Fixtures.corpus4d`, keyed by (id, t, c, z). */
  private lazy val level0: Map[Key, Array[Int]] =
    OmeOps.explodePlanes(Fixtures.corpus4d(spark))
      .select(col("image_id"), col("t"), col("c"), col("z"), col("pixels"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)) ->
        r.getSeq[Int](4).toArray).toMap

  /** 2x2 floor block mean with the degenerate-axis clamp, one plain loop
    * per output pixel. */
  private def halve(px: Array[Int], w: Int, h: Int): Array[Int] = {
    val nw = math.max(w / 2, 1); val nh = math.max(h / 2, 1)
    val dx = if (w >= 2) 1 else 0; val dy = if (h >= 2) 1 else 0
    Array.tabulate(nw * nh) { i =>
      val y = (i / nw) * 2; val x = (i % nw) * 2
      (px(y * w + x) + px(y * w + x + dx) + px((y + dy) * w + x) +
        px((y + dy) * w + x + dx)) / 4
    }
  }

  private def u16le(vs: Seq[Int]): Array[Byte] =
    vs.flatMap(v => Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)).toArray

  private def decompress(comp: String, raw: Array[Byte], n: Int): Array[Byte] =
    comp match {
      case "zlib" =>
        val inf = new java.util.zip.Inflater()
        inf.setInput(raw)
        val out = new Array[Byte](n)
        var k = 0
        while (!inf.finished()) {
          val m = inf.inflate(out, k, n - k)
          assert(m > 0 || !inf.needsInput(), "truncated zlib chunk")
          k += m
        }
        inf.end()
        out.take(k)
      case "gzip" =>
        new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(raw)).readAllBytes()
      case "zstd" => com.github.luben.zstd.Zstd.decompress(raw, n)
    }

  private case class Layout(name: String, v3: Boolean = false,
      comp: String = "zlib", chunks: Option[Seq[Int]] = None,
      shardZ: Boolean = false, levels: Int = 1)

  /** Store-relative path -> the decompressed payloads that file must hold
    * (one for a chunk, one per inner chunk for a shard), per image. */
  private def reference(l: Layout, id: String): Map[String, Seq[Array[Byte]]] = {
    val (st, sc, sz) = (2, 2, 2)
    var planes = level0.filter(_._1._1 == id).map { case ((_, t, c, z), px) => (t, c, z) -> px }
    var (sy, sx) = (8, 8)
    (0 until l.levels).flatMap { lv =>
      if (lv > 0) {
        planes = planes.map { case (k, px) => k -> halve(px, sx, sy) }
        sy = math.max(sy / 2, 1); sx = math.max(sx / 2, 1)
      }
      val Seq(ct, cc, cz, cy, cx) =
        l.chunks.getOrElse(Seq(1, 1, if (l.shardZ) sz else 1, sy, sx))
      def key(k: Seq[Int]): String =
        if (l.v3) s"$lv/c/" + k.mkString("/") else s"$lv/" + k.mkString(".")
      def cell(tg: Int, cg: Int, zg: Int, yg: Int, xg: Int): Array[Byte] = u16le(
        for {
          dt <- 0 until ct; dc <- 0 until cc; dz <- 0 until cz
          r <- 0 until cy; q <- 0 until cx
        } yield {
          val (t, c, z) = (tg * ct + dt, cg * cc + dc, zg * cz + dz)
          val (y, x) = (yg * cy + r, xg * cx + q)
          if (t < st && c < sc && z < sz && y < sy && x < sx) planes((t, c, z))(y * sx + x)
          else 0
        })
      for {
        tg <- 0 until (st + ct - 1) / ct; cg <- 0 until (sc + cc - 1) / cc
        zg <- 0 until (sz + cz - 1) / cz; yg <- 0 until (sy + cy - 1) / cy
        xg <- 0 until (sx + cx - 1) / cx
      } yield key(Seq(tg, cg, zg, yg, xg)) ->
        (if (l.shardZ) (0 until sz).map(z => u16le(planes((tg, cg, z)).toSeq))
         else Seq(cell(tg, cg, zg, yg, xg)))
    }.toMap
  }

  private def filesUnder(root: JPath): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).iterator().asScala.mkString("/")).toSet

  /** Check one written store against the reference. */
  private def checkStore(l: Layout, root: JPath, id: String): Unit = {
    val want = reference(l, id)
    val docs =
      if (l.v3) Set("zarr.json") ++ (0 until l.levels).map(lv => s"$lv/zarr.json")
      else Set(".zgroup", ".zattrs") ++ (0 until l.levels).map(lv => s"$lv/.zarray")
    assert(filesUnder(root) === docs ++ want.keySet, s"${l.name}: files of $id")
    val comp = if (l.v3 && l.comp == "zlib") "gzip" else l.comp
    for ((rel, payloads) <- want) {
      val raw = Files.readAllBytes(root.resolve(rel))
      if (!l.shardZ) {
        val got = decompress(comp, raw, payloads.head.length)
        assert(got.sameElements(payloads.head), s"${l.name}: $id/$rel")
      } else {
        // inner chunks back to back in z order, then n (offset, nbytes)
        // u64-LE pairs and the crc32c of those 16n bytes
        val n = payloads.length
        val idx = ByteBuffer.wrap(raw, raw.length - 16 * n - 4, 16 * n + 4)
          .order(ByteOrder.LITTLE_ENDIAN)
        val crc = new java.util.zip.CRC32C
        crc.update(raw, raw.length - 16 * n - 4, 16 * n)
        var off = 0L
        for (z <- 0 until n) {
          val (o, len) = (idx.getLong(), idx.getLong())
          assert(o === off, s"${l.name}: $id/$rel inner $z offset")
          val inner = java.util.Arrays.copyOfRange(raw, o.toInt, (o + len).toInt)
          assert(decompress(comp, inner, payloads(z).length).sameElements(payloads(z)),
            s"${l.name}: $id/$rel inner $z")
          off += len
        }
        assert(off + 16 * n + 4 === raw.length.toLong, s"${l.name}: $id/$rel length")
        assert((idx.getInt() & 0xffffffffL) === crc.getValue, s"${l.name}: $id/$rel crc32c")
      }
    }
  }

  private val layouts = Seq(
    Layout("v2 plane chunks"),
    Layout("v3 plane chunks", v3 = true),
    Layout("v2 grid [2,1,2,8,8]", chunks = Some(Seq(2, 1, 2, 8, 8))),
    Layout("v2 grid [1,1,2,4,8]", chunks = Some(Seq(1, 1, 2, 4, 8))),
    Layout("v3 grid [1,1,1,3,5]", v3 = true, comp = "zstd",
      chunks = Some(Seq(1, 1, 1, 3, 5))),
    Layout("v2 grid [1,1,1,16,16]", chunks = Some(Seq(1, 1, 1, 16, 16))),
    Layout("v3 shardZ", v3 = true, comp = "zstd", shardZ = true),
    Layout("v2 3-level pyramid", levels = 3))

  test("OmeZarr.write: every chunk file equals a plain-loop reference on every layout") {
    val ids = (0 until 4).map(i => f"i4d-$i%04d")
    for (l <- layouts) {
      val d = Files.createTempDirectory("zarr_write_ref")
      OmeZarr.write(Fixtures.corpus4d(spark), d.toString,
        multiscaleLevels = l.levels, compressor = l.comp,
        zarrFormat = if (l.v3) 3 else 2, shardZ = l.shardZ, chunks = l.chunks)
      assert(new java.io.File(d.toString).list().toSet === ids.map(_ + ".zarr").toSet,
        s"${l.name}: stores")
      ids.foreach(id => checkStore(l, d.resolve(s"$id.zarr"), id))
    }
    // a single-store target holds exactly its one record
    val d = Files.createTempDirectory("zarr_write_one")
    OmeZarr.write(Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0002"),
      s"$d/one.zarr", zarrFormat = 3, multiscaleLevels = 2)
    checkStore(Layout("v3 single store", v3 = true, levels = 2),
      d.resolve("one.zarr"), "i4d-0002")
  }

  test("Zarr writes of a chunk grid, a shardZ store and a 3-level pyramid do not shuffle") {
    val sc = spark.sparkContext
    val written = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val corpus = Fixtures.corpus4d(spark)
    def write(opts: (String => Unit)): Long = {
      org.apache.spark.graftmetrics.BusDrain.drain(sc)
      written.set(0L)
      opts(Files.createTempDirectory("zarr_write_noshuffle").toString)
      org.apache.spark.graftmetrics.BusDrain.drain(sc)
      written.get()
    }
    sc.addSparkListener(listener)
    try {
      assert(write(OmeZarr.write(corpus, _, chunks = Some(Seq(1, 1, 2, 4, 8)))) === 0L,
        "chunks grid")
      assert(write(OmeZarr.write(corpus, _, zarrFormat = 3, shardZ = true)) === 0L,
        "shardZ")
      assert(write(OmeZarr.write(corpus, _, multiscaleLevels = 3)) === 0L,
        "3-level pyramid")
    } finally sc.removeSparkListener(listener)
  }
}
