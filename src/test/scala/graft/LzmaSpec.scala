package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Codecs

/**
 * Golden tests for the XZ/LZMA decode path (xz-java behind
 * `Codecs.lzmaDecode`) against streams produced by REAL liblzma (python
 * stdlib `lzma`, fixtures checked in under src/test/resources/lzma) — a
 * true third-party golden, unlike a round-trip through our own code.
 */
class LzmaSpec extends AnyFunSuite {

  private val dir = "/root/repo/src/test/resources/lzma"

  private def bytes(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(dir, name))

  private val cases =
    Seq("empty", "run", "text", "random", "pixels", "repeats", "big")

  test("xz streams from liblzma decode byte-exact") {
    cases.foreach { name =>
      val raw = bytes(s"$name.raw")
      val out = Codecs.lzmaDecode(bytes(s"$name.xz"), math.max(raw.length, 1))
      assert(out.toSeq === raw.toSeq, name)
    }
  }

  test("lzma-alone streams from liblzma decode byte-exact") {
    cases.foreach { name =>
      val raw = bytes(s"$name.raw")
      // alone declares unknown size -> decode runs to the end marker
      // under the caller's bound
      val out = Codecs.lzmaDecode(bytes(s"$name.alone"), raw.length)
      assert(out.toSeq === raw.toSeq, name)
    }
  }

  test("non-default lc/lp/pb properties decode (lc=0 lp=2 pb=1)") {
    val raw = bytes("props_lp2.raw")
    assert(Codecs.lzmaDecode(bytes("props_lp2.xz"), raw.length).toSeq
      === raw.toSeq)
  }

  test("all liblzma check types are verified (none/crc64/sha256)") {
    for (name <- Seq("check_none", "text", "check_sha256")) {
      val raw = bytes(s"$name.raw")
      assert(Codecs.lzmaDecode(bytes(s"$name.xz"), raw.length).toSeq
        === raw.toSeq, name)
    }
    // a flipped byte in the stored check itself (just before the index,
    // whose size the 12-byte stream footer records) must be refused
    for (name <- Seq("text", "check_sha256")) {
      val x = bytes(s"$name.xz")
      val f = x.length - 8 // footer's backward-size field
      val indexSize = (((x(f) & 0xff) | (x(f + 1) & 0xff) << 8) + 1) * 4
      val idx = x.length - 12 - indexSize - 1 // last check byte
      x(idx) = (x(idx) ^ 0x55).toByte
      intercept[IllegalArgumentException] { Codecs.lzmaDecode(x, 1 << 20) }
    }
  }

  test("output bound is enforced against over-long streams") {
    for (name <- Seq("text.xz", "text.alone")) {
      val ex = intercept[IllegalArgumentException] {
        Codecs.lzmaDecode(bytes(name), 10)
      }
      assert(ex.getMessage.contains("bound"), name)
    }
  }

  test("hostile/garbage bytes terminate with a clean error") {
    val rnd = new scala.util.Random(7L)
    for (n <- Seq(0, 5, 13, 64, 500)) {
      val junk = new Array[Byte](n)
      rnd.nextBytes(junk)
      intercept[IllegalArgumentException] {
        Codecs.lzmaDecode(junk, 1 << 16)
      }
      // with a valid XZ magic but corrupted body: refused, or the payload
      if (n >= 20) {
        val raw = bytes("text.raw")
        val x = bytes("text.xz")
        for (_ <- 0 until 8) x(12 + rnd.nextInt(x.length - 24)) =
          rnd.nextInt(256).toByte
        try assert(Codecs.lzmaDecode(x, 1 << 20).toSeq === raw.toSeq)
        catch { case _: IllegalArgumentException => () }
      }
    }
  }

  test("seeded corruptions and truncations of every golden are refused " +
      "or decode byte-exact") {
    val goldens = cases.flatMap(c => Seq(s"$c.xz", s"$c.alone")) ++
      Seq("props_lp2.xz", "check_none.xz", "check_sha256.xz")
    goldens.foreach { name =>
      val src = bytes(name)
      val raw = bytes(name.takeWhile(_ != '.') + ".raw").toSeq
      val bound = math.max(raw.length, 1)
      // .alone and check_none.xz carry no integrity check: a corruption
      // there may decode to other bytes, but only under the bound
      val checked = name.endsWith(".xz") && name != "check_none.xz"
      def refusedOrExact(x: Array[Byte], what: String, exact: Boolean): Unit =
        try {
          val out = Codecs.lzmaDecode(x, bound)
          assert(!exact || out.toSeq == raw, s"$name $what decoded other bytes")
        } catch { case _: IllegalArgumentException => () }
      val rnd = new scala.util.Random(name.hashCode.toLong)
      for (_ <- 0 until 200) {
        val x = src.clone()
        val pos = rnd.nextInt(x.length)
        x(pos) = (x(pos) ^ (1 + rnd.nextInt(255))).toByte
        refusedOrExact(x, s"byte $pos", checked)
      }
      for (len <- 0 until src.length if len < 64 || len % 97 == 0 || len > src.length - 64)
        refusedOrExact(java.util.Arrays.copyOf(src, len), s"length $len", exact = true)
    }
  }

  test("an LZMA-alone header declaring a 1.5 GiB dictionary is refused " +
      "by the memory limit") {
    // props 0x5d (lc=3 lp=0 pb=2), dictionary 0x60000000, unknown size
    val hdr = Array[Byte](0x5d, 0, 0, 0, 0x60) ++ Array.fill[Byte](8)(-1) ++
      Array.fill[Byte](32)(0)
    val ex = intercept[IllegalArgumentException] { Codecs.lzmaDecode(hdr, 1 << 16) }
    assert(ex.getCause.isInstanceOf[org.tukaani.xz.MemoryLimitException])
  }

  test("a numcodecs-style lzma Zarr v2 store decodes (liblzma chunk)") {
    // fixture chunk is real liblzma XZ output; needs a Spark session
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    val df = graft.sources.OmeZarr.read(spark,
      "/root/repo/src/test/resources/lzma_zarr/pad.zarr")
    val px = df.select(org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.col("ome_arrow.planes"), 1)
        .getField("pixels"))
      .collect()(0).getSeq[Int](0)
    assert(px === (0 until 24).map(_ * 31))
  }

  test("a real LZMA-compressed TIFF (compression 34925) decodes") {
    val tif = bytes("gray16_lzma.tif")
    val raw = bytes("gray16_lzma.raw")
    val pages = graft.sources.TiffCodec.decode(tif)
    assert(pages.length === 1)
    val p = pages.head
    assert(p.width === 64 && p.height === 48 && p.bitsPerSample === 16)
    val expected = Array.tabulate(64 * 48)(i =>
      ((raw(i * 2) & 0xff) | ((raw(i * 2 + 1) & 0xff) << 8)))
    assert(p.pixels.toSeq === expected.toSeq)
  }
}
