package graft.sources

import java.io.{ByteArrayInputStream, IOException}
import java.util.zip.{DataFormatException, Deflater, Inflater}

import org.tukaani.xz.{LZMAInputStream, XZInputStream}

/** The codecs the TIFF, Zarr and Blosc readers and writers share, one
  * path each: zlib deflate and inflate (JDK) and XZ / LZMA-alone decode
  * (xz-java, shipped in Spark's jars). Every decoder takes the caller's
  * output bound and refuses a stream that holds more. */
private[graft] object Codecs {
  def deflate(data: Array[Byte], level: Int = 6): Array[Byte] = {
    val d = new Deflater(level, false)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val tmp = new Array[Byte](16384)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  /** Inflate the zlib stream in `src[off, off + len)` to at most `cap`
    * bytes. The buffer grows from a guess up to `cap`, never past it; a
    * stream holding more than `cap` bytes, a truncated one and a corrupt
    * one raise `IllegalArgumentException`. */
  def inflate(src: Array[Byte], off: Int, len: Int, cap: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(src, off, len)
    var out = new Array[Byte](math.min(cap, math.max(64L, 4L * len)).toInt)
    val probe = new Array[Byte](1) // at the cap: the stream's end, or more?
    var n = 0
    try {
      while (!inf.finished()) {
        if (n == out.length && n < cap)
          out = java.util.Arrays.copyOf(out, math.min(cap, 2L * n).toInt)
        val k = if (n < out.length) inf.inflate(out, n, out.length - n) else inf.inflate(probe)
        require(n < out.length || k == 0, s"zlib: stream inflates past its bound of $cap bytes")
        if (k == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new IllegalArgumentException("zlib: truncated stream")
        n += k
      }
    } catch { case e: DataFormatException =>
      throw new IllegalArgumentException(s"zlib: ${e.getMessage}", e)
    } finally inf.end()
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  // liblzma's presets 0-9 use at most a 64 MiB dictionary; this limit
  // (KiB) admits all of them, so a hostile header cannot demand more
  private val LzmaMemoryLimitKiB = 72 * 1024

  /** Decode an XZ stream (sniffed by its magic; what tifffile and
    * numcodecs write through liblzma) or an LZMA-alone stream to at most
    * `maxOut` bytes. XZ integrity checks are verified; corrupt,
    * truncated and over-long streams raise `IllegalArgumentException`. */
  def lzmaDecode(src: Array[Byte], maxOut: Int): Array[Byte] = {
    val xz = src.length >= 6 && (src(0) & 0xff) == 0xfd && src(1) == '7' &&
      src(2) == 'z' && src(3) == 'X' && src(4) == 'Z' && src(5) == 0
    val out =
      try {
        val bytes = new ByteArrayInputStream(src)
        val in =
          if (xz) new XZInputStream(bytes, LzmaMemoryLimitKiB)
          else new LZMAInputStream(bytes, LzmaMemoryLimitKiB)
        try in.readNBytes(math.min(maxOut + 1L, Int.MaxValue).toInt)
        finally in.close()
      } catch { case e: IOException =>
        throw new IllegalArgumentException(s"lzma: ${e.getMessage}", e)
      }
    require(out.length <= maxOut, s"lzma: output exceeds bound of $maxOut bytes")
    out
  }
}
