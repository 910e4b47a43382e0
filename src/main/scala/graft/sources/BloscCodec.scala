package graft.sources

/**
 * Self-contained Blosc-1 chunk codec (decode + encode).
 *
 * Real-world OME-Zarr overwhelmingly uses Blosc (the reference writes it
 * by default through numcodecs / zarr v3, export.py:265–289), so reads
 * must understand the frame format. Implemented from the public c-blosc
 * format documentation (BLOSC format spec v1):
 *
 *   header (16 bytes):
 *     0 version | 1 versionlz | 2 flags | 3 typesize
 *     4..7  nbytes   (LE, uncompressed size)
 *     8..11 blocksize(LE)
 *     12..15 cbytes  (LE, total frame size incl. header)
 *   flags: bit0 byte-shuffle, bit1 memcpyed, bit2 bit-shuffle,
 *          bits5..7 codec (0 blosclz, 1 lz4/lz4hc, 2 snappy, 3 zlib, 4 zstd)
 *   body (when not memcpyed): int32 LE offset per block ("bstarts",
 *     relative to frame start), then per block 1..nsplits streams of
 *     [int32 LE csize][payload]; csize == neblock marks a stored-raw
 *     stream. c-blosc derives the split count from (codec, typesize,
 *     blocksize) at decode time; we discover it by trial, trying the
 *     real writers' policy first (blosclz/lz4 split into typesize
 *     streams, zlib/zstd/snappy never split) so the ambiguous
 *     wrong-policy-parses case cannot arise for conformant frames.
 *
 * Codecs: lz4 (lz4-java), zstd (zstd-jni) and snappy (snappy-java),
 * all bundled with Spark; zlib (the shared JDK inflate in [[Codecs]]);
 * blosclz (hand-written decode per c-blosc's public FastLZ-derived
 * format, which no shipped jar implements — c-blosc's own default
 * codec, so third-party NGFF stores need it) — together covering every
 * codec the reference's numcodecs path emits (export.py:265–289; its
 * default is zstd) plus c-blosc's writer default.
 *
 * Shuffles: byte-shuffle and bit-shuffle, both per c-blosc semantics
 * (applied per block; trailing bytes that don't fill a full element
 * group are copied unshuffled).
 */
object BloscCodec {

  private val FlagByteShuffle = 0x1
  private val FlagMemcpy = 0x2
  private val FlagBitShuffle = 0x4

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def putLeInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  // --- decode ----------------------------------------------------------

  /** Decompress one Blosc frame to its `nbytes` payload. `maxOut` caps
    * the output allocation — callers that know the expected payload size
    * (e.g. a Zarr chunk's plane byte count) should pass it, so a hostile
    * header can't demand gigabytes before any payload is parsed. */
  def decompress(frame: Array[Byte], maxOut: Int = Int.MaxValue): Array[Byte] = {
    require(frame.length >= 16, s"Blosc: frame of ${frame.length} bytes has no header")
    val flags = frame(2) & 0xff
    val typesize = math.max(frame(3) & 0xff, 1)
    val nbytes = leInt(frame, 4)
    val blocksize = leInt(frame, 8)
    val cbytes = leInt(frame, 12)
    require(nbytes >= 0 && cbytes >= 16 && cbytes <= frame.length,
      s"Blosc: header sizes inconsistent (nbytes=$nbytes cbytes=$cbytes len=${frame.length})")
    require(nbytes <= maxOut,
      s"Blosc: frame declares $nbytes bytes, caller expects at most $maxOut")
    if (nbytes == 0) return Array.emptyByteArray
    if ((flags & FlagMemcpy) != 0) {
      require(cbytes == nbytes + 16, s"Blosc: memcpy frame size mismatch")
      return java.util.Arrays.copyOfRange(frame, 16, 16 + nbytes)
    }
    require(blocksize > 0, "Blosc: zero blocksize in compressed frame")
    val codec = (flags >> 5) & 0x7
    // Long arithmetic: a hostile blocksize near Int.MaxValue would
    // overflow the Int sum to nblocks=0 and "decode" silent zeros
    val nblocks = ((nbytes.toLong + blocksize - 1) / blocksize).toInt
    require(nblocks >= 1 && nblocks.toLong * blocksize >= nbytes,
      s"Blosc: blocksize $blocksize inconsistent with nbytes $nbytes")
    require(16 + 4 * nblocks <= cbytes, "Blosc: truncated bstarts table")
    val out = new Array[Byte](nbytes)
    var b = 0
    while (b < nblocks) {
      val bstart = leInt(frame, 16 + 4 * b)
      require(bstart >= 16 && bstart < cbytes, s"Blosc: bad block offset $bstart")
      val bsize = math.min(blocksize, nbytes - b * blocksize)
      val block = decodeBlock(frame, bstart, bsize, typesize, codec)
      val plain =
        if ((flags & FlagBitShuffle) != 0) bitUnshuffle(block, typesize)
        else if ((flags & FlagByteShuffle) != 0) byteUnshuffle(block, typesize)
        else block
      System.arraycopy(plain, 0, out, b * blocksize, bsize)
      b += 1
    }
    out
  }

  /** Decode one block's split streams. c-blosc's split policy varied
    * across versions, so the count is discovered by trial — but ordered
    * by what real writers do: blosclz/lz4 frames are split into
    * `typesize` streams (forward-compat policy), zlib/zstd/snappy are
    * never split. Trying the likely policy first avoids the ambiguous
    * case where the wrong policy happens to parse. */
  private def decodeBlock(frame: Array[Byte], off: Int, bsize: Int,
      typesize: Int, codec: Int): Array[Byte] = {
    val splitFirst = codec == 0 || codec == 1 // blosclz, lz4
    val candidates =
      if (typesize > 1 && bsize % typesize == 0)
        (if (splitFirst) Seq(typesize, 1) else Seq(1, typesize))
      else Seq(1)
    var lastErr: Throwable = null
    candidates.foreach { ns =>
      try return decodeStreams(frame, off, bsize, ns, codec)
      catch { case e: Exception => lastErr = e }
    }
    throw new IllegalArgumentException(
      s"Blosc: block at $off undecodable with any split policy", lastErr)
  }

  private def decodeStreams(frame: Array[Byte], off0: Int, bsize: Int,
      nsplits: Int, codec: Int): Array[Byte] = {
    val neblock = bsize / nsplits
    val out = new Array[Byte](bsize)
    var off = off0
    var s = 0
    while (s < nsplits) {
      require(off + 4 <= frame.length, "Blosc: truncated stream header")
      val cb = leInt(frame, off); off += 4
      require(cb > 0 && off + cb <= frame.length,
        s"Blosc: stream of $cb bytes overruns frame")
      if (cb == neblock) {
        System.arraycopy(frame, off, out, s * neblock, neblock)
      } else codec match {
        case 1 => lz4Decode(frame, off, cb, out, s * neblock, neblock)
        case 3 => zlibInflate(frame, off, cb, out, s * neblock, neblock)
        case 2 => snappyUncompress(frame, off, cb, out, s * neblock, neblock)
        case 4 => zstdDecompress(frame, off, cb, out, s * neblock, neblock)
        case 0 => blosclzDecompress(frame, off, cb, out, s * neblock, neblock)
        case other => throw new IllegalArgumentException(
          s"Blosc: unknown codec id $other")
      }
      off += cb
      s += 1
    }
    out
  }

  /**
   * blosclz stream decode (c-blosc's FastLZ-derived block format, from
   * the public blosclz.c semantics):
   *
   *  - first byte: `ctrl & 31` = initial literal-run length - 1 (the
   *    stream always opens with literals);
   *  - ctrl < 32: literal run of `ctrl + 1` bytes follows verbatim;
   *  - ctrl >= 32: match of `(ctrl >> 5) + 2` bytes (a top field of 7
   *    adds 255-continued extension bytes) at distance
   *    `((ctrl & 31) << 8) + code + 1` where `code` is the next byte;
   *    `code == 255 && (ctrl & 31) == 31` escapes to a 16-bit
   *    big-endian long distance d16, giving distance `d16 + 8192`;
   *  - distance 1 with the source overlapping the cursor degenerates to
   *    RLE of the previous byte (byte-at-a-time copy semantics).
   */
  private[graft] def blosclzDecompress(src: Array[Byte], srcOff: Int,
      srcLen: Int, dst: Array[Byte], dstOff: Int, dstLen: Int): Unit = {
    require(srcLen > 0, "blosclz: empty stream")
    var s = srcOff
    val end = srcOff + srcLen
    var d = dstOff
    val dEnd = dstOff + dstLen
    var ctrl = src(s) & 31; s += 1
    var done = false
    while (!done) {
      if (ctrl >= 32) {
        var len = (ctrl >> 5) - 1
        val ofs = (ctrl & 31) << 8
        if (len == 6) { // top field 7: 255-continued extension
          var code = 0xff
          while (code == 0xff) {
            require(s < end, "blosclz: truncated match length")
            code = src(s) & 0xff; s += 1; len += code
          }
        }
        require(s < end, "blosclz: truncated match distance")
        val code = src(s) & 0xff; s += 1
        len += 3
        var dist = ofs + code
        if (code == 0xff && ofs == (31 << 8)) {
          require(s + 2 <= end, "blosclz: truncated long distance")
          dist = ((src(s) & 0xff) << 8) | (src(s + 1) & 0xff); s += 2
          dist += 8191 // MAX_DISTANCE
        }
        val ref = d - dist - 1
        require(ref >= dstOff, s"blosclz: match distance ${dist + 1} " +
          "reaches before block start")
        require(d + len <= dEnd, "blosclz: match overruns block")
        var i = 0 // byte-at-a-time: overlapping matches (RLE) by design
        while (i < len) { dst(d + i) = dst(ref + i); i += 1 }
        d += len
      } else {
        val len = ctrl + 1
        require(s + len <= end, "blosclz: truncated literal run")
        require(d + len <= dEnd, "blosclz: literal run overruns block")
        System.arraycopy(src, s, dst, d, len)
        s += len; d += len
      }
      if (s < end) { ctrl = src(s) & 0xff; s += 1 } else done = true
    }
    require(d == dEnd,
      s"blosclz: decoded ${d - dstOff} bytes, expected $dstLen")
  }

  /** Minimal CONFORMANT blosclz encoder: literal runs plus RLE matches
    * (distance 1 self-reference). This is not c-blosc's match finder —
    * just valid format for the write path and the decoder's tests; RLE
    * is the dominant redundancy in shuffled pixel lanes anyway. */
  private[graft] def blosclzCompress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 8)
    val n = data.length
    var i = 0
    var litStart = 0
    def flushLits(): Unit = {
      var st = litStart
      while (st < i) {
        val run = math.min(i - st, 32)
        out.write(run - 1)
        out.write(data, st, run)
        st += run
      }
      litStart = i
    }
    while (i < n) {
      var run = 0
      if (i > 0) {
        var j = i
        while (j < n && data(j) == data(i - 1)) j += 1
        run = j - i
      }
      if (run >= 3) {
        flushLits()
        if (run <= 8) { // short match: top field 1..6, distance code 0
          out.write((run - 2) << 5)
          out.write(0)
        } else { // top field 7 + 255-continued extension, then distance
          out.write(7 << 5)
          var rem = run - 9
          while (rem >= 255) { out.write(255); rem -= 255 }
          out.write(rem)
          out.write(0)
        }
        i += run
        litStart = i
      } else i += 1
    }
    flushLits()
    out.toByteArray
  }

  /** Raw-zstd-frame stream decode (zstd-jni ships in Spark's jars). The
    * destination length is fixed by the split geometry, so the native
    * call is inherently bounded — a hostile frame cannot over-expand. */
  private def zstdDecompress(src: Array[Byte], off: Int, len: Int,
      dst: Array[Byte], dstOff: Int, dstLen: Int): Unit = {
    import com.github.luben.zstd.Zstd
    val rc = Zstd.decompressByteArray(dst, dstOff, dstLen, src, off, len)
    if (Zstd.isError(rc))
      throw new IllegalArgumentException(s"Blosc: zstd: ${Zstd.getErrorName(rc)}")
    require(rc == dstLen,
      s"Blosc: zstd stream decoded $rc bytes, expected $dstLen")
  }

  /** Raw-snappy-block stream decode (snappy-java ships in Spark's jars). */
  private def snappyUncompress(src: Array[Byte], off: Int, len: Int,
      dst: Array[Byte], dstOff: Int, dstLen: Int): Unit = {
    val n =
      try org.xerial.snappy.Snappy.uncompress(src, off, len, dst, dstOff)
      catch { case e: java.io.IOException =>
        throw new IllegalArgumentException(s"Blosc: snappy: ${e.getMessage}", e)
      }
    require(n == dstLen,
      s"Blosc: snappy stream decoded $n bytes, expected $dstLen")
  }

  // lz4-java's safe decoder: bounds-checked, and it refuses a block that
  // breaks the spec's end-of-block rule (a last sequence with a match)
  private def lz4Decode(src: Array[Byte], off: Int, len: Int,
      dst: Array[Byte], dstOff: Int, dstLen: Int): Unit = {
    val n = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().safeDecompressor()
      .decompress(src, off, len, dst, dstOff, dstLen)
    require(n == dstLen, s"Blosc: lz4 stream decoded $n bytes, expected $dstLen")
  }

  // a stream holding MORE than dstLen means the split guess cut a larger
  // stream in half; the bounded inflate refuses it so the caller flips
  // the candidate
  private def zlibInflate(src: Array[Byte], off: Int, len: Int,
      dst: Array[Byte], dstOff: Int, dstLen: Int): Unit = {
    val plain = Codecs.inflate(src, off, len, dstLen)
    require(plain.length == dstLen,
      s"Blosc: zlib stream decoded ${plain.length} bytes, expected $dstLen")
    System.arraycopy(plain, 0, dst, dstOff, dstLen)
  }

  // --- shuffles --------------------------------------------------------

  /** Inverse byte shuffle: input is lane-major (all first bytes of each
    * element, then all second bytes, ...); trailing bytes that don't
    * fill a whole element are stored unshuffled. */
  private[graft] def byteUnshuffle(in: Array[Byte], typesize: Int): Array[Byte] = {
    if (typesize <= 1) return in
    val nelem = in.length / typesize
    val out = new Array[Byte](in.length)
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < nelem) {
        out(i * typesize + j) = in(j * nelem + i)
        i += 1
      }
      j += 1
    }
    val tail = nelem * typesize
    System.arraycopy(in, tail, out, tail, in.length - tail)
    out
  }

  private[graft] def byteShuffle(in: Array[Byte], typesize: Int): Array[Byte] = {
    if (typesize <= 1) return in
    val nelem = in.length / typesize
    val out = new Array[Byte](in.length)
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < nelem) {
        out(j * nelem + i) = in(i * typesize + j)
        i += 1
      }
      j += 1
    }
    val tail = nelem * typesize
    System.arraycopy(in, tail, out, tail, in.length - tail)
    out
  }

  /** Bit shuffle (c-blosc / bitshuffle-library layout): elements are
    * processed in groups of 8; output bit lane `j*8+k` (byte j of the
    * element, bit k LSB-first) holds one bit per element, elements
    * packed LSB-first. Elements past the last full group of 8, and any
    * trailing partial element, are copied unshuffled. */
  private[graft] def bitShuffle(in: Array[Byte], typesize: Int): Array[Byte] = {
    val ts = math.max(typesize, 1)
    val nelem = in.length / ts
    val n8 = nelem - (nelem % 8)
    val out = new Array[Byte](in.length)
    val laneBytes = n8 / 8
    if (laneBytes > 0) {
      var j = 0
      while (j < ts) {
        var k = 0
        while (k < 8) {
          val lane = (j * 8 + k) * laneBytes
          var g = 0
          while (g < laneBytes) {
            var bt = 0
            var e = 0
            while (e < 8) {
              val bit = (in((g * 8 + e) * ts + j) >> k) & 1
              bt |= bit << e
              e += 1
            }
            out(lane + g) = bt.toByte
            g += 1
          }
          k += 1
        }
        j += 1
      }
    }
    val tail = n8 * ts
    System.arraycopy(in, tail, out, tail, in.length - tail)
    out
  }

  private[graft] def bitUnshuffle(in: Array[Byte], typesize: Int): Array[Byte] = {
    val ts = math.max(typesize, 1)
    val nelem = in.length / ts
    val n8 = nelem - (nelem % 8)
    val out = new Array[Byte](in.length)
    val laneBytes = n8 / 8
    if (laneBytes > 0) {
      var j = 0
      while (j < ts) {
        var k = 0
        while (k < 8) {
          val lane = (j * 8 + k) * laneBytes
          var g = 0
          while (g < laneBytes) {
            val bt = in(lane + g) & 0xff
            var e = 0
            while (e < 8) {
              if (((bt >> e) & 1) != 0)
                out((g * 8 + e) * ts + j) = (out((g * 8 + e) * ts + j) | (1 << k)).toByte
              e += 1
            }
            g += 1
          }
          k += 1
        }
        j += 1
      }
    }
    val tail = n8 * ts
    System.arraycopy(in, tail, out, tail, in.length - tail)
    out
  }

  // --- encode ----------------------------------------------------------

  /**
   * Produce a Blosc frame. `cname`: "zlib" (JDK deflate), "zstd"
   * (zstd-jni, level 3 — numcodecs' default codec+level,
   * export.py:265–289), or "lz4" (real block compression via lz4-java).
   * `shuffle`: 0 none, 1 byte, 2 bit. One block per frame (blocksize =
   * nbytes), single stream per block — a split policy no c-blosc decoder
   * rejects for the non-split codecs, the interop write default.
   */
  def compress(data: Array[Byte], typesize: Int,
      cname: String = "zlib", shuffle: Int = 1): Array[Byte] = {
    val codec = cname match {
      case "zlib" => 3
      case "lz4" => 1
      case "zstd" => 4
      case "blosclz" => 0
      case other => throw new IllegalArgumentException(
        s"BloscCodec.compress: cname '$other' unsupported (zlib/lz4/zstd/blosclz)")
    }
    val shuffled = shuffle match {
      case 0 => data
      case 1 => byteShuffle(data, typesize)
      case 2 => bitShuffle(data, typesize)
      case other => throw new IllegalArgumentException(
        s"BloscCodec.compress: shuffle $other unsupported (0/1/2)")
    }
    val payload = codec match {
      case 3 => zlibDeflate(shuffled)
      case 1 => lz4Compress(shuffled)
      case 4 => com.github.luben.zstd.Zstd.compress(shuffled, 3)
      case 0 => blosclzCompress(shuffled)
    }
    // stored-raw marker is csize == neblock; a payload that happens to
    // land exactly there must fall back to the raw form
    val (body, bodyLen) =
      if (payload.length == data.length) (shuffled, data.length)
      else (payload, payload.length)
    val frame = new Array[Byte](16 + 4 + 4 + bodyLen)
    frame(0) = 2 // format version
    frame(1) = 1
    val shuffleFlag = shuffle match {
      case 1 => FlagByteShuffle; case 2 => FlagBitShuffle; case _ => 0
    }
    frame(2) = (shuffleFlag | (codec << 5)).toByte
    frame(3) = (typesize & 0xff).toByte
    putLeInt(frame, 4, data.length)
    putLeInt(frame, 8, data.length) // one block
    putLeInt(frame, 12, frame.length)
    putLeInt(frame, 16, 20) // bstarts[0]
    putLeInt(frame, 20, bodyLen)
    System.arraycopy(body, 0, frame, 24, bodyLen)
    frame
  }

  private def zlibDeflate(data: Array[Byte]): Array[Byte] = Codecs.deflate(data)

  /** Real LZ4 block compression (lz4-java ships in Spark's jars; its
    * block output is exactly the public LZ4 block format our decoder
    * reads). The pure-Java instance avoids native-lib loading in tests. */
  private def lz4Compress(data: Array[Byte]): Array[Byte] =
    net.jpountz.lz4.LZ4Factory.fastestJavaInstance()
      .fastCompressor().compress(data, 0, data.length)

}
