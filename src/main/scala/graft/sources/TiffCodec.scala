package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/**
 * Minimal self-contained TIFF codec (SURVEY.md §7.5) for the subset the
 * reference corpus needs (reference: ingest.py:293-400 reads via BioIO;
 * export.py:116-228 writes via tifffile with zlib default):
 *
 *  - classic TIFF (II/MM), strip- OR tile-organized (tags 322-325),
 *    grayscale 8/16-bit, 1 sample/pixel, uncompressed, Deflate/zlib
 *    (codes 8 and 32946), PackBits (32773) or LZW (5, TIFF 6.0 §13
 *    early-change variant — the classic microscopy codec) — decode
 *    and encode;
 *  - BigTIFF (magic 43: 8-byte offsets, 20-byte IFD entries, LONG8
 *    types — the public spec, what large microscopy writers emit past
 *    4 GiB) — decode;
 *  - multi-page (IFD chain) -> multiple planes;
 *  - RGB(A) (PhotometricInterpretation 2, 3/4 samples, chunky AND
 *    planar configurations, strips or tiles) — each sample becomes a
 *    channel plane, the OME convention for brightfield color data
 *    (the reference accepts these via BioIO, ingest.py:293-400);
 *  - palette color (PhotometricInterpretation 3): indices expand
 *    through the 16-bit ColorMap (tag 320) into R/G/B channel planes;
 *  - LZMA (34925, liblzma XZ as tifffile writes it) — decode only;
 *  - `ImageDescription` carried verbatim so OME-XML sizes can be parsed.
 *
 * Floating-point predictor 3 and jpegxl are out of scope and raise clear
 * errors (horizontal predictor 2 IS undone on strips, per-sample for
 * chunky RGB). Deflate and LZMA decode through the shared [[Codecs]]
 * (JDK zlib, xz-java from Spark's jars); LZW and PackBits are written
 * here, since no shipped jar implements them. Pure JVM — usable inside
 * executor tasks.
 */
object TiffCodec {

  /**
   * Random-access byte source for the IFD walk. The decoder only ever
   * touches the 8-byte header, the IFD chain, out-of-line tag value
   * areas, and (when pixels are wanted) the strip/tile payloads — so a
   * metadata-only decode against [[PagedTiffData]] performs positioned
   * reads of just those ranges instead of pulling the whole file
   * (ADVICE r5: makes "100 TB metadata analytics is a header scan"
   * true for I/O, not only CPU). Byte order is sniffed from the header
   * by the decoder and set once via `setOrder`.
   */
  sealed trait TiffData {
    def length: Long
    def get(off: Long): Byte
    def slice(off: Long, len: Int): Array[Byte]
    private var ord: ByteOrder = ByteOrder.LITTLE_ENDIAN
    final def setOrder(o: ByteOrder): Unit = ord = o
    final def order: ByteOrder = ord
    final def getU8(off: Long): Int = get(off) & 0xff
    final def getShort(off: Long): Short = {
      val a = getU8(off); val b = getU8(off + 1)
      (if (ord == ByteOrder.LITTLE_ENDIAN) (b << 8) | a else (a << 8) | b).toShort
    }
    final def getInt(off: Long): Int = {
      val a = getU8(off); val b = getU8(off + 1)
      val c = getU8(off + 2); val d = getU8(off + 3)
      if (ord == ByteOrder.LITTLE_ENDIAN) (d << 24) | (c << 16) | (b << 8) | a
      else (a << 24) | (b << 16) | (c << 8) | d
    }
    final def getLong(off: Long): Long = {
      val lo = getInt(off).toLong & 0xffffffffL
      val hi = getInt(off + 4).toLong & 0xffffffffL
      if (ord == ByteOrder.LITTLE_ENDIAN) (hi << 32) | lo else (lo << 32) | hi
    }
  }

  /** Whole file already in memory (the pixel-decoding reads). */
  final class ArrayTiffData(val bytes: Array[Byte]) extends TiffData {
    def length: Long = bytes.length
    def get(off: Long): Byte = bytes(off.toInt)
    def slice(off: Long, len: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
  }

  /**
   * Demand-paged positioned reads: `readAt(pos, buf, bufOff, n)` fills
   * from an underlying seekable stream; pages are fetched once and
   * cached for the life of the decode. `pagesRead` exposes the I/O
   * actually performed (tested: a metadata decode touches a small
   * constant number of pages regardless of pixel payload size).
   */
  final class PagedTiffData(
      readAt: (Long, Array[Byte], Int, Int) => Unit,
      val length: Long, pageSize: Int = 1 << 16) extends TiffData {
    require(pageSize > 0, "pageSize must be positive")
    private val pages = scala.collection.mutable.LongMap.empty[Array[Byte]]
    var pagesRead: Int = 0
    private def page(i: Long): Array[Byte] = pages.getOrElseUpdate(i, {
      val start = i * pageSize
      val n = math.min(pageSize.toLong, length - start).toInt
      val a = new Array[Byte](n)
      readAt(start, a, 0, n)
      pagesRead += 1
      a
    })
    def get(off: Long): Byte = {
      require(off >= 0 && off < length,
        s"TIFF: read at $off outside file of $length bytes")
      page(off / pageSize)((off % pageSize).toInt)
    }
    def slice(off: Long, len: Int): Array[Byte] = {
      require(off >= 0 && len >= 0 && off + len <= length,
        s"TIFF: slice [$off, ${off + len}) outside file of $length bytes")
      val out = new Array[Byte](len)
      var copied = 0
      while (copied < len) {
        val o = off + copied
        val p = page(o / pageSize)
        val po = (o % pageSize).toInt
        val n = math.min(len - copied, p.length - po)
        System.arraycopy(p, po, out, copied, n)
        copied += n
      }
      out
    }
  }

  /** One decoded page: row-major pixel values (already widened to Int)
    * plus the page's ImageDescription if any. `samples` > 1 (RGB/RGBA,
    * or palette expanded to 3) stores `pixels` SAMPLE-PLANAR: sample s
    * occupies `[s*w*h, (s+1)*w*h)` — each sample slice is one channel
    * plane. Meta-only decodes report `samples` with empty pixels so
    * shape resolution needs no payload. */
  final case class Page(width: Int, height: Int, bitsPerSample: Int,
      pixels: Array[Int], description: Option[String], samples: Int = 1) {
    /** Row-major plane of sample `s` (the whole array when samples == 1,
      * sliced otherwise — callers never care about the packing). Empty
      * for meta-only decodes, like `pixels`. */
    def samplePlane(s: Int): Array[Int] =
      if (samples == 1 || pixels.isEmpty) pixels
      else java.util.Arrays.copyOfRange(pixels,
        s * width * height, (s + 1) * width * height)
  }

  private final case class IfdEntry(tag: Int, typ: Int, count: Long, valueOffset: Long)

  // --- decoding -------------------------------------------------------

  def decode(bytes: Array[Byte]): Seq[Page] =
    decodeImpl(new ArrayTiffData(bytes), withPixels = true)

  /** Headers/shape/description only — pages come back with EMPTY pixel
    * arrays and no strip/tile payload is touched or validated. This is
    * the pruned-scan path: metadata-only queries over a TIFF corpus
    * (describe, counts, joins on shape) skip all decompression. With
    * [[PagedTiffData]] only the header/IFD/tag-value ranges are read
    * from storage. */
  def decodeMeta(data: TiffData): Seq[Page] =
    decodeImpl(data, withPixels = false)

  private def decodeImpl(data: TiffData, withPixels: Boolean): Seq[Page] = {
    require(data.length >= 8, "Not a TIFF: too short")
    val order = (data.get(0), data.get(1)) match {
      case (0x49, 0x49) => ByteOrder.LITTLE_ENDIAN
      case (0x4d, 0x4d) => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException("Not a TIFF: bad byte-order mark")
    }
    data.setOrder(order)
    // magic 42 = classic TIFF (4-byte offsets, 12-byte IFD entries);
    // magic 43 = BigTIFF (8-byte offsets, 20-byte entries, LONG8 types)
    // — the public BigTIFF spec, used by large microscopy writers
    val magic = data.getShort(2).toInt
    val big = magic == 43
    require(magic == 42 || big, s"Not a TIFF (magic $magic != 42/43)")
    var ifdOffset =
      if (big) {
        require(data.getShort(4) == 8 && data.getShort(6) == 0,
          "BigTIFF: offset bytesize must be 8 with reserved 0")
        data.getLong(8)
      } else data.getInt(4).toLong & 0xffffffffL
    val pages = Seq.newBuilder[Page]
    var guard = 0
    while (ifdOffset != 0 && guard < 65536) {
      val (page, next) = decodeIfd(data, ifdOffset, withPixels, big)
      pages += page
      ifdOffset = next
      guard += 1
    }
    pages.result()
  }

  private def entryValues(buf: TiffData, e: IfdEntry,
      big: Boolean): Array[Long] = {
    val elemSize = e.typ match {
      case 1 | 2 | 6 | 7 => 1   // BYTE/ASCII/SBYTE/UNDEFINED
      case 3 | 8 => 2           // SHORT/SSHORT
      case 4 | 9 | 11 => 4      // LONG/SLONG/FLOAT
      case 5 | 10 | 12 => 8     // RATIONAL/SRATIONAL/DOUBLE
      case 16 | 17 | 18 => 8    // LONG8/SLONG8/IFD8 (BigTIFF)
      case t => throw new IllegalArgumentException(s"TIFF type $t unsupported")
    }
    val inlineCap = if (big) 8 else 4
    // guard the COUNT before any multiplication: a hostile BigTIFF LONG8
    // count can overflow `elemSize * count` to a small value that slips
    // past the end-of-file require yet still drives Array.tabulate into a
    // multi-GB allocation. No legitimate entry has more values than the
    // file has bytes.
    require(e.count >= 0 && e.count <= buf.length / elemSize,
      s"TIFF: entry tag ${e.tag} claims ${e.count} values of $elemSize " +
        s"bytes in a ${buf.length}-byte file")
    val total = elemSize * e.count
    // a corrupt/hostile count field must not drive the allocation below:
    // out-of-line values have to fit inside the file (fuzz finding r4);
    // valueOffset is additionally checked non-negative so offset+total
    // cannot wrap past the bound
    require(total <= inlineCap ||
      (e.valueOffset >= 0 && e.valueOffset + total <= buf.length),
      s"TIFF: entry tag ${e.tag} claims $total value bytes past end of file")
    // values <= inlineCap bytes are stored inline in the value/offset field
    val base = if (total <= inlineCap) -1L else e.valueOffset
    def at(i: Int): Long = {
      val off = if (base < 0) inlineOffset(e) + i * elemSize else base + i * elemSize
      elemSize match {
        case 1 => buf.get(off).toLong & 0xffL
        case 2 => buf.getShort(off).toLong & 0xffffL
        case 4 => buf.getInt(off).toLong & 0xffffffffL
        case 8 =>
          if (e.typ >= 16) buf.getLong(off) // LONG8 family: true 64-bit
          else buf.getInt(off).toLong & 0xffffffffL // rational numerator
      }
    }
    Array.tabulate(e.count.toInt)(at)
  }

  /** Offset of the inline value area of entry `e` (we stash it when parsing). */
  private def inlineOffset(e: IfdEntry): Long = e.valueOffset

  private def decodeIfd(buf: TiffData, off: Long,
      withPixels: Boolean, big: Boolean): (Page, Long) = {
    // BigTIFF IFDs: 8-byte entry count, 20-byte entries (8-byte count
    // and value/offset fields), 8-byte next-IFD pointer
    val n =
      if (big) {
        val n8 = buf.getLong(off)
        require(n8 >= 0 && n8 <= 65535,
          s"BigTIFF: implausible IFD entry count $n8")
        n8.toInt
      } else buf.getShort(off).toInt & 0xffff
    val headLen = if (big) 8 else 2
    val entryLen = if (big) 20 else 12
    var entries = Map.empty[Int, IfdEntry]
    var rawDesc: Option[String] = None
    for (i <- 0 until n) {
      val eo = off + headLen + i * entryLen
      val tag = buf.getShort(eo).toInt & 0xffff
      val typ = buf.getShort(eo + 2).toInt & 0xffff
      val count =
        if (big) buf.getLong(eo + 4)
        else buf.getInt(eo + 4).toLong & 0xffffffffL
      require(count >= 0, s"TIFF: negative count on tag $tag")
      val elemSize = typ match {
        case 1 | 2 | 6 | 7 => 1
        case 3 | 8 => 2
        case 4 | 9 | 11 => 4
        case _ => 8
      }
      val valueField = eo + (if (big) 12 else 8)
      val inline = elemSize * count <= (if (big) 8 else 4)
      val valueOffset =
        if (inline) valueField
        else if (big) buf.getLong(valueField)
        else buf.getInt(valueField).toLong & 0xffffffffL
      val e = IfdEntry(tag, typ, count, valueOffset)
      entries += tag -> e
      if (tag == 270) { // ImageDescription
        require(valueOffset + count <= buf.length,
          s"TIFF: ImageDescription of $count bytes past end of file")
        val bytes = buf.slice(valueOffset, count.toInt)
        rawDesc = Some(new String(bytes, "UTF-8").takeWhile(_ != '\u0000'))
      }
    }
    def one(tag: Int, default: => Long): Long =
      entries.get(tag).map(e => entryValues(buf, e, big)(0)).getOrElse(default)
    def all(tag: Int): Array[Long] =
      entries.get(tag).map(e => entryValues(buf, e, big)).getOrElse(Array.empty)

    val width = one(256, throw new IllegalArgumentException("TIFF: no ImageWidth")).toInt
    val height = one(257, throw new IllegalArgumentException("TIFF: no ImageLength")).toInt
    require(width > 0 && height > 0 && width.toLong * height <= (1L << 28),
      s"TIFF: implausible plane shape ${width}x$height")
    // BitsPerSample has one value PER SAMPLE for RGB; all must agree
    val bitsAll = all(258)
    val bits = if (bitsAll.isEmpty) 1 else bitsAll(0).toInt
    require(bitsAll.forall(_ == bits),
      s"TIFF: heterogeneous BitsPerSample ${bitsAll.mkString(",")} unsupported")
    val compression = one(259, 1L).toInt
    val photometric = one(262, 1L).toInt
    val samplesPerPx = one(277, 1L).toInt
    val planarConfig = one(284, 1L).toInt
    val sampleFormat = one(339, 1L).toInt // 1=unsigned, 2=signed two's complement
    photometric match {
      case 0 | 1 => // gray (WhiteIsZero treated as raw values, like tifffile)
        require(samplesPerPx == 1,
          s"TIFF: grayscale with $samplesPerPx samples unsupported")
      case 2 => // RGB; a 4th sample is alpha/extra (ExtraSamples) -> a channel
        require(samplesPerPx == 3 || samplesPerPx == 4,
          s"TIFF: RGB with $samplesPerPx samples unsupported (3/4 only)")
      case 3 => // palette color: ColorMap expansion below
        require(samplesPerPx == 1,
          s"TIFF: palette with $samplesPerPx samples unsupported")
        require(entries.contains(320), "TIFF: palette image without ColorMap")
      case p => throw new IllegalArgumentException(
        s"TIFF: PhotometricInterpretation $p unsupported (gray/RGB/palette only)")
    }
    require(planarConfig == 1 || planarConfig == 2,
      s"TIFF: PlanarConfiguration $planarConfig unsupported")
    require(bits == 8 || bits == 16, s"TIFF: only 8/16-bit supported (got $bits)")
    require(compression == 1 || compression == 5 || compression == 8 ||
      compression == 32946 || compression == 32773 || compression == 34925,
      s"TIFF: compression $compression unsupported " +
        "(none/lzw/deflate/packbits/lzma only)")
    // Predictor (tag 317): 1 = none, 2 = horizontal differencing. A file
    // with a predictor we don't undo MUST be rejected, not silently
    // decoded to garbage. Predictor 2 is implemented for the strip
    // organization on unsigned samples (row-wise cumulative sum);
    // tiled/signed combinations are rejected with clear errors.
    val predictor = one(317, 1L).toInt
    require(predictor == 1 || predictor == 2,
      s"TIFF: predictor $predictor unsupported (none/horizontal only)")

    // `cap` is the segment's decoded size from the page geometry (a
    // strip's page bytes, a tile's padded tile bytes); every decoder
    // refuses output past it, so a small strip cannot expand unboundedly
    def segment(off: Long, len: Long, what: String, cap: Int): Array[Byte] = {
      // a plain copy would silently zero-pad past EOF -> corrupt pixels
      require(off >= 0 && len >= 0 && off + len <= buf.length,
        s"TIFF: $what [$off, ${off + len}) exceeds file size ${buf.length} (truncated file?)")
      val seg = buf.slice(off, len.toInt)
      compression match {
        case 1 => seg
        case 5 => lzwDecode(seg, cap)
        case 32773 => unpackBits(seg, cap)
        // lzma (34925): liblzma XZ streams from tifffile/imagecodecs, or
        // the legacy alone container
        case 34925 => Codecs.lzmaDecode(seg, cap)
        case _ => Codecs.inflate(seg, 0, seg.length, cap)
      }
    }

    val bpp = bits / 8
    // palette pages expand to 3 channel planes; RGB(A) to samplesPerPx
    val outSamples = if (photometric == 3) 3 else samplesPerPx
    val expected = width * height * bpp * samplesPerPx
    val stripOffsets = all(273)
    val stripCounts = all(279)
    if (!withPixels) {
      require(stripOffsets.nonEmpty || all(324).nonEmpty,
        "TIFF: neither StripOffsets nor TileOffsets present")
      val next =
      if (big) buf.getLong(off + 8 + n * 20)
      else buf.getInt(off + 2 + n * 12).toLong & 0xffffffffL
      return (Page(width, height, if (photometric == 3) 16 else bits,
        Array.empty[Int], rawDesc, outSamples), next)
    }
    val data: Array[Byte] =
      if (stripOffsets.nonEmpty) {
        val raw = new java.io.ByteArrayOutputStream()
        for (i <- stripOffsets.indices)
          raw.write(segment(stripOffsets(i), stripCounts(i), s"strip $i", expected))
        raw.toByteArray
      } else {
        // tiled organization (tags 322-325): fixed-size tiles in row-major
        // order, edge tiles padded to full size — reassemble with clipping.
        // Chunky tiles interleave samples within each tile (pixel stride
        // samplesPerPx); planar config stores SamplesPerPixel separate
        // tile sets, all of component 0 first (TIFF 6.0 §15) — each set
        // reassembles into its own sample plane of the output.
        val tileOffsets = all(324)
        val tileCounts = all(325)
        require(tileOffsets.nonEmpty,
          "TIFF: neither StripOffsets nor TileOffsets present")
        val tw = one(322, throw new IllegalArgumentException("TIFF: no TileWidth")).toInt
        val th = one(323, throw new IllegalArgumentException("TIFF: no TileLength")).toInt
        require(tw > 0 && th > 0 && tw.toLong * th <= (1L << 26),
          s"TIFF: implausible tile shape ${tw}x$th")
        val across = (width + tw - 1) / tw
        val down = (height + th - 1) / th
        val planes = if (planarConfig == 2) samplesPerPx else 1
        val pxStride = if (planarConfig == 2) 1 else samplesPerPx
        require(tileOffsets.length >= across * down * planes,
          s"TIFF: ${tileOffsets.length} tiles < ${across * down * planes} " +
            s"needed for ${width}x$height x$planes planes")
        val plane = new Array[Byte](expected)
        val tileBytes = tw * th * bpp * pxStride
        for (s <- 0 until planes; ty <- 0 until down; tx <- 0 until across) {
          val i = s * across * down + ty * across + tx
          val t = segment(tileOffsets(i), tileCounts(i), s"tile $i", tileBytes)
          require(t.length >= tileBytes,
            s"TIFF: tile $i decoded ${t.length} bytes, expected >= $tileBytes")
          val copyW = math.min(tw, width - tx * tw) * bpp * pxStride
          val rows = math.min(th, height - ty * th)
          val planeBase = s * width * height * bpp
          var r = 0
          while (r < rows) {
            System.arraycopy(t, r * tw * bpp * pxStride, plane,
              planeBase + (((ty * th + r) * width + tx * tw) * bpp * pxStride),
              copyW)
            r += 1
          }
        }
        plane
      }
    require(data.length >= expected,
      s"TIFF: decoded ${data.length} bytes, expected >= $expected")
    val signed = sampleFormat == 2
    val px = new Array[Int](width * height * samplesPerPx)
    if (bits == 8) {
      var i = 0
      while (i < px.length) {
        px(i) = if (signed) data(i).toInt else data(i) & 0xff
        i += 1
      }
    } else {
      val order = buf.order
      val db = ByteBuffer.wrap(data).order(order)
      var i = 0
      while (i < px.length) {
        val s = db.getShort(i * 2)
        px(i) = if (signed) s.toInt else s & 0xffff
        i += 1
      }
    }
    if (predictor == 2) {
      require(stripOffsets.nonEmpty,
        "TIFF: predictor 2 with tiled organization unsupported")
      require(!signed,
        "TIFF: predictor 2 with signed samples unsupported")
      // undo horizontal differencing: strips hold whole rows, so the
      // row-wise cumulative sum is organization-independent here.
      // Chunky RGB differences PER SAMPLE across the row (stride =
      // samplesPerPx, the first pixel's samples are seeds); planar data
      // is sample-planar already, so each of the height*samples rows
      // cumulates at stride 1.
      val mask = if (bits == 8) 0xff else 0xffff
      val stride = if (planarConfig == 1) samplesPerPx else 1
      val rowLen = if (planarConfig == 1) width * samplesPerPx else width
      val rows = px.length / rowLen
      var y = 0
      while (y < rows) {
        var x = stride
        val base = y * rowLen
        while (x < rowLen) {
          px(base + x) = (px(base + x) + px(base + x - stride)) & mask
          x += 1
        }
        y += 1
      }
    }
    // chunky multi-sample -> sample-planar (the Page packing contract)
    val planarPx =
      if (samplesPerPx == 1 || planarConfig == 2) px
      else {
        val out = new Array[Int](px.length)
        val wh = width * height
        var i = 0
        while (i < wh) {
          var s = 0
          while (s < samplesPerPx) {
            out(s * wh + i) = px(i * samplesPerPx + s)
            s += 1
          }
          i += 1
        }
        out
      }
    // palette expansion: each index becomes (R, G, B) through the
    // ColorMap — 3 * 2^bits 16-bit entries, all reds first (TIFF 6.0 §5)
    val (finalPx, finalBits) =
      if (photometric != 3) (planarPx, bits)
      else {
        val cmap = all(320)
        val nEntries = 1 << bits
        require(cmap.length >= 3 * nEntries,
          s"TIFF: ColorMap has ${cmap.length} entries, need ${3 * nEntries}")
        val wh = width * height
        val out = new Array[Int](3 * wh)
        var i = 0
        while (i < wh) {
          val idx = planarPx(i)
          require(idx >= 0 && idx < nEntries,
            s"TIFF: palette index $idx outside ColorMap of $nEntries")
          out(i) = (cmap(idx) & 0xffffL).toInt
          out(wh + i) = (cmap(nEntries + idx) & 0xffffL).toInt
          out(2 * wh + i) = (cmap(2 * nEntries + idx) & 0xffffL).toInt
          i += 1
        }
        (out, 16)
      }
    val next =
      if (big) buf.getLong(off + 8 + n * 20)
      else buf.getInt(off + 2 + n * 12).toLong & 0xffffffffL
    (Page(width, height, finalBits, finalPx, rawDesc, outSamples), next)
  }

  /** PackBits (compression 32773): runs of literal or repeated bytes. */
  private def unpackBits(data: Array[Byte], maxOut: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(maxOut, data.length * 2))
    var i = 0
    while (i < data.length) {
      val n = data(i).toInt
      i += 1
      if (n >= 0) { // n+1 literal bytes
        require(i + n + 1 <= data.length, "TIFF PackBits: truncated literal run")
        out.write(data, i, n + 1)
        i += n + 1
      } else if (n != -128) { // next byte repeated 1-n times
        require(i < data.length, "TIFF PackBits: truncated repeat run")
        val b = data(i); i += 1
        var k = 1 - n
        while (k > 0) { out.write(b); k -= 1 }
      } // -128: no-op
      require(out.size() <= maxOut, s"TIFF PackBits: output exceeds bound of $maxOut bytes")
    }
    out.toByteArray
  }

  /**
   * TIFF LZW decode (compression 5): TIFF 6.0 §13 — MSB-first bit
   * packing, ClearCode 256, EOI 257, dynamic codes from 258, and the
   * TIFF "early change": code width grows when the NEXT free entry
   * reaches 511/1023/2047 (one entry before the power of two, unlike
   * GIF). Table entries are (prefix code, suffix byte) pairs;
   * strings materialize through an explicit stack, so decode is
   * allocation-free per code. Output past `maxOut` is refused.
   */
  private[graft] def lzwDecode(data: Array[Byte], maxOut: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.min(maxOut, math.max(64L, data.length * 3L)).toInt)
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    var next = 258; var width = 9
    var acc = 0; var nacc = 0; var pos = 0
    def read(): Int = { // every emission is followed by a read
      require(out.size() <= maxOut, s"TIFF LZW: output exceeds bound of $maxOut bytes")
      while (nacc < width) {
        if (pos >= data.length) return 257 // truncated stream: treat as EOI
        acc = (acc << 8) | (data(pos) & 0xff); nacc += 8; pos += 1
      }
      nacc -= width
      (acc >>> nacc) & ((1 << width) - 1)
    }
    def firstOf(code: Int): Byte = {
      var c = code
      while (c >= 258) c = prefix(c)
      c.toByte
    }
    def emit(code: Int): Byte = {
      var sp = 0; var c = code
      while (c >= 258) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
      out.write(c)
      var i = sp - 1
      while (i >= 0) { out.write(stack(i) & 0xff); i -= 1 }
      c.toByte
    }
    def grow(): Unit =
      if ((next == 511 || next == 1023 || next == 2047) && width < 12)
        width += 1
    var old = -1
    var code = read()
    while (code != 257) {
      if (code == 256) { // clear: reset table and width
        next = 258; width = 9
        code = read()
        if (code == 257) return out.toByteArray
        require(code < 256,
          s"TIFF LZW: code $code directly after clear (literal expected)")
        emit(code); old = code
      } else {
        require(old >= 0, "TIFF LZW: stream must start with a clear or literal")
        if (code < next) {
          val first = emit(code)
          // table full (no clear from a deferred-clear encoder): such an
          // encoder also stopped adding, so skipping keeps us in sync
          if (next < 4096) { prefix(next) = old; suffix(next) = first; next += 1; grow() }
        } else { // KwKwK: code == next (requires the slot we are adding)
          require(code == next && next < 4096,
            s"TIFF LZW: code $code beyond table size $next")
          val f = firstOf(old)
          emit(old); out.write(f & 0xff)
          prefix(next) = old; suffix(next) = f; next += 1; grow()
        }
        old = code
      }
      code = read()
    }
    out.toByteArray
  }

  /** TIFF LZW encode — the mirror of [[lzwDecode]] (early width change,
    * clear at entry 4094 so codes never exceed 12 bits). The dictionary
    * keys pack (prefix code, next byte) into one Int. */
  private[graft] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length / 2))
    var acc = 0L; var nacc = 0
    var width = 9
    def write(code: Int): Unit = {
      acc = (acc << width) | code; nacc += width
      while (nacc >= 8) {
        nacc -= 8; out.write(((acc >>> nacc) & 0xff).toInt)
      }
    }
    val dict = new java.util.HashMap[Integer, Integer](8192)
    var next = 258
    // The decoder builds its table ONE ENTRY BEHIND the encoder (it adds
    // an entry per received code, pairing the previous string with the
    // current first byte), so the encoder must switch width one entry
    // LATER than the decoder's 511/1023/2047 early-change points —
    // libtiff encodes with maxcode 511 exclusive for exactly this reason.
    def grow(): Unit =
      if ((next == 512 || next == 1024 || next == 2048) && width < 12)
        width += 1
    write(256)
    var omega = -1
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      if (omega < 0) omega = k
      else {
        val key = Integer.valueOf((omega << 8) | k)
        val hit = dict.get(key)
        if (hit != null) omega = hit.intValue()
        else {
          write(omega)
          if (next == 4094) { // table nearly full: reset both sides
            write(256); dict.clear(); next = 258; width = 9
          } else {
            dict.put(key, Integer.valueOf(next)); next += 1; grow()
          }
          omega = k
        }
      }
      i += 1
    }
    if (omega >= 0) {
      write(omega)
      // The decoder adds a table entry for this final code too (pairing
      // the previous string with its first byte) and may grow its read
      // width when that add lands on 511/1023/2047 — mirror the add here
      // (encoder `next` runs one ahead, so grow() at 512/1024/2048 is the
      // exact mirror) so EOI is written at the width the decoder reads it.
      next += 1; grow()
    }
    write(257)
    if (nacc > 0) out.write(((acc << (8 - nacc)) & 0xff).toInt) // flush
    out.toByteArray
  }

  // --- encoding -------------------------------------------------------

  /**
   * Encode grayscale 16-bit pages as a little-endian multi-page TIFF,
   * with `description` on the first page (where OME-XML lives in
   * OME-TIFF). `compression`: "zlib" (deflate, tifffile's default --
   * export.py:122), "lzw", "packbits" or "none"; "lzma"/"jpegxl" have
   * no JDK codec and raise. `tile`: optional (tileLength, tileWidth) -- the
   * reference's (Y, X) order (export.py:125) -- writes a tiled layout
   * (tags 322-325, edge tiles zero-padded) instead of one strip per
   * page; dimensions must be multiples of 16 per the TIFF spec.
   */
  def encode(pages: Seq[(Int, Int, Array[Int])], description: Option[String] = None,
      compression: String = "zlib", tile: Option[(Int, Int)] = None,
      predictor: Boolean = false): Array[Byte] = {
    require(pages.nonEmpty, "TIFF encode: no pages")
    require(!(predictor && tile.isDefined),
      "TIFF encode: predictor 2 is strip-only (matches the decoder)")
    val compCode = compression match {
      case "zlib" | "deflate" => 8
      case "none" => 1
      case "packbits" => 32773
      case "lzw" => 5
      case other => throw new IllegalArgumentException(
        s"TIFF encode: compression '$other' unsupported (zlib/lzw/packbits/none)")
    }
    def press(bytes: Array[Byte]): Array[Byte] = compCode match {
      case 8 => deflateBytes(bytes)
      case 32773 => packBits(bytes)
      case 5 => lzwEncode(bytes)
      case _ => bytes
    }
    tile.foreach { case (th, tw) =>
      require(th > 0 && tw > 0 && th % 16 == 0 && tw % 16 == 0,
        s"TIFF encode: tile dims must be positive multiples of 16, got ${th}x$tw")
    }
    val out = new java.io.ByteArrayOutputStream()
    def pad(): Unit = if (out.size() % 2 == 1) out.write(0)

    // header placeholder; patch IFD0 offset later
    out.write(Array[Byte](0x49, 0x49, 42, 0, 0, 0, 0, 0))

    final case class Prepared(width: Int, height: Int,
      dataOffsets: Seq[Int], dataLens: Seq[Int], descOffset: Int, descLen: Int)
    val prepared = pages.zipWithIndex.map { case ((w, h, px), idx) =>
      require(px.length == w * h, s"page $idx: ${px.length} pixels != $w*$h")
      val segments: Seq[Array[Byte]] = tile match {
        case None =>
          // horizontal differencing (tag 317=2) BEFORE byte conversion;
          // row-wise, on a copy — the caller's array must not mutate
          val vals =
            if (!predictor) px
            else {
              val d = java.util.Arrays.copyOf(px, px.length)
              var y = h - 1
              while (y >= 0) {
                var x = w - 1
                val base = y * w
                while (x >= 1) {
                  d(base + x) = (d(base + x) - d(base + x - 1)) & 0xffff
                  x -= 1
                }
                y -= 1
              }
              d
            }
          val bytes = new Array[Byte](vals.length * 2)
          var i = 0
          while (i < vals.length) {
            bytes(i * 2) = (vals(i) & 0xff).toByte
            bytes(i * 2 + 1) = ((vals(i) >> 8) & 0xff).toByte
            i += 1
          }
          Seq(press(bytes))
        case Some((th, tw)) =>
          val across = (w + tw - 1) / tw
          val down = (h + th - 1) / th
          for (ty <- 0 until down; tx <- 0 until across) yield {
            val t = new Array[Byte](tw * th * 2) // zero-padded edges
            val rows = math.min(th, h - ty * th)
            val cols = math.min(tw, w - tx * tw)
            var r = 0
            while (r < rows) {
              var c = 0
              while (c < cols) {
                val v = px((ty * th + r) * w + tx * tw + c)
                t((r * tw + c) * 2) = (v & 0xff).toByte
                t((r * tw + c) * 2 + 1) = ((v >> 8) & 0xff).toByte
                c += 1
              }
              r += 1
            }
            press(t)
          }
      }
      val offsets = segments.map { seg =>
        pad(); val o = out.size(); out.write(seg); o
      }
      val (descOffset, descLen) = if (idx == 0 && description.isDefined) {
        pad()
        val d = (description.get + "\u0000").getBytes("UTF-8")
        val o = out.size()
        out.write(d)
        (o, d.length)
      } else (0, 0)
      Prepared(w, h, offsets, segments.map(_.length), descOffset, descLen)
    }

    // IFD chain; multi-valued LONG entries (tile offset/count arrays)
    // need their value arrays written out-of-line before each IFD
    var ifdOffsets = Vector.empty[Int]
    prepared.foreach { p =>
      val multi = p.dataOffsets.length > 1
      def writeLongArray(vals: Seq[Int]): Int = {
        pad()
        val o = out.size()
        val ab = ByteBuffer.allocate(vals.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        vals.foreach(ab.putInt)
        out.write(ab.array())
        o
      }
      val (offArr, cntArr) =
        if (multi) (writeLongArray(p.dataOffsets), writeLongArray(p.dataLens))
        else (0, 0)
      pad()
      ifdOffsets :+= out.size()
      val nEntries = 8 + (if (p.descLen > 0) 1 else 0) +
        (if (tile.isDefined) 1 else 0) + (if (predictor) 1 else 0)
      val ifd = ByteBuffer.allocate(2 + nEntries * 12 + 4).order(ByteOrder.LITTLE_ENDIAN)
      ifd.putShort(nEntries.toShort)
      def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
        ifd.putShort(tag.toShort); ifd.putShort(typ.toShort)
        ifd.putInt(count)
        if (typ == 3 && count == 1) { ifd.putShort(value.toShort); ifd.putShort(0) }
        else ifd.putInt(value)
      }
      val nSeg = p.dataOffsets.length
      entry(256, 4, 1, p.width)                       // ImageWidth
      entry(257, 4, 1, p.height)                      // ImageLength
      entry(258, 3, 1, 16)                            // BitsPerSample
      entry(259, 3, 1, compCode)                      // Compression
      entry(262, 3, 1, 1)                             // Photometric: BlackIsZero
      if (p.descLen > 0) entry(270, 2, p.descLen, p.descOffset) // ImageDescription
      tile match {
        case None =>
          entry(273, 4, 1, p.dataOffsets.head)        // StripOffsets
          entry(278, 4, 1, p.height)                  // RowsPerStrip
          entry(279, 4, 1, p.dataLens.head)           // StripByteCounts
          if (predictor) entry(317, 3, 1, 2)          // Predictor: horizontal
        case Some((th, tw)) =>
          entry(322, 4, 1, tw)                        // TileWidth
          entry(323, 4, 1, th)                        // TileLength
          entry(324, 4, nSeg, if (multi) offArr else p.dataOffsets.head) // TileOffsets
          entry(325, 4, nSeg, if (multi) cntArr else p.dataLens.head)    // TileByteCounts
      }
      ifd.putInt(0) // next-IFD placeholder, patched below
      out.write(ifd.array())
    }

    val bytes = out.toByteArray
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, ifdOffsets.head)
    // patch next-IFD pointers
    for (i <- ifdOffsets.indices.dropRight(1)) {
      val off = ifdOffsets(i)
      val n = bb.getShort(off).toInt & 0xffff
      bb.putInt(off + 2 + n * 12, ifdOffsets(i + 1))
    }
    bytes
  }

  /** PackBits encode: repeat runs >= 2 become (1-n, byte); literal runs
    * continue until the next 3-byte repeat, 128 max per control byte. */
  private[graft] def packBits(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + data.length / 128 + 8)
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && data(i + run) == data(i) && run < 128) run += 1
      if (run >= 2) {
        out.write(1 - run); out.write(data(i)); i += run
      } else {
        var j = i + 1
        while (j < data.length && j - i < 128 &&
            !(j + 2 < data.length && data(j) == data(j + 1) && data(j + 1) == data(j + 2)))
          j += 1
        out.write(j - i - 1); out.write(data, i, j - i); i = j
      }
    }
    out.toByteArray
  }

  private def deflateBytes(data: Array[Byte]): Array[Byte] = Codecs.deflate(data)
}
