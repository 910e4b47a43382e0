package graft

import org.apache.spark.sql.functions._

import graft.operators.OmeOps
import graft.schema.Fixtures
import graft.sources.BloscCodec

/** Blosc frame codec properties + Zarr v3 / Blosc container round-trips. */
class BloscZarrSpec extends SparkSpec {

  private def randBytes(n: Int, seed: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt(256).toByte)
  }

  test("Blosc: compress/decompress round-trips across codecs and shuffles") {
    for {
      n <- Seq(0, 1, 7, 128, 1001, 4096) // odd sizes exercise tail handling
      cname <- Seq("zlib", "lz4", "zstd")
      shuffle <- Seq(0, 1, 2)
    } {
      val data = randBytes(n, seed = n * 31 + shuffle)
      val frame = BloscCodec.compress(data, typesize = 2, cname, shuffle)
      assert(BloscCodec.decompress(frame).toSeq === data.toSeq,
        s"n=$n cname=$cname shuffle=$shuffle")
    }
  }

  test("Blosc: byte and bit shuffles invert exactly, including tails") {
    for (n <- Seq(0, 3, 15, 16, 33, 256); ts <- Seq(1, 2, 4, 8)) {
      val data = randBytes(n, seed = n * 7 + ts)
      assert(BloscCodec.byteUnshuffle(
        BloscCodec.byteShuffle(data, ts), ts).toSeq === data.toSeq, s"byte n=$n ts=$ts")
      assert(BloscCodec.bitUnshuffle(
        BloscCodec.bitShuffle(data, ts), ts).toSeq === data.toSeq, s"bit n=$n ts=$ts")
    }
  }

  test("Blosc: bit shuffle produces the documented transposed layout") {
    // 8 elements of 1 byte: lane k byte 0 packs bit k of elements 0..7
    val data = Array.tabulate(8)(i => (1 << (i % 8)).toByte)
    val sh = BloscCodec.bitShuffle(data, 1)
    // element i has only bit i set -> lane k's packed byte = 1 << k
    for (k <- 0 until 8) assert((sh(k) & 0xff) === (1 << k), s"lane $k")
  }

  test("Blosc: memcpy frames and LZ4 match sequences decode") {
    // hand-built memcpy frame: flags bit1, payload verbatim
    val payload = randBytes(10, 5)
    val frame = new Array[Byte](26)
    frame(0) = 2; frame(1) = 1; frame(2) = 0x2; frame(3) = 1
    def putLe(off: Int, v: Int): Unit = for (i <- 0 until 4)
      frame(off + i) = ((v >> (8 * i)) & 0xff).toByte
    putLe(4, 10); putLe(8, 10); putLe(12, 26)
    System.arraycopy(payload, 0, frame, 16, 10)
    assert(BloscCodec.decompress(frame).toSeq === payload.toSeq)
    // LZ4 stream with a real (overlapping) match: 3 literals "abc",
    // then a 9-byte match at offset 3, then the spec's literals-only last
    // sequence "defgh" -> "abcabcabcabcdefgh"
    val lz4 = Array[Byte](0x35, 'a', 'b', 'c', 0x03, 0x00, 0x50, 'd', 'e', 'f', 'g', 'h')
    assert(new String(BloscCodec.decompress(lz4Frame(lz4, 17)), "UTF-8") ===
      "abcabcabcabcdefgh")
  }

  /** One-block, one-stream lz4 Blosc frame (typesize 1, no shuffle). */
  private def lz4Frame(stream: Array[Byte], nbytes: Int): Array[Byte] = {
    val frame = new Array[Byte](24 + stream.length)
    frame(0) = 2; frame(1) = 1; frame(2) = (1 << 5).toByte; frame(3) = 1
    def putLe(off: Int, v: Int): Unit = for (i <- 0 until 4)
      frame(off + i) = ((v >> (8 * i)) & 0xff).toByte
    putLe(4, nbytes); putLe(8, nbytes); putLe(12, frame.length)
    putLe(16, 20); putLe(20, stream.length)
    System.arraycopy(stream, 0, frame, 24, stream.length)
    frame
  }

  test("Blosc: an LZ4 block whose last sequence carries a match is refused") {
    // "abc" + a 9-byte match at offset 3 and nothing after: the LZ4 spec
    // requires the last sequence to be literals only (c-blosc never
    // writes this), so the block is corrupt even though it could expand
    val endsInMatch = Array[Byte](0x35, 'a', 'b', 'c', 0x03, 0x00)
    intercept[IllegalArgumentException] {
      BloscCodec.decompress(lz4Frame(endsInMatch, 12))
    }
  }

  test("Blosc: unsupported codec ids raise a clear error") {
    // compressible payload so the frame is genuinely codec-encoded (an
    // incompressible one falls back to stored-raw, which decodes
    // codec-independently)
    val data = Array.fill(64)(7.toByte)
    val frame = BloscCodec.compress(data, 2, "zlib", 1)
    frame(2) = ((frame(2) & 0x1f) | (5 << 5)).toByte // relabel to codec 5
    val ex = intercept[Exception] { BloscCodec.decompress(frame) }
    assert(ex.getMessage.contains("codec id 5") ||
      ex.getCause.getMessage.contains("codec id 5"))
  }

  test("blosclz: hand-crafted format streams decode (short/RLE/long forms)") {
    // short match: literal "abc" then 6 bytes at distance 3
    // (ctrl = 4<<5 -> len 4-1+3 = 6; code 2 -> distance 2+1 = 3)
    val m = Array[Byte](2, 'a', 'b', 'c', (4 << 5).toByte, 2)
    val out1 = new Array[Byte](9)
    BloscCodec.blosclzDecompress(m, 0, m.length, out1, 0, 9)
    assert(new String(out1, "UTF-8") === "abcabcabc")
    // RLE long form: 1 literal 'x' then a 300-byte distance-1 match
    // (top field 7 -> len 6, +255 +36 continuation, +3 = 300)
    val r = Array[Byte](0, 'x', (7 << 5).toByte, 255.toByte, 36, 0)
    val out2 = new Array[Byte](301)
    BloscCodec.blosclzDecompress(r, 0, r.length, out2, 0, 301)
    assert(out2.forall(_ === 'x'.toByte))
    // long-distance escape: 8224 literals then 6 bytes from position 0
    // (code 255 + ofs 31<<8 -> d16 = 32, distance = 32 + 8192 = 8224)
    val lits = Array.tabulate(8224)(i => (i % 251).toByte)
    val s = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < lits.length) { s.write(31); s.write(lits, off, 32); off += 32 }
    s.write((4 << 5) | 31); s.write(255); s.write(0); s.write(32)
    val stream = s.toByteArray
    val out3 = new Array[Byte](8230)
    BloscCodec.blosclzDecompress(stream, 0, stream.length, out3, 0, 8230)
    assert(out3.take(8224).toSeq === lits.toSeq)
    assert(out3.drop(8224).toSeq === lits.take(6).toSeq)
  }

  /** Reference-shaped blosclz compressor (the public blosclz.c emitter
    * forms: greedy 3-byte-hash match finder, short and 255-chained
    * lengths, short and 16-bit far distances) — NOT the library's
    * RLE-only encoder. Exists solely to drive the decoder with the match
    * shapes real c-blosc output contains (non-RLE matches at arbitrary
    * distances, long lengths, the +8191 far-distance escape), which the
    * library encoder never emits. `stats(0)` counts matches with
    * distance > 1 (non-RLE), `stats(1)` far-distance escapes. */
  private def refBlosclzCompress(data: Array[Byte],
      stats: Array[Int]): Array[Byte] = {
    val MaxShortDist = 8190          // ofs 31 + code 255 is the escape
    val MaxDist = 8191               // blosclz.c MAX_DISTANCE
    val MaxFarDist = MaxDist + 65535 // 16-bit escape range
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    val n = data.length
    val head = new java.util.HashMap[Integer, Integer]()
    var i = 0
    var lit = 0
    def flushLits(until: Int): Unit = {
      var st = lit
      while (st < until) {
        val run = math.min(until - st, 32)
        out.write(run - 1)
        out.write(data, st, run)
        st += run
      }
      lit = until
    }
    def key(p: Int): Integer = Integer.valueOf(
      ((data(p) & 0xff) << 16) | ((data(p + 1) & 0xff) << 8) |
        (data(p + 2) & 0xff))
    while (i + 3 <= n) {
      val k = key(i)
      val cand = head.get(k)
      head.put(k, Integer.valueOf(i))
      val dist = if (cand == null) Int.MaxValue else i - cand.intValue() - 1
      if (dist <= MaxFarDist) {
        val c = cand.intValue()
        var len = 3
        while (i + len < n && data(c + len) == data(i + len)) len += 1
        flushLits(i)
        val useFar = dist > MaxShortDist
        if (dist > 0) stats(0) += 1
        if (useFar) stats(1) += 1
        val top = if (len <= 8) len - 2 else 7
        out.write((top << 5) | (if (useFar) 31 else dist >> 8))
        if (len > 8) {
          var rem = len - 9
          while (rem >= 255) { out.write(255); rem -= 255 }
          out.write(rem)
        }
        out.write(if (useFar) 255 else dist & 255)
        if (useFar) {
          val d16 = dist - MaxDist
          out.write((d16 >> 8) & 255); out.write(d16 & 255)
        }
        // index the matched region so later matches can reference it
        var p = i + 1
        val stop = math.min(i + len - 1, n - 3)
        while (p <= stop) { head.put(key(p), Integer.valueOf(p)); p += 1 }
        i += len
        lit = i
      } else i += 1
    }
    flushLits(n)
    out.toByteArray
  }

  test("blosclz: far-distance and non-RLE match streams decode " +
      "byte-exact (reference-emitter coverage)") {
    // ADVICE r6: the library encoder only ever emits RLE (distance-1)
    // matches, so the decoder's far-distance bias and general match
    // copy were untested against streams shaped like real c-blosc
    // output. No c-blosc exists in this environment to produce a true
    // third-party golden; this is the closest attainable: an
    // independent compressor implementing the PUBLIC blosclz.c emitter
    // forms, driving the decoder through short-distance non-RLE
    // matches, 255-chained lengths, and the 16-bit +8191 escape.
    val rnd = new scala.util.Random(20260813L)
    // directed: a 300-byte block recurring ~9 KiB later forces the far
    // escape; moderate-distance repeats force plain non-RLE matches
    val block = Array.fill(300)((rnd.nextInt(251)).toByte)
    val filler = Array.fill(9000)((rnd.nextInt(5) + 100).toByte)
    val directed = block ++ filler ++ block ++ block.take(40)
    val stats = Array(0, 0)
    val enc = refBlosclzCompress(directed, stats)
    assert(stats(0) > 0, "no non-RLE match emitted — fixture broken")
    assert(stats(1) > 0, "no far-distance escape emitted — fixture broken")
    val out = new Array[Byte](directed.length)
    BloscCodec.blosclzDecompress(enc, 0, enc.length, out, 0, directed.length)
    assert(out.toSeq === directed.toSeq)
    // fuzz: small alphabets at sizes past the far-distance threshold
    for (trial <- 0 until 40) {
      val size = 1 + rnd.nextInt(40000)
      val alpha = 2 + rnd.nextInt(12)
      val data = new Array[Byte](size)
      var i = 0
      while (i < size) { // runs + noise: realistic match structure
        val runLen = 1 + rnd.nextInt(9)
        val b = rnd.nextInt(alpha).toByte
        val end = math.min(size, i + runLen)
        java.util.Arrays.fill(data, i, end, b)
        i = end
      }
      val st = Array(0, 0)
      val e = refBlosclzCompress(data, st)
      val o = new Array[Byte](size)
      BloscCodec.blosclzDecompress(e, 0, e.length, o, 0, size)
      assert(o.toSeq === data.toSeq, s"trial $trial (size $size)")
    }
  }

  test("blosclz: encoder output round-trips through the decoder") {
    val cases = Seq(
      Array.fill(512)(9.toByte),                          // pure run
      Array.tabulate(999)(i => (i % 13).toByte),          // no runs
      Array.tabulate(1000)(i =>                           // mixed
        if ((i / 37) % 2 == 0) 7.toByte else (i % 251).toByte),
      Array[Byte](1, 2, 3),                               // tiny
      Array.tabulate(300)(_ => 'z'.toByte)                // long RLE
    )
    cases.foreach { data =>
      val enc = BloscCodec.blosclzCompress(data)
      val out = new Array[Byte](data.length)
      BloscCodec.blosclzDecompress(enc, 0, enc.length, out, 0, data.length)
      assert(out.toSeq === data.toSeq, s"case of ${data.length} bytes")
    }
    // full frame (header + shuffle + split policy) through the public API
    val data = Array.tabulate(4096)(i => ((i / 64) % 7).toByte)
    val frame = BloscCodec.compress(data, 2, "blosclz", 1)
    assert((frame(2) >> 5 & 0x7) === 0) // codec id 0 = blosclz
    assert(BloscCodec.decompress(frame).toSeq === data.toSeq)
  }

  private def planeSums(df: org.apache.spark.sql.DataFrame) =
    OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
      aggregate(col("pixels"), lit(0L), (a, v) => a + v))
      .orderBy(col("t"), col("c"), col("z")).collect().toSeq

  test("O9+O5: arbitrary chunk shapes round-trip (multi-z + sub-plane)") {
    // i4d is T2 C2 Z2 Y8 X8; chunks [1,1,2,4,8] batch both z planes and
    // split each plane into two 4-row slabs -> multi-plane AND sub-plane
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0003")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_chunks/i4d-0003.zarr",
      chunks = Some(Seq(1, 1, 2, 4, 8)))
    val zarray = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/tmp/graft_test_chunks/i4d-0003.zarr/0/.zarray")), "UTF-8")
    assert(zarray.contains("\"chunks\": [1, 1, 2, 4, 8]"))
    // chunk files carry real y-grid indices now
    assert(new java.io.File("/tmp/graft_test_chunks/i4d-0003.zarr/0/0.0.0.1.0").exists)
    val back = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_chunks/i4d-0003.zarr")
    assert(planeSums(one) === planeSums(back))
    // pixel-exact, not just sums: first plane byte-for-byte
    val p0 = OmeOps.explodePlanes(back)
      .filter(col("t") === 0 && col("c") === 0 && col("z") === 0)
      .select(col("pixels")).collect()(0).getSeq[Int](0)
    val e0 = OmeOps.explodePlanes(one)
      .filter(col("t") === 0 && col("c") === 0 && col("z") === 0)
      .select(col("pixels")).collect()(0).getSeq[Int](0)
    assert(p0 === e0)
  }

  test("O9+O5: odd sub-plane chunk shapes pad edges correctly (v3)") {
    // 5x3 chunks over 8x8 planes: ragged edges in both y and x
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0000")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_chunks3/i4d-0000.zarr",
      zarrFormat = 3, chunks = Some(Seq(2, 1, 1, 5, 3)))
    val back = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_chunks3/i4d-0000.zarr")
    assert(planeSums(one) === planeSums(back))
  }

  test("omezarr v2 source reads a sub-plane-chunked store") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0002")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_chunks_dsv2/i4d-0002.zarr",
      chunks = Some(Seq(1, 1, 1, 4, 4)))
    val back = spark.read.format("omezarr")
      .load("/tmp/graft_test_chunks_dsv2/i4d-0002.zarr")
    assert(planeSums(one) === planeSums(back))
  }

  test("O9+O5: blosclz-compressed Zarr v2 store round-trips") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0001")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_blosclz/i4d-0001.zarr",
      compressor = "blosclz")
    val zarray = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/tmp/graft_test_blosclz/i4d-0001.zarr/0/.zarray")), "UTF-8")
    assert(zarray.contains("\"cname\": \"blosclz\""))
    val back = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_blosclz/i4d-0001.zarr")
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(one) === sums(back))
  }

  test("Blosc: snappy-codec frames decode (hand-assembled, numcodecs shape)") {
    // one block, one stream, no shuffle — snappy frames are never split
    val data = Array.tabulate(64)(i => (i % 7).toByte)
    val payload = org.xerial.snappy.Snappy.compress(data)
    assert(payload.length != data.length) // else stored-raw path, not snappy
    val frame = new Array[Byte](16 + 4 + 4 + payload.length)
    frame(0) = 2; frame(1) = 1
    frame(2) = (2 << 5).toByte // codec 2 = snappy, no shuffle
    frame(3) = 1
    def putLe(off: Int, v: Int): Unit = for (i <- 0 until 4)
      frame(off + i) = ((v >> (8 * i)) & 0xff).toByte
    putLe(4, data.length); putLe(8, data.length); putLe(12, frame.length)
    putLe(16, 20); putLe(20, payload.length)
    System.arraycopy(payload, 0, frame, 24, payload.length)
    assert(BloscCodec.decompress(frame).toSeq === data.toSeq)
  }

  test("O9+O5: Blosc-compressed Zarr v2 store round-trips") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0002")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_blosc/i4d-0002.zarr",
      compressor = "blosc")
    val zarray = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/tmp/graft_test_blosc/i4d-0002.zarr/0/.zarray")), "UTF-8")
    assert(zarray.contains("\"id\": \"blosc\""))
    val back = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_blosc/i4d-0002.zarr")
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(one) === sums(back))
  }

  test("O9+O5: Zarr v3 store round-trips with gzip codec and NGFF 0.5 metadata") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0001")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_v3/i4d-0001.zarr",
      zarrFormat = 3, multiscaleLevels = 2)
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/tmp/graft_test_v3/i4d-0001.zarr/zarr.json")), "UTF-8")
    assert(doc.contains("\"zarr_format\": 3") && doc.contains("\"ome\""))
    assert(new java.io.File(
      "/tmp/graft_test_v3/i4d-0001.zarr/0/c/1/1/1/0/0").isFile)
    val back = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_v3/i4d-0001.zarr")
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(one) === sums(back))
    // level-1 read: halved shape, doubled physical size from the level's
    // own coordinate transform
    val l1 = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_v3/i4d-0001.zarr", levelPath = "1")
    val m = l1.select(col("ome_arrow.pixels_meta.size_x"),
      col("ome_arrow.pixels_meta.physical_size_x")).collect()(0)
    assert(m.getInt(0) === 4 && m.getFloat(1) === 2.0f)
  }

  test("O5: foreign v3 store ('.' separator, big-endian bytes codec) decodes") {
    // hand-crafted store exercising the non-default v3 knobs our writer
    // never produces: dotted chunk keys and a big-endian bytes codec
    val root = java.nio.file.Paths.get("/tmp/graft_test_v3dot/dotimg.zarr")
    java.nio.file.Files.createDirectories(root.resolve("0"))
    java.nio.file.Files.writeString(root.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {"ome": {
        |"version": "0.5", "multiscales": [{"axes": [
        |{"name": "t", "type": "time"}, {"name": "c", "type": "channel"},
        |{"name": "z", "type": "space"}, {"name": "y", "type": "space"},
        |{"name": "x", "type": "space"}], "name": "dot image",
        |"datasets": [{"path": "0", "coordinateTransformations":
        |[{"type": "scale", "scale": [1.0, 1.0, 1.0, 0.25, 0.25]}]}]}]}}}"""
        .stripMargin.replace("\n", ""))
    java.nio.file.Files.writeString(root.resolve("0/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [1, 1, 1, 2, 3],
        |"data_type": "uint16", "chunk_grid": {"name": "regular",
        |"configuration": {"chunk_shape": [1, 1, 1, 2, 3]}},
        |"chunk_key_encoding": {"name": "default",
        |"configuration": {"separator": "."}}, "fill_value": 0,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "big"}}],
        |"dimension_names": ["t", "c", "z", "y", "x"]}"""
        .stripMargin.replace("\n", ""))
    val px = Array(100, 200, 300, 400, 500, 600)
    val bytes = new Array[Byte](12)
    px.zipWithIndex.foreach { case (v, i) => // big-endian uint16
      bytes(i * 2) = ((v >> 8) & 0xff).toByte; bytes(i * 2 + 1) = (v & 0xff).toByte
    }
    java.nio.file.Files.write(root.resolve("0/c.0.0.0.0.0"), bytes)
    val back = graft.sources.OmeZarr.read(spark, root.toString)
    val r = back.select(
      element_at(col("ome_arrow.planes"), 1).getField("pixels"),
      col("ome_arrow.name"), col("ome_arrow.pixels_meta.physical_size_x"),
      col("ome_arrow.pixels_meta.size_y")).collect()(0)
    assert(r.getSeq[Int](0) === px.toSeq)
    // name must come from the multiscale entry, not the first axis
    // (axes serialize BEFORE name here, the foreign key order)
    assert(r.getString(1) === "dot image")
    assert(r.getFloat(2) === 0.25f)
    assert(r.getInt(3) === 2)
  }

  test("O9+O5: Zarr v3 zstd store (the reference-default combination) round-trips") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0003")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_v3z/i4d-0003.zarr",
      zarrFormat = 3, compressor = "zstd")
    val doc = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("/tmp/graft_test_v3z/i4d-0003.zarr/0/zarr.json")), "UTF-8")
    assert(doc.contains("\"name\": \"zstd\""))
    // chunk bytes must be a real zstd frame (magic 28 B5 2F FD)
    val chunk = java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("/tmp/graft_test_v3z/i4d-0003.zarr/0/c/0/0/0/0/0"))
    assert((chunk(0) & 0xff) === 0x28 && (chunk(1) & 0xff) === 0xb5)
    val back = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_v3z/i4d-0003.zarr")
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(one) === sums(back))
  }

  test("O5: v2 zstd-compressor store round-trips") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0002")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_v2z/i4d-0002.zarr",
      compressor = "zstd")
    val zarray = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("/tmp/graft_test_v2z/i4d-0002.zarr/0/.zarray")), "UTF-8")
    assert(zarray.contains("\"id\": \"zstd\""))
    val back = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_v2z/i4d-0002.zarr")
    val n = back.select(size(col("ome_arrow.planes"))).collect()(0).getInt(0)
    assert(n === 8)
  }

  test("O9+O5: sharded v3 store (shardZ) round-trips with one file per (t,c)") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0001")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_shard/i4d-0001.zarr",
      zarrFormat = 3, compressor = "zstd", shardZ = true)
    val doc = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("/tmp/graft_test_shard/i4d-0001.zarr/0/zarr.json")), "UTF-8")
    assert(doc.contains("sharding_indexed") && doc.contains("crc32c"))
    // 2x2x2 image -> 4 shard files (t,c), each holding both z planes
    val root = new java.io.File("/tmp/graft_test_shard/i4d-0001.zarr/0/c")
    def files(d: java.io.File): Seq[java.io.File] =
      if (d.isFile) Seq(d) else Option(d.listFiles).toSeq.flatten.flatMap(files)
    assert(files(root).size === 4)
    val back = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_shard/i4d-0001.zarr")
    def sums(df: org.apache.spark.sql.DataFrame) =
      OmeOps.explodePlanes(df).select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v))
        .orderBy(col("t"), col("c"), col("z")).collect().toSeq
    assert(sums(one) === sums(back))
  }

  test("O5: foreign sharded store with a missing inner chunk zero-fills") {
    // hand-crafted 1x1x2-plane store, one shard holding z=1 only (z=0
    // entry all-ones = missing), raw inner codec, crc32c'd end index
    val root = java.nio.file.Paths.get("/tmp/graft_test_shardf/fimg.zarr")
    java.nio.file.Files.createDirectories(root.resolve("0/c/0/0/0/0"))
    java.nio.file.Files.writeString(root.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {"ome": {
        |"version": "0.5", "multiscales": [{"name": "f img", "axes": [
        |{"name": "t", "type": "time"}, {"name": "c", "type": "channel"},
        |{"name": "z", "type": "space"}, {"name": "y", "type": "space"},
        |{"name": "x", "type": "space"}],
        |"datasets": [{"path": "0", "coordinateTransformations":
        |[{"type": "scale", "scale": [1.0, 1.0, 1.0, 1.0, 1.0]}]}]}]}}}"""
        .stripMargin.replace("\n", ""))
    java.nio.file.Files.writeString(root.resolve("0/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [1, 1, 2, 2, 2],
        |"data_type": "uint16", "chunk_grid": {"name": "regular",
        |"configuration": {"chunk_shape": [1, 1, 2, 2, 2]}},
        |"chunk_key_encoding": {"name": "default",
        |"configuration": {"separator": "/"}}, "fill_value": 0,
        |"codecs": [{"name": "sharding_indexed", "configuration":
        |{"chunk_shape": [1, 1, 1, 2, 2],
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |"index_codecs": [{"name": "bytes", "configuration":
        |{"endian": "little"}}, {"name": "crc32c"}],
        |"index_location": "end"}}],
        |"dimension_names": ["t", "c", "z", "y", "x"]}"""
        .stripMargin.replace("\n", ""))
    val plane = Array[Byte](1, 0, 2, 0, 3, 0, 4, 0) // u16 LE 1,2,3,4
    val idx = java.nio.ByteBuffer.allocate(36)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    idx.putLong(-1L).putLong(-1L) // z=0 missing
    idx.putLong(0L).putLong(8L)   // z=1 at offset 0
    val crc = new java.util.zip.CRC32C
    crc.update(idx.array(), 0, 32)
    idx.putInt(crc.getValue.toInt)
    val shard = plane ++ idx.array()
    java.nio.file.Files.write(root.resolve("0/c/0/0/0/0/0"), shard)
    val back = graft.sources.OmeZarr.read(spark, root.toString)
    val planes = OmeOps.explodePlanes(back)
      .select(col("z"), col("pixels")).orderBy(col("z")).collect()
    assert(planes.length === 2)
    assert(planes(0).getSeq[Int](1) === Seq(0, 0, 0, 0)) // missing -> fill
    assert(planes(1).getSeq[Int](1) === Seq(1, 2, 3, 4))
  }

  test("O5: v3 blosc store and missing-chunk zero-fill") {
    val one = Fixtures.corpus4d(spark).filter(col("ome_arrow.id") === "i4d-0000")
    graft.sources.OmeZarr.write(one, "/tmp/graft_test_v3b/i4d-0000.zarr",
      zarrFormat = 3, compressor = "blosc")
    new java.io.File("/tmp/graft_test_v3b/i4d-0000.zarr/0/c/0/0/0/0/0").delete()
    val back = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_v3b/i4d-0000.zarr")
    val sums = OmeOps.explodePlanes(back)
      .select(col("t"), col("c"), col("z"),
        aggregate(col("pixels"), lit(0L), (a, v) => a + v).as("s"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(sums((0, 0, 0)) === 0L) // deleted chunk zero-fills
    assert(sums.size === 8 && sums.values.count(_ > 0) === 7)
  }

  test("O5: chunk extents LARGER than the plane decode via the piece " +
      "path (padded strides)") {
    // legal in Zarr: chunk y/x extents may exceed the array shape, and
    // the single chunk is then PADDED — row stride cX, slab stride
    // cY*cX. Plane strides (sx / sy*sx) would silently misread this
    // layout.
    def mkStore(dir: String, compressor: String,
        chunkBytes: Array[Byte]): Unit = {
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(root.resolve("0"))
      java.nio.file.Files.writeString(root.resolve(".zattrs"),
        """{"multiscales": [{"version": "0.4", "name": "padded", "axes": [
          |{"name": "t", "type": "time"}, {"name": "c", "type": "channel"},
          |{"name": "z", "type": "space"}, {"name": "y", "type": "space"},
          |{"name": "x", "type": "space"}], "datasets": [{"path": "0",
          |"coordinateTransformations": [{"type": "scale",
          |"scale": [1.0, 1.0, 1.0, 1.0, 1.0]}]}]}]}"""
          .stripMargin.replace("\n", ""))
      java.nio.file.Files.writeString(root.resolve("0/.zarray"),
        s"""{"zarr_format": 2, "shape": [1, 1, 1, 3, 2],
           |"chunks": [1, 1, 1, 4, 4], "dtype": "<u2",
           |"compressor": $compressor, "fill_value": 0, "order": "C"}"""
          .stripMargin.replace("\n", ""))
      java.nio.file.Files.write(root.resolve("0/0.0.0.0.0"), chunkBytes)
    }
    // 3x2 plane [[10,20],[30,40],[50,60]] in a 4x4 padded chunk
    val px = Seq(10, 20, 30, 40, 50, 60)
    val padded = new Array[Byte](4 * 4 * 2)
    px.zipWithIndex.foreach { case (v, i) =>
      val idx = (i / 2) * 4 + (i % 2) // row stride 4, not 2
      padded(idx * 2) = (v & 0xff).toByte
      padded(idx * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    mkStore("/tmp/graft_test_padchunk/pad.zarr", "null", padded)
    val raw = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_padchunk/pad.zarr")
      .select(element_at(col("ome_arrow.planes"), 1).getField("pixels"))
      .collect()(0).getSeq[Int](0)
    assert(raw === px)
    // compressed variant: must decode, not die on an inflate-cap error
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(padded); deflater.finish()
    val out = new Array[Byte](128)
    val n = deflater.deflate(out); deflater.end()
    mkStore("/tmp/graft_test_padchunk_z/padz.zarr",
      """{"id": "zlib", "level": 1}""", out.take(n))
    val z = graft.sources.OmeZarr.read(spark,
      "/tmp/graft_test_padchunk_z/padz.zarr")
      .select(element_at(col("ome_arrow.planes"), 1).getField("pixels"))
      .collect()(0).getSeq[Int](0)
    assert(z === px)
  }

  test("readMeta describes a corpus without opening any chunk file") {
    val dir = "/tmp/graft_test_zmeta"
    graft.sources.OmeZarr.write(Fixtures.corpus4d(spark), dir)
    // a missing chunk reads as zeros, so deleting chunk files cannot show
    // that none is opened; a scan whose read schema lacks `planes` lists
    // and opens no chunk file
    val meta = graft.sources.OmeZarr.readMeta(spark, dir)
    val scanSchema = meta.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema().catalogString }.get
    assert(!scanSchema.contains("planes"), s"planes survived pruning: $scanSchema")
    val rows = meta.select(col("ome_arrow.id"),
        col("ome_arrow.pixels_meta.size_x"),
        size(col("ome_arrow.planes"))).orderBy(col("id")).collect()
    assert(rows.length === 4)
    assert(rows.map(_.getString(0)).toSeq ===
      (0 until 4).map(i => f"i4d-$i%04d"))
    assert(rows.forall(_.getInt(1) === 8))
    assert(rows.forall(_.getInt(2) === 0)) // planes intentionally empty
    // the canonical schema is preserved (conform/describe still work)
    assert(graft.schema.OmeSchema.strictMatches(
      meta.schema("ome_arrow").dataType))
  }
}
