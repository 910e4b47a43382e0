package graft

import org.apache.spark.sql.functions._

import graft.operators.{EventOps, MultimodalOps, OmeConstructors, OmeOps}
import graft.schema.Fixtures

/** Unit specs for event analytics and multimodal media operators over
  * crafted micro-inputs (the queries cover them at corpus scale). */
class EventMultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val m = 60L * 1000 * 1000 * 1000 // one minute in ns

  private val events = Seq(
    // user 1: two sessions (45-min gap), click then purchase
    (1L, 0 * m, 1L, "click", 1.0, "{}"),
    (2L, 10 * m, 1L, "purchase", 2.0, "{}"),
    (3L, 55 * m, 1L, "view", 3.0, "{}"),
    // user 2: purchase with no prior click
    (4L, 5 * m, 2L, "purchase", 4.0, "{}"),
    // user 2: later click then purchase
    (5L, 20 * m, 2L, "click", 5.0, "{}"),
    (6L, 30 * m, 2L, "purchase", 6.0, "{}")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("sessionize splits on the inactivity gap") {
    val out = EventOps.sessionize(events, gapMinutes = 30)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((3L, 2L))) // 3 events, 2 sessions (45-min gap)
    assert(out(2L) === ((3L, 1L))) // all within 30 min of each other
  }

  test("asofJoin picks the latest prior left event, null when none") {
    val out = EventOps.asofJoin(events, "click", "purchase")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(2L) === Some(0 * m)) // purchase 2 <- click at t=0
    assert(out(4L) === None)        // no prior click for user 2
    assert(out(6L) === Some(20 * m))
  }

  test("retentionCohorts counts cohort members per day offset") {
    val d = 86400L * 1000 * 1000 * 1000 // one day in ns
    val ev = Seq(
      // users 1,2 first active day 0; user 1 returns day 1 and 3
      (1L, 0 * d, 1L, "click", 1.0, "{}"),
      (2L, 1 * d + m, 1L, "click", 1.0, "{}"),
      (3L, 3 * d, 1L, "click", 1.0, "{}"),
      (4L, m, 2L, "view", 1.0, "{}"),
      // user 3 first active day 1, returns day 2 (same-day dup ignored)
      (5L, 1 * d, 3L, "click", 1.0, "{}"),
      (6L, 1 * d + 2 * m, 3L, "view", 1.0, "{}"),
      (7L, 2 * d, 3L, "click", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.retentionCohorts(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((0L, 0L)) === 2L) // cohort day-0 has two users
    assert(out((0L, 1L)) === 1L) // only user 1 came back next day
    assert(out((0L, 3L)) === 1L)
    assert(out((1L, 0L)) === 1L) // user 3's own cohort
    assert(out((1L, 1L)) === 1L)
    assert(!out.contains((0L, 2L))) // nobody from cohort 0 on day 2
  }

  test("funnel orders steps strictly and sums conversion gaps") {
    val out = EventOps.funnel(events, Seq("click", "purchase")).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    // user 1: click@0 -> purchase@10m; user 2: click@20m -> purchase@30m
    // (the 5m purchase precedes the click, so it must not count)
    assert(out(1) === (("click", 2L, 0L)))
    assert(out(2) === (("purchase", 2L, 20 * m)))
  }

  test("funnel maxGap bounds the conversion window") {
    // user 1 converts in 10m, user 2 in 10m; a 5m window drops both,
    // a 15m window keeps both
    val tight = EventOps.funnel(events, Seq("click", "purchase"), 5 * m)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(tight(1) === 2L)
    assert(tight(2) === 0L)
    val wide = EventOps.funnel(events, Seq("click", "purchase"), 15 * m)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(wide(2) === 2L)
  }

  test("funnel emits empty downstream steps as zero rows, not missing") {
    val out = EventOps.funnel(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
    // only user 1 views (at 55m, after every click) -> funnel dies there
    assert(out(1) === ((1L, 0L)))
    assert(out(2) === ((0L, 0L)))
    assert(out(3) === ((0L, 0L)))
  }

  test("anomalyScores z-scores a spike against the trailing window") {
    val d = 86400L * 1000 * 1000 * 1000
    // day 0: 10 events, day 1: 14, day 2: 30 (the spike)
    val rows = (Seq.fill(10)(0L) ++ Seq.fill(14)(1L) ++ Seq.fill(30)(2L))
      .zipWithIndex.map { case (day, i) =>
        (i.toLong, day * d + i, 1L, "x", 1.0, "{}")
      }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value",
      "props")
    val out = EventOps.anomalyScores(ev, window = 2).collect()
    assert(out.length === 1) // only day 2 has a full 2-day history
    val r = out(0)
    assert(r.getAs[Long]("day") === 2L)
    assert(r.getAs[Long]("n_events") === 30L)
    assert(r.getAs[Double]("mean_prior") === 12.0)
    // var = ((100+196) - 24*24/2) / 1 = 8; z = 18 / sqrt(8) = 6.363961
    assert(r.getAs[Double]("z_score") === 6.363961)
    assert(r.getAs[Int]("is_spike") === 1)
  }

  test("anomalyScores emits NULL z on a zero-variance window") {
    val d = 86400L * 1000 * 1000 * 1000
    val rows = (Seq.fill(5)(0L) ++ Seq.fill(5)(1L) ++ Seq.fill(9)(2L))
      .zipWithIndex.map { case (day, i) =>
        (i.toLong, day * d + i, 1L, "x", 1.0, "{}")
      }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value",
      "props")
    val r = EventOps.anomalyScores(ev, window = 2).collect()(0)
    assert(r.isNullAt(r.fieldIndex("z_score"))) // prior days 5,5 -> var 0
    assert(r.isNullAt(r.fieldIndex("is_spike")))
  }

  test("funnel matches a brute-force reference on seeded random events") {
    val rnd = new scala.util.Random(7)
    val types = Seq("a", "b", "c")
    for (trial <- 1 to 6) {
      val rows = (0 until 120).map { i =>
        (i.toLong, rnd.nextInt(100).toLong * m, (1 + rnd.nextInt(6)).toLong,
          types(rnd.nextInt(3)), 1.0, "{}")
      }
      val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value",
        "props")
      val got = EventOps.funnel(ev, types).collect()
        .map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
      // reference: per user, chain earliest strictly-later step times
      val byUser = rows.groupBy(_._3)
      var frontier: Map[Long, Long] = byUser.flatMap { case (u, es) =>
        val ts = es.filter(_._4 == "a").map(_._2)
        if (ts.isEmpty) None else Some(u -> ts.min)
      }
      assert(got(1) === ((frontier.size.toLong, 0L)), s"trial $trial step 1")
      for ((st, i) <- Seq("b", "c").zipWithIndex) {
        val next = frontier.flatMap { case (u, t0) =>
          val ts = byUser.getOrElse(u, Seq())
            .filter(e => e._4 == st && e._2 > t0).map(_._2)
          if (ts.isEmpty) None else Some(u -> ts.min)
        }
        val gaps = next.map { case (u, t1) => t1 - frontier(u) }.sum
        assert(got(i + 2) === ((next.size.toLong, gaps)),
          s"trial $trial step ${i + 2}")
        frontier = next
      }
    }
  }

  test("readEvents normalizes a timestamp[ms] generation to epoch-nanos") {
    // hand-write a MILLIS-annotated parquet (Spark only writes µs, so
    // this generation must come from the low-level writer) — the footer
    // probe has to rescale x1e6, not assume µs
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA,
      PrimitiveType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .addField(Types.required(INT64).named("event_id"))
      .addField(Types.required(INT64)
        .as(LTA.timestampType(false, LTA.TimeUnit.MILLIS)).named("ts"))
      .addField(Types.required(INT64).named("user_id"))
      .addField(Types.required(BINARY).as(LTA.stringType)
        .named("event_type"))
      .addField(Types.required(DOUBLE).named("value"))
      .addField(Types.required(BINARY).as(LTA.stringType).named("props"))
      .named("events")
    val dir = new java.io.File("/tmp/graft_test_msunit")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    val path = new org.apache.hadoop.fs.Path(
      s"${dir.getPath}/events.parquet")
    val writer = ExampleParquetWriter.builder(path).withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    try Seq((1L, 86400000L, 1L), (2L, 90000000L, 2L)).foreach {
      case (id, ms, u) =>
        val g = gf.newGroup()
        g.add("event_id", id); g.add("ts", ms); g.add("user_id", u)
        g.add("event_type", "view"); g.add("value", 1.0)
        g.add("props", "{}")
        writer.write(g)
    } finally writer.close()
    val got = EventOps.readEvents(spark, dir.getPath)
      .select(col("event_id"), col("ts"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 86400000L * 1000000L) // ms -> ns
    assert(got(2L) === 90000000L * 1000000L)
    // and the day arithmetic lands on the right epoch day
    val days = EventOps.dailyRollup(EventOps.readEvents(spark, dir.getPath))
      .select(col("day")).collect().map(_.getLong(0)).toSet
    assert(days === Set(1L))
  }

  test("readEvents passes nanos-annotated and plain-int64 generations " +
      "through unscaled") {
    // the original testdata stored ts as NANOS-annotated int64 (read
    // raw under nanosAsLong); a plain unannotated int64 is epoch-nanos
    // by convention — both must pass through x1, pinning the legacy
    // branch now that the on-disk testdata is timestamp[us]
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def write(dir: String, annotate: Boolean): Unit = {
      val tsField =
        if (annotate) Types.required(INT64)
          .as(LTA.timestampType(false, LTA.TimeUnit.NANOS)).named("ts")
        else Types.required(INT64).named("ts")
      val schema = Types.buildMessage()
        .addField(Types.required(INT64).named("event_id"))
        .addField(tsField)
        .addField(Types.required(INT64).named("user_id"))
        .addField(Types.required(BINARY).as(LTA.stringType)
          .named("event_type"))
        .addField(Types.required(DOUBLE).named("value"))
        .addField(Types.required(BINARY).as(LTA.stringType).named("props"))
        .named("events")
      val d = new java.io.File(dir)
      org.apache.commons.io.FileUtils.deleteQuietly(d)
      d.mkdirs()
      val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
        .withType(schema).build()
      val gf = new SimpleGroupFactory(schema)
      try {
        val g = gf.newGroup()
        g.add("event_id", 1L); g.add("ts", 86400L * 1000000000L + 7L)
        g.add("user_id", 1L); g.add("event_type", "view")
        g.add("value", 1.0); g.add("props", "{}")
        w.write(g)
      } finally w.close()
    }
    for ((dir, ann) <- Seq(("/tmp/graft_test_nsunit", true),
        ("/tmp/graft_test_rawunit", false))) {
      write(dir, ann)
      val ts = EventOps.readEvents(spark, dir)
        .select(col("ts")).collect()(0).getLong(0)
      assert(ts === 86400L * 1000000000L + 7L, s"annotated=$ann")
    }
  }

  test("the event readers leave the session's parquet nanos flag as " +
      "they found it") {
    import spark.implicits._
    import graft.streaming.EventStream
    val dir = java.nio.file.Files.createTempDirectory("graft_events")
      .toString
    Seq((1L, 86400L * 1000000000L, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getAll.get(flag)
    spark.conf.unset(flag)
    try for ((name, call) <- Seq[(String, () => Any)](
        "readEvents" -> (() => EventOps.readEvents(spark, dir).collect()),
        "tsUnitNanos" -> (() => EventStream.tsUnitNanos(spark, dir)),
        "windowedRollup" -> (() => EventStream.windowedRollup(spark, dir)),
        "attributionJoinStream" ->
          (() => EventStream.attributionJoinStream(spark, dir)),
        "sessionStream" -> (() => EventStream.sessionStream(spark, dir)))) {
      call()
      assert(spark.conf.getAll.get(flag).isEmpty, s"$name set $flag")
    } finally before.foreach(spark.conf.set(flag, _))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("tsUnitNanosOf rejects a mixed-unit part directory loudly") {
    // r8 ADVICE: probing only the first part would rescale a
    // mixed-generation lake by one part's unit, silently corrupting
    // every other part's timestamps — the probe must read EVERY footer
    // and fail on disagreement
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val dir = new java.io.File("/tmp/graft_test_mixedunit/events.parquet")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    dir.mkdirs()
    def write(part: String, unit: LTA.TimeUnit): Unit = {
      val schema = Types.buildMessage()
        .addField(Types.required(INT64).named("event_id"))
        .addField(Types.required(INT64)
          .as(LTA.timestampType(false, unit)).named("ts"))
        .named("events")
      val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"${dir.getPath}/$part"))
        .withType(schema).build()
      val gf = new SimpleGroupFactory(schema)
      try {
        val g = gf.newGroup()
        g.add("event_id", 1L); g.add("ts", 86400000L)
        w.write(g)
      } finally w.close()
    }
    write("part-00000.parquet", LTA.TimeUnit.MILLIS)
    write("part-00001.parquet", LTA.TimeUnit.MICROS)
    val ex = intercept[IllegalArgumentException] {
      EventOps.tsUnitNanosOf(spark, dir.getPath)
    }
    assert(ex.getMessage.contains("mixed ts units"))
    // homogeneous directories still resolve (both parts MILLIS)
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    dir.mkdirs()
    write("part-00000.parquet", LTA.TimeUnit.MILLIS)
    write("part-00001.parquet", LTA.TimeUnit.MILLIS)
    assert(EventOps.tsUnitNanosOf(spark, dir.getPath) === 1000000L)
  }

  test("transitionMatrix matches a brute-force reference on seeded " +
      "random events") {
    val rnd = new scala.util.Random(11)
    val types = Seq("a", "b", "c", "d")
    for (trial <- 1 to 4) {
      // (ts, event_id) totalizes each user's timeline in both the
      // operator and the brute force, so ts collisions are safe
      val rows = (0 until 150).map { i =>
        (i.toLong, rnd.nextInt(500).toLong * m, (1 + rnd.nextInt(5)).toLong,
          types(rnd.nextInt(4)), 1.0, "{}")
      }
      val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value",
        "props")
      val got = EventOps.transitionMatrix(ev).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = rows.groupBy(_._3).values.flatMap { es =>
        es.sortBy(e => (e._2, e._1)).sliding(2).collect {
          case Seq(p, n) => (p._4, n._4)
        }
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got === want, s"trial $trial")
    }
  }

  test("transitionMatrix counts consecutive pairs with exact leaving " +
      "probabilities") {
    val out = EventOps.transitionMatrix(events)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // user 1: click->purchase, purchase->view; user 2: purchase->click,
    // click->purchase
    assert(out(("click", "purchase")) === ((2L, 1.0)))
    assert(out(("purchase", "view")) === ((1L, 0.5)))
    assert(out(("purchase", "click")) === ((1L, 0.5)))
    assert(out.size === 3)
  }

  test("engagement reports DAU, trailing WAU, and stickiness") {
    val d = 86400L * 1000 * 1000 * 1000 // one day in ns
    val ev = Seq(
      (1L, 0 * d, 1L, "view", 0.0, "{}"),
      (2L, 0 * d + 5, 2L, "view", 0.0, "{}"),
      (3L, 1 * d, 1L, "view", 0.0, "{}"),
      (4L, 9 * d, 3L, "view", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.engagement(ev, windowDays = 7)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L) === ((2L, 2L, 1.0)))      // users 1,2 active day 0
    assert(out(1L) === ((1L, 2L, 0.5)))      // day 1: u1 active, u2 in window
    assert(out(9L) === ((1L, 1L, 1.0)))      // day 9: only u3 (window rolled)
    assert(out.size === 3)                   // only observed days reported
  }

  test("cubeRollup includes slices and the grand total") {
    val out = EventOps.cubeRollup(events).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))) -> r.getLong(2)).toMap
    assert(out((None, None)) === 6L) // grand total
    assert(out((Some("purchase"), Some(0L))) === 3L)
    assert(out((Some("click"), None)) === 2L)
  }

  test("propsRollup extracts typed JSON properties with NULL on bad rows") {
    val ev = Seq(
      (1L, 0 * m, 1L, "click", 1.0, """{"k": 5}"""),
      (2L, 1 * m, 1L, "click", 1.0, """{"k": 7}"""),
      (3L, 2 * m, 2L, "click", 1.0, """{"other": 1}"""), // missing key
      (4L, 3 * m, 2L, "view", 1.0, "not json"),          // malformed
      (5L, 4 * m, 2L, "view", 1.0, """{"k": 5}""")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.propsRollup(ev, "k").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(6))).toMap
    // clicks: 3 rows, 1 missing, distinct {5, 7} = 2
    assert(out("click") === ((3L, 1L, 2L)))
    // views: 2 rows, 1 malformed->missing, distinct {5} = 1
    assert(out("view") === ((2L, 1L, 1L)))
    val click = EventOps.propsRollup(ev, "k")
      .filter(col("event_type") === "click").collect()(0)
    assert(click.getLong(3) === 5L && click.getLong(4) === 7L &&
      click.getLong(6) === 2L)
    assert(click.getAs[Long]("prop_sum") === 12L)
  }

  test("media round-trip: frameSample then features") {
    val media = MultimodalOps.mediaFromOme(Fixtures.corpus4d(spark))
    val sampled = MultimodalOps.frameSample(media, 4) // keep pages 0 and 4
    val feats = MultimodalOps.imageFeatures(sampled).collect()
    assert(feats.forall(_.getAs[Int]("n_frames") === 2))
    assert(feats.forall(_.getAs[Long]("n_px") === 128L))
  }

  test("WavCodec round-trips PCM16 and decodes hand-built 8/24/32-bit") {
    import graft.sources.WavCodec
    // PCM16 encode → decode round-trip, stereo, clamping pinned
    val left = Array(0, 1000, -1000, 32767, -32768, 40000, -40000)
    val right = Array(5, -5, 0, 12345, -12345, 7, -7)
    val wav = WavCodec.decode(WavCodec.encode(44100, Array(left, right)))
    assert(wav.sampleRate === 44100)
    assert(wav.bitsPerSample === 16)
    assert(wav.nChannels === 2)
    assert(wav.channels(0).toSeq ===
      Seq(0, 1000, -1000, 32767, -32768, 32767, -32768)) // clamped
    assert(wav.channels(1).toSeq === right.toSeq)

    // hand-built mono WAVs at other depths (LE, signed except 8-bit)
    def handWav(bits: Int, dataBytes: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer
        .allocate(44 + dataBytes.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + dataBytes.length)
        .put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(8000 * bits / 8).putShort((bits / 8).toShort)
        .putShort(bits.toShort)
      bb.put("data".getBytes).putInt(dataBytes.length).put(dataBytes)
      bb.array()
    }
    // 8-bit unsigned: 0 → -128, 128 → 0, 255 → 127
    val w8 = WavCodec.decode(handWav(8,
      Array(0, 128, 255).map(_.toByte)))
    assert(w8.channels(0).toSeq === Seq(-128, 0, 127))
    // 24-bit: 0x000001=1, 0xFFFFFF=-1, 0x800000=-2^23
    val w24 = WavCodec.decode(handWav(24, Array[Byte](
      1, 0, 0, -1, -1, -1, 0, 0, 0x80.toByte)))
    assert(w24.channels(0).toSeq === Seq(1, -1, -(1 << 23)))
    // 32-bit: min/max int
    val bb32 = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(Int.MaxValue).putInt(Int.MinValue)
    val w32 = WavCodec.decode(handWav(32, bb32.array()))
    assert(w32.channels(0).toSeq === Seq(Int.MaxValue, Int.MinValue))
  }

  test("WavCodec skips unknown chunks and rejects hostile streams loudly") {
    import graft.sources.WavCodec
    val base = WavCodec.encode(8000, Array(Array(1, -2, 3)))
    // splice an odd-sized LIST chunk between fmt and data: the walker
    // must skip it (with pad byte) and still find the data chunk
    val fmtEnd = 12 + 8 + 16
    val list = "LIST".getBytes ++
      Array[Byte](3, 0, 0, 0) ++ Array[Byte](7, 8, 9) ++ Array[Byte](0)
    val spliced = base.take(fmtEnd) ++ list ++ base.drop(fmtEnd)
    // fix RIFF size (not validated, but keep the stream honest)
    assert(WavCodec.decode(spliced).channels(0).toSeq === Seq(1, -2, 3))

    def msg(b: Array[Byte]) =
      intercept[IllegalArgumentException](WavCodec.decode(b)).getMessage
    assert(msg(Array[Byte](1, 2, 3)).contains("truncated"))
    assert(msg("JUNK".getBytes ++ base.drop(4)).contains("not a RIFF"))
    // float format (3) rejected, not silently mis-decoded
    val floatWav = base.clone()
    floatWav(20) = 3 // audioFormat LE low byte
    assert(msg(floatWav).contains("unsupported audio format"))
    // chunk declaring more bytes than remain → loud, no OOM allocation
    val lying = base.clone()
    val dataSizeOff = fmtEnd + 4
    lying(dataSizeOff) = -1; lying(dataSizeOff + 1) = -1
    lying(dataSizeOff + 2) = -1; lying(dataSizeOff + 3) = 0x7f
    assert(msg(lying).contains("declares"))
  }

  test("audioFeatures computes exact energy/crossings/peak from real WAV") {
    val media = spark.range(2).map { id =>
      val n = 50 + id.toInt * 10
      val chans = Array.tabulate(2)(ch => Array.tabulate(n)(i =>
        ((i * 37 + ch * 13 + id.toInt * 11) % 401) - 200))
      MultimodalOps.MediaRow(s"a$id", "audio/wav",
        graft.sources.WavCodec.encode(16000, chans), 0, 0, 0)
    }
    val out = MultimodalOps.audioFeatures(media).collect()
      .map(r => r.getAs[String]("media_id") -> r).toMap
    // brute-force reference
    for (id <- 0 to 1) {
      val n = 50 + id * 10
      val chans = Array.tabulate(2)(ch => Array.tabulate(n)(i =>
        ((i * 37 + ch * 13 + id * 11) % 401) - 200))
      val r = out(s"a$id")
      assert(r.getAs[Long]("n_frames") === n.toLong)
      assert(r.getAs[Int]("n_channels") === 2)
      assert(r.getAs[Int]("sample_rate") === 16000)
      assert(r.getAs[Long]("rms_q") ===
        chans.flatten.map(v => v.toLong * v).sum)
      assert(r.getAs[Long]("peak") === chans.flatten.map(math.abs).max.toLong)
      val zc = chans.map(ch => ch.sliding(2).count(p =>
        (p(0) < 0) != (p(1) < 0))).sum
      assert(r.getAs[Long]("zero_crossings") === zc.toLong)
    }
    // determinism across reruns
    val a = MultimodalOps.audioFeatures(media).collect().map(_.toString).sorted
    val b = MultimodalOps.audioFeatures(media).collect().map(_.toString).sorted
    assert(a === b)
  }

  test("constructor defaults produce a valid, parquet-writable record") {
    val df = OmeConstructors.toOmeArrow(spark, imageId = "unit-test")
    assert(OmeOps.verifySchema(df, strict = true))
    assert(df.select(size(col("ome_arrow.planes"))).collect()(0).getInt(0) === 1)
    assert(df.select(aggregate(
      element_at(col("ome_arrow.planes"), 1).getField("pixels"),
      lit(0L), (a, v) => a + v)).collect()(0).getLong(0) === 0L)
  }

  test("skewReport ranks heavy keys with exact shares and mean ratios") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("id", "k")
    val out = graft.operators.EventOps.skewReport(df, col("k"), topN = 2)
      .collect()
    assert(out.length === 2)
    val r1 = out.find(_.getInt(0) == 1).get
    assert(r1.getString(1) === "a" && r1.getLong(2) === 6L)
    assert(r1.getLong(3) === 10L && r1.getLong(4) === 3L)
    assert(r1.getDouble(5) === 0.6) // share
    assert(r1.getDouble(6) === 1.8) // 6 * 3 / 10
    val r2 = out.find(_.getInt(0) == 2).get
    assert(r2.getString(1) === "b" && r2.getDouble(6) === 0.9)
    spark.catalog.clearCache()
  }

  test("asofJoinWith: backward/forward/nearest with tolerance and ties") {
    // left (purchases) at t=10m, 30m; right (clicks) at t=0, 10m, 50m
    val left = Seq((100L, 10 * m, 1L), (101L, 30 * m, 1L), (102L, 5 * m, 2L))
      .toDF("event_id", "ts", "user_id")
    val right = Seq((200L, 0 * m, 1L), (201L, 10 * m, 1L), (202L, 50 * m, 1L))
      .toDF("event_id", "ts", "user_id")
    def run(dir: String, tol: Long = -1L) =
      graft.operators.EventOps.asofJoinWith(left, right,
        direction = dir, toleranceNs = tol)
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(3)).map(_.asInstanceOf[Long]),
           Option(r.get(5)).map(_.asInstanceOf[Long]))).toMap
    val b = run("backward")
    // exact match at t=10m included (201); user 2 has no clicks -> NULL
    assert(b(100L) === (Some(201L), Some(0L)))
    assert(b(101L) === (Some(201L), Some(20 * m)))
    assert(b(102L) === (None, None))
    val f = run("forward")
    assert(f(100L) === (Some(201L), Some(0L)))
    assert(f(101L) === (Some(202L), Some(20 * m)))
    assert(f(102L) === (None, None))
    // nearest at 30m: backward gap 20m == forward gap 20m -> backward
    val n = run("nearest")
    assert(n(101L) === (Some(201L), Some(20 * m)))
    // tolerance 15m: both 20m candidates die
    val nt = run("nearest", 15 * m)
    assert(nt(101L) === (None, None))
    assert(nt(100L) === (Some(201L), Some(0L)))
    // forward-only survivor under tolerance: purchase 30m, tol 25m ->
    // backward 20m ok... shrink: tol 5m kills both for 101
    val bt = run("backward", 5 * m)
    assert(bt(101L) === (None, None))
    spark.catalog.clearCache()
  }

  test("rangeJoinBinned equals the direct non-equi join incl. boundaries") {
    // intervals crafted to straddle bin boundaries (bin = 10 units) and
    // to meet probes exactly at start/end (inclusive on both)
    val intervals = Seq(
      (1L, 1L, 5L, 25L),   // spans bins 0,1,2
      (1L, 2L, 40L, 40L),  // degenerate single-point interval
      (2L, 1L, 8L, 12L)    // crosses one boundary
    ).toDF("user_id", "session_idx", "start_ts", "end_ts")
    val probes = Seq(
      (100L, 1L, 5L),   // exact start
      (101L, 1L, 25L),  // exact end
      (102L, 1L, 26L),  // just outside
      (103L, 1L, 40L),  // point interval hit
      (104L, 2L, 10L),  // inside, at a bin boundary
      (105L, 2L, 13L),  // outside
      (106L, 3L, 10L)   // no intervals for user 3
    ).toDF("event_id", "user_id", "ts")
    val got = graft.operators.EventOps
      .rangeJoinBinned(probes, intervals, binNs = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val direct = probes.as("p").join(intervals.as("i"),
        col("p.user_id") === col("i.user_id") &&
        col("p.ts") >= col("i.start_ts") && col("p.ts") <= col("i.end_ts"))
      .select(col("p.event_id"), col("i.session_idx"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === direct)
    assert(got === Set((100L, 1L), (101L, 1L), (103L, 2L), (104L, 1L)))
    spark.catalog.clearCache()
  }

  test("sessionSpans emits one row per gap session with exact bounds") {
    val ev = Seq(
      (1L, 0 * m, 1L), (2L, 10 * m, 1L),   // session 1: [0, 10m]
      (3L, 55 * m, 1L),                    // session 2: [55m, 55m]
      (4L, 7 * m, 2L)                      // user 2, one session
    ).toDF("event_id", "ts", "user_id")
    val spans = graft.operators.EventOps.sessionSpans(ev, gap = 30 * m)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(spans((1L, 1L)) === (0L, 10 * m, 2L))
    assert(spans((1L, 2L)) === (55 * m, 55 * m, 1L))
    assert(spans((2L, 1L)) === (7 * m, 7 * m, 1L))
    spark.catalog.clearCache()
  }

  test("grain merge equals full recompute for any corpus split") {
    val ev = Seq(
      (1L, 0 * m, 1L, "click", 1.25, "{}"),
      (2L, 10 * m, 1L, "click", 2.50, "{}"),
      (3L, 24 * 60 * m + 5 * m, 1L, "click", 0.75, "{}"),
      (4L, 20 * m, 2L, "view", 3.00, "{}"),
      (5L, 30 * m, 2L, "click", 1.00, "{}"),
      (6L, 40 * m, 1L, "view", 4.50, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val full = graft.operators.EventOps.rollupFromGrain(
      graft.operators.EventOps.rollupGrain(ev))
    // split puts the SAME (click, day0, user1) grain in both halves
    val merged = graft.operators.EventOps.rollupFromGrain(
      graft.operators.EventOps.mergeGrain(
        graft.operators.EventOps.rollupGrain(ev.filter(col("event_id") <= 3)),
        graft.operators.EventOps.rollupGrain(ev.filter(col("event_id") > 3))))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getLong(1))
    val f = full.collect().map(r => key(r) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val g = merged.collect().map(r => key(r) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(f === g)
    // the overlapping grain merged: day-0 clicks = 3 events, 2 users
    assert(f(("click", 0L)) === (3L, 475L, 2L))
    spark.catalog.clearCache()
  }

  test("scd2Build collapses a change log into versioned intervals") {
    val ev = Seq(
      (1L, 0 * m, 1L, "free", 0.0, "{}"),
      (2L, 10 * m, 1L, "free", 0.0, "{}"),  // same state -> no version
      (3L, 20 * m, 1L, "pro", 0.0, "{}"),
      (4L, 30 * m, 1L, "free", 0.0, "{}"),  // back to free = NEW version
      (5L, 5 * m, 2L, "pro", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.operators.EventOps.scd2Build(ev)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        (r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out.size === 4)
    assert(out((1L, 1)) === ("free", 0L, 20 * m))
    assert(out((1L, 2)) === ("pro", 20 * m, 30 * m))
    assert(out((1L, 3)) === ("free", 30 * m, -1L)) // open version
    assert(out((2L, 1)) === ("pro", 5 * m, -1L))
    spark.catalog.clearCache()
  }

  test("typeRank matches an independent integer power-iteration replay") {
    // a -> b (always), b -> a or b -> b; the sink-ish b must outrank a
    val ev = Seq(
      (1L, 0 * m, 1L, "a", 0.0, "{}"), (2L, 1 * m, 1L, "b", 0.0, "{}"),
      (3L, 2 * m, 1L, "b", 0.0, "{}"), (4L, 3 * m, 1L, "a", 0.0, "{}"),
      (5L, 0 * m, 2L, "a", 0.0, "{}"), (6L, 1 * m, 2L, "b", 0.0, "{}"),
      (7L, 2 * m, 2L, "b", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.operators.EventOps.typeRank(ev, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // edges: a->b w=2 (users 1,2), b->b w=2, b->a w=1; Wa=2, Wb=3
    var ra = 1000000000L / 2; var rb = 1000000000L / 2
    val base = (15L * 1000000000L) / (100L * 2)
    for (_ <- 1 to 3) {
      val ca = (rb * 1) / 3                  // b->a
      val cb = (ra * 2) / 2 + (rb * 2) / 3   // a->b, b->b
      val na = base + (85L * ca) / 100
      val nb = base + (85L * cb) / 100
      ra = na; rb = nb
    }
    assert(out("a") === ra, s"a: ${out("a")} vs $ra")
    assert(out("b") === rb, s"b: ${out("b")} vs $rb")
    assert(out("b") > out("a"))
    spark.catalog.clearCache()
  }
}
