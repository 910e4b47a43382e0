package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{OmeConstructors, OmeOps}
import graft.schema.Fixtures

/** Downscale / stride / percentile / dense-bridge / explode-nest specs. */
class OpsSpec extends SparkSpec with ModePairs {

  test("downscale2x computes exact floor block means (conftest 4x3 -> 2x1)") {
    val out = OmeOps.downscale2x(Fixtures.conftestDf(spark))
    val sizes = out.select(col("ome_arrow.pixels_meta.size_x"),
      col("ome_arrow.pixels_meta.size_y"),
      col("ome_arrow.pixels_meta.physical_size_x")).collect()(0)
    assert(sizes.getInt(0) === 2 && sizes.getInt(1) === 1)
    assert(math.abs(sizes.getFloat(2) - 1.3f) < 1e-6)
    val px = out.select(element_at(col("ome_arrow.planes"), 1).getField("pixels"))
      .collect()(0).getSeq[Int](0)
    // blocks of [0,1,2,3;10,11,12,13]: (0+1+10+11)/4=5, (2+3+12+13)/4=7
    assert(px === Seq(5, 7))
  }

  test("graft_synth_ramp matches the column ramp formulation") {
    graft.functions.ensureRegistered(spark)
    // includes a base past the 65536 wrap so the modulus is exercised
    val df = spark.range(5)
      .select((col("id") * 31 + 65530L).as("base"))
      .select(
        graft.functions.synth_ramp(col("base"), lit(10)).as("a"),
        transform(sequence(lit(0), lit(9)),
          p => ((col("base") + p) % 65536).cast("int")).as("b"))
    assert(df.filter(not(col("a") <=> col("b"))).count() === 0)
  }

  test("syntheticImages(textured = true) squares the pixel index in " +
      "long: a 256x256 plane (past the int overflow at 46,341 px) " +
      "matches the closed form") {
    val px = Fixtures.syntheticImages(spark, 1, t = 1, c = 1, z = 1,
        sy = 256, sx = 256, textured = true)
      .select(element_at(col("ome_arrow.planes"), 1).getField("pixels"))
      .head().getSeq[Int](0)
    assert(px.length === 65536)
    // image 0, t = c = z = 0: base 0, pixel p = p^2 * (1 + row % 2)
    for (p <- Seq(0, 1, 255, 256, 46340, 46341, 65535))
      assert(px(p) === ((p.toLong * p * (1 + (p / 256) % 2)) % 65536).toInt,
        s"pixel $p")
  }

  test("graft_pixel_sum matches the aggregate fold") {
    graft.functions.ensureRegistered(spark)
    val df = spark.range(20).select(
      graft.functions.synth_ramp(col("id") * 65000L, lit(50)).as("px"))
      .select(
        graft.functions.pixel_sum(col("px")).as("a"),
        aggregate(col("px"), lit(0L), (acc, v) => acc + v).as("b"))
    assert(df.filter(not(col("a") <=> col("b"))).count() === 0)
  }

  test("graft_pixel_count_ge matches the filtered-size fold") {
    graft.functions.ensureRegistered(spark)
    val df = spark.range(20).select(
      graft.functions.synth_ramp(col("id") * 65000L, lit(50)).as("px"))
      .select(
        graft.functions.pixel_count_ge(col("px"), lit(30000)).as("a"),
        size(filter(col("px"), v => v >= 30000)).cast("long").as("b"))
    assert(df.filter(not(col("a") <=> col("b"))).count() === 0)
  }

  test("graft_pixel_brenner matches the second-difference fold under " +
      "codegen and interpreted eval") {
    graft.functions.ensureRegistered(spark)
    import spark.implicits._
    // hostile planes: extreme uint16 values, a partial trailing row
    // (ignored), w < 3 (no diffs fit), sx <= 0 (scores 0, stays
    // non-null per the Catalyst nullability contract)
    val rows = Seq(
      (Array(0, 65535, 0, 65535, 7, 123, 999, 4), 4),
      (Array(5, 9, 1, 4, 8, 2, 7, 7, 7, 1), 4), // 10 px: trailing 2 dropped
      (Array(1, 2, 3, 4, 5, 6), 2),             // w=2: zero diffs
      (Array(1, 2, 3), 3),                      // exactly one diff: (3-1)^2
      (Array(1, 2, 3, 4), 0),                   // sx=0 -> 0
      (Array(1, 2, 3, 4), -2))                  // sx<0 -> 0
    val df = rows.toDF("px", "w")
    // reference formulation: index i participates iff its row is
    // complete (i - i%w + w <= n) and x = i%w has x+2 < w
    def ref(px: org.apache.spark.sql.Column,
        w: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val n = size(px)
      when(w <= 0, lit(0L)).otherwise(
        aggregate(
          filter(sequence(lit(0), n - 1), i =>
            (i % w < w - 2) && (i - (i % w) + w <= n)),
          lit(0L),
          (acc, i) => {
            val d = (element_at(px, i + 3) - element_at(px, i + 1))
              .cast("long")
            acc + d * d
          }))
    }
    for (mode <- Seq("FALLBACK", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val out = df.select(
          graft.functions.pixel_brenner(col("px"), col("w")).as("a"),
          ref(col("px"), col("w")).as("b")).collect()
        out.foreach(r => assert(r.getLong(0) === r.getLong(1), mode))
        // pinned literals so the ref fold itself has teeth
        assert(out(2).getLong(0) === 0L)
        assert(out(3).getLong(0) === 4L)
        assert(out(4).getLong(0) === 0L)
        assert(out(5).getLong(0) === 0L)
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("graft_pixel_dot matches the zip_with fold, NULLs on length " +
      "mismatch") {
    graft.functions.ensureRegistered(spark)
    val df = spark.range(20).select(
      graft.functions.synth_ramp(col("id") * 65000L, lit(50)).as("a"),
      graft.functions.synth_ramp(col("id") * 31337L, lit(50)).as("b"))
      .select(
        graft.functions.pixel_dot(col("a"), col("b")).as("x"),
        aggregate(zip_with(col("a"), col("b"), (p, q) =>
          p.cast("long") * q), lit(0L), (acc, v) => acc + v).as("y"))
    assert(df.filter(not(col("x") <=> col("y"))).count() === 0)
    // mismatched lengths: NULL, never a silent shorter-prefix dot that
    // would desync colocalization's n/Σx/Σy from Σxy (r8 ADVICE) —
    // pinned in BOTH eval and codegen paths
    import spark.implicits._
    assertBothModes(Seq((Array(2, 3, 4), Array(5, 7))).toDF("a", "b")
      .select(graft.functions.pixel_dot(col("a"), col("b"))))(Seq(Row(null)))
  }

  test("colocalization computes exact Pearson r: +1 linear, -1 " +
      "inverted, NULL constant") {
    // one image, t=1, z=1, THREE channels of a 2x2 plane:
    //   c0 = (10, 20, 30, 40)            base ramp
    //   c1 = (20, 40, 60, 80)            = 2*c0        -> r(c0,c1) = +1
    //   c2 = (40, 30, 20, 10)            reversed      -> r(c0,c2) = -1
    val rec = OmeConstructors.fromDense(
      spark.range(1).select(
        lit("colo-1").as("id"),
        array(Seq(10, 20, 30, 40, 20, 40, 60, 80, 40, 30, 20, 10)
          .map(lit(_)): _*).as("dense")),
      dimOrder = "CYX", sizeC = 3, sizeY = 2, sizeX = 2)
    val out = OmeOps.colocalization(rec)
      .collect().map(r => (r.getInt(1), r.getInt(2)) ->
        (if (r.isNullAt(8)) None else Some(r.getDouble(8)))).toMap
    assert(out((0, 1)) === Some(1.0))
    assert(out((0, 2)) === Some(-1.0))
    assert(out((1, 2)) === Some(-1.0))
    // constant channel -> zero variance -> NULL r
    val const = OmeConstructors.fromDense(
      spark.range(1).select(
        lit("colo-2").as("id"),
        array(Seq(1, 2, 3, 4, 9, 9, 9, 9).map(lit(_)): _*).as("dense")),
      dimOrder = "CYX", sizeC = 2, sizeY = 2, sizeX = 2)
    val cr = OmeOps.colocalization(const).collect()(0)
    assert(cr.isNullAt(8))
    assert(cr.getLong(7) === (1L * 9 + 2 * 9 + 3 * 9 + 4 * 9)) // sum_xy exact
  }

  test("qcReport flags saturation above the level, exact means") {
    // one image, 1x1x1 of 2x2: pixels 0,1,2,3 (img 0 => base 0)
    val img = Fixtures.syntheticImages(spark, 1, t = 1, c = 1, z = 1,
      sy = 2, sx = 2)
    val r = OmeOps.qcReport(img, satLevel = 2).collect()(0)
    assert(r.getAs[Long]("n_planes") === 1L)
    assert(r.getAs[Int]("px_min") === 0)
    assert(r.getAs[Int]("px_max") === 3)
    assert(r.getAs[Double]("mean_v") === 1.5)
    assert(r.getAs[Double]("sat_frac") === 0.5) // pixels 2 and 3 of 4
    assert(r.getAs[Long]("n_px") === 4L)
  }

  test("histogram bins pixels by count_ge differences, drops out-of-range") {
    // one 2x2 plane: pixels 0,1,2,3
    val img = Fixtures.syntheticImages(spark, 1, t = 1, c = 1, z = 1,
      sy = 2, sx = 2)
    val bins = OmeOps.histogram(img, nBins = 2, lo = 0, hi = 4).collect()
      .map(r => r.getAs[Int]("bin") -> r.getAs[Long]("n_px")).toMap
    assert(bins === Map(0 -> 2L, 1 -> 2L)) // {0,1} and {2,3}
    // shrink the range: pixels 2,3 fall outside [0,2) and are excluded
    val clipped = OmeOps.histogram(img, nBins = 1, lo = 0, hi = 2).collect()
    assert(clipped.length === 1)
    assert(clipped(0).getAs[Long]("n_px") === 2L)
  }

  test("otsuThreshold matches brute-force between-class variance argmax") {
    val img = Fixtures.syntheticImages(spark, 2, t = 1, c = 2, z = 1,
      sy = 4, sx = 4)
    val nBins = 8
    val got = OmeOps.otsuThreshold(img, nBins = nBins, lo = 0, hi = 64)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getAs[Int]("otsu_bin"), r.getAs[Long]("threshold"),
          r.getAs[Long]("fg_px"))).toMap
    // brute force from the raw pixels of each (image, channel)
    val pixels = OmeOps.explodePlanes(img)
      .select(col("image_id"), col("c").cast("int").as("c"),
        explode(col("pixels")).as("v"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getAs[Number](2).longValue))
    val expected = pixels.groupBy(p => (p._1, p._2)).map { case (k, ps) =>
      val bins = ps.map(_._3).filter(v => v >= 0 && v < 64).map(_ / 8)
      val n = bins.size.toLong
      val best = (0 until nBins - 1).flatMap { b =>
        val w0 = bins.count(_ <= b).toLong
        val w1 = n - w0
        if (w0 == 0 || w1 == 0) None
        else {
          val m0 = bins.filter(_ <= b).sum.toDouble / w0
          val m1 = bins.filter(_ > b).sum.toDouble / w1
          Some((b, w0 * w1 * (m0 - m1) * (m0 - m1), w1))
        }
      }.maxBy { case (b, s, _) => (s, -b) }
      k -> best
    }
    expected.foreach { case (k, (b, _, w1)) =>
      assert(got(k)._1 === b, s"bin for $k")
      assert(got(k)._2 === (b + 1) * 8L, s"threshold for $k")
      assert(got(k)._3 === w1, s"fg_px for $k")
    }
    assert(got.keySet === expected.keySet)
  }

  test("otsuThreshold emits no row for a single-bin channel") {
    // 2x2 plane pixels 0..3 all land in bin 0 of [0, 64)/8
    val img = Fixtures.syntheticImages(spark, 1, t = 1, c = 1, z = 1,
      sy = 2, sx = 2)
    assert(OmeOps.otsuThreshold(img, nBins = 8, lo = 0, hi = 64).count() === 0)
  }

  test("downscale2x keeps size-1 axes without nulls") {
    val thin = Fixtures.syntheticImages(spark, 1, t = 1, c = 1, z = 1, sy = 4, sx = 1)
    val px = OmeOps.downscale2x(thin)
      .select(element_at(col("ome_arrow.planes"), 1).getField("pixels"))
      .collect()(0).getSeq[Int](0)
    assert(px === Seq(0, 2)) // means of (0,1) and (2,3)
    assert(!px.contains(null))
  }

  test("strideDownsample keeps every k-th pixel/plane with ceil sizes") {
    val s = Fixtures.syntheticImages(spark, 1, t = 1, c = 1, z = 3, sy = 5, sx = 5)
    val out = OmeOps.strideDownsample(s, 2)
    val m = out.select(col("ome_arrow.pixels_meta.size_x"),
      col("ome_arrow.pixels_meta.size_y"), col("ome_arrow.pixels_meta.size_z"),
      size(col("ome_arrow.planes"))).collect()(0)
    assert((m.getInt(0), m.getInt(1), m.getInt(2)) === ((3, 3, 2)))
    assert(m.getInt(3) === 2) // z=0 and z=2 survive
  }

  test("percentileContrast matches a hand-computed linear interpolation") {
    val out = OmeOps.percentileContrast(Fixtures.conftestDf(spark), c = 1)
      .collect()(0)
    // sorted pixels 100..103,110..113,120..123; rank p1 = 11*0.01 = 0.11
    assert(math.abs(out.getAs[Double]("clim_low") - 100.11) < 1e-9)
    assert(math.abs(out.getAs[Double]("clim_high") - 122.989) < 1e-9)
  }

  test("approx percentiles track the exact operator within tolerance") {
    val corpus = Fixtures.corpus4d(spark)
    val exact = OmeOps.percentileContrast(corpus, c = 1).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("clim_low"),
        r.getAs[Double]("clim_high"))).toMap
    val approx = OmeOps.percentileContrastApprox(corpus, c = 1).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("clim_low"),
        r.getAs[Double]("clim_high"))).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (id, (lo, hi)) =>
      // approx returns an actual data value; exact interpolates — allow
      // one value-step of slack (synthetic pixels step by 1)
      assert(math.abs(lo - exact(id)._1) <= 1.5, s"$id low")
      assert(math.abs(hi - exact(id)._2) <= 1.5, s"$id high")
    }
  }

  test("toDense zero-fills holes and preserves totals") {
    val syn = Fixtures.syntheticImages(spark, 1)
    val holed = OmeOps.filterPlanes(syn,
      p => !(p.getField("t") === 1 && p.getField("c") === 1 && p.getField("z") === 1))
    def stats(df: org.apache.spark.sql.DataFrame) =
      OmeOps.toDense(df).select(size(col("dense")),
        aggregate(col("dense"), lit(0L), (a, b) => a + b)).collect()(0)
    val full = stats(syn); val hole = stats(holed)
    assert(full.getInt(0) === 8 * 1024 && hole.getInt(0) === 8 * 1024)
    assert(hole.getLong(1) < full.getLong(1))
  }

  test("toDense strict raises on out-of-range planes, lenient ignores") {
    val syn = Fixtures.syntheticImages(spark, 1)
    val bad = syn.withColumn("ome_arrow",
      col("ome_arrow").withField("planes",
        transform(col("ome_arrow.planes"),
          p => p.withField("z", p.getField("z") + 7))))
    val ex = intercept[Exception] { OmeOps.toDense(bad).collect() }
    assert(ex.getMessage.contains("out of declared range"))
    // lenient: out-of-range planes are simply not found -> zero volume
    val sum = OmeOps.toDense(bad, strict = false)
      .select(aggregate(col("dense"), lit(0L), (a, b) => a + b))
      .collect()(0).getLong(0)
    assert(sum === 0L)
  }

  test("explode -> nest round-trips the full record") {
    val orig = Fixtures.mixedCorpus(spark)
    val rt = OmeOps.nestPlanes(OmeOps.explodePlanes(orig))
    val a = orig.select(to_json(col("ome_arrow")).as("j"))
    val b = rt.select(to_json(col("ome_arrow")).as("j"))
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("toDense raises past the maxCells budget") {
    val syn = Fixtures.syntheticImages(spark, 1) // 2*2*2*32*32 = 8192 cells
    val ex = intercept[Exception] {
      OmeOps.toDense(syn, maxCells = 100L).collect()
    }
    assert(ex.getMessage.contains("maxCells"))
    // at the budget boundary the volume densifies fine
    assert(OmeOps.toDense(syn, maxCells = 8192L).count() === 1)
  }

  test("crop/downscale on the exploded form re-nests self-consistent records") {
    val nested = OmeOps.nestPlanes(OmeOps.downscalePlanes(OmeOps.cropPlanes(
      OmeOps.explodePlanes(Fixtures.corpus4d(spark)), 2, 6, 1, 7)))
    val m = nested.select(
      col("ome_arrow.pixels_meta.size_x"), col("ome_arrow.pixels_meta.size_y"),
      col("ome_arrow.pixels_meta.physical_size_x"),
      size(element_at(col("ome_arrow.planes"), 1).getField("pixels")))
      .collect()(0)
    assert(m.getInt(0) === 2 && m.getInt(1) === 3) // x[2,6)/2, y[1,7)/2
    assert(m.getFloat(2) === 2.0f) // downscale doubles µm/px
    assert(m.getInt(3) === 6) // pixel arrays match the declared shape
    // strict toDense validates plane length against pixels_meta — the r3
    // defect made exactly this composition raise
    assert(OmeOps.toDense(nested).count() === 4)
  }

  test("projectZ computes exact MIP/AIP pixels and re-nests to size_z 1") {
    import spark.implicits._
    val planes = Seq(
      ("img", 2, 1, 0, 0, 0, Seq(1, 5)),
      ("img", 2, 1, 0, 0, 1, Seq(3, 2)),
      ("img", 2, 1, 0, 0, 2, Seq(2, 8))
    ).toDF("image_id", "size_x", "size_y", "t", "c", "z", "pixels")
    val mip = OmeOps.projectZ(planes, "max").collect()(0)
    assert(mip.getAs[Seq[Int]]("pixels") === Seq(3, 8))
    assert(mip.getAs[Int]("z") === 0)
    assert(mip.getAs[Int]("n_planes") === 3)
    val aip = OmeOps.projectZ(planes, "mean").collect()(0)
    assert(aip.getAs[Seq[Int]]("pixels") === Seq(2, 5)) // floor(6/3), floor(15/3)
    // with record_meta riding along, the projection re-nests to a
    // self-consistent single-z record
    val nested = OmeOps.nestPlanes(OmeOps.projectZ(
      OmeOps.explodePlanes(Fixtures.corpus4d(spark)), "max")
      .drop("n_planes"))
    val m = nested.select(col("ome_arrow.pixels_meta.size_z"),
      size(col("ome_arrow.planes"))).collect()
    assert(m.forall(r => r.getInt(0) === 1))
    assert(m.forall(r => r.getInt(1) === 4)) // 2t x 2c x 1z
  }

  test("planeLookup returns first match and errors on absent plane") {
    val fx = Fixtures.conftestDf(spark)
    val px = OmeOps.planeLookup(fx, 0, 1, 0)
      .select(col("pixels")).collect()(0).getSeq[Int](0)
    assert(px.head === 100)
    val ex = intercept[Exception] {
      OmeOps.planeLookup(fx, 3, 0, 0).collect()
    }
    assert(ex.getMessage.contains("No plane found"))
  }

  test("flatfieldReport matches a per-pixel posexplode recomputation") {
    graft.functions.ensureRegistered(spark)
    val corpus = Fixtures.corpus4d(spark)
    val got = OmeOps.flatfieldReport(corpus)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
    // brute force: explode every pixel of every plane
    val brute = OmeOps.explodePlanes(corpus)
      .select(col("c"), posexplode(col("pixels")).as(Seq("pos", "v")))
      .groupBy(col("c"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got.size === brute.size && got.size === 2 * 64)
    brute.foreach { case (k, (n, sm)) =>
      val r = got(k)
      assert(r.getAs[Long]("n_planes") === n, s"n_planes at $k")
      assert(r.getAs[Long]("sum_px") === sm, s"sum_px at $k")
      assert(math.abs(r.getAs[Double]("mean_px") - sm.toDouble / n) < 1e-5)
    }
    // gain sanity: per channel, mean of (1/gain) over positions ~ 1
    val gains = got.values.groupBy(_.getInt(0)).map { case (c, rs) =>
      c -> rs.map(r => 1.0 / r.getAs[Double]("gain")).sum / rs.size
    }
    gains.values.foreach(g => assert(math.abs(g - 1.0) < 1e-3, s"$gains"))
  }

  test("graft_pixel_sum_agg merges partials across many partitions") {
    graft.functions.ensureRegistered(spark)
    // 64 one-plane rows scattered over 16 partitions forces the
    // serialize/deserialize + merge path of the imperative aggregate
    val df = spark.range(64).repartition(16)
      .select(graft.functions.synth_ramp(col("id") * 1000L, lit(32))
        .as("px"))
    val got = df.agg(graft.functions.pixel_sum_agg(col("px")).as("f"))
      .collect()(0).getSeq[Long](0)
    val brute = df.select(posexplode(col("px")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(sum(col("v"))).orderBy(col("pos"))
      .collect().map(_.getLong(1))
    assert(got === brute.toSeq)
  }

  test("graft_pixel_sum_agg: empty group is NULL, ragged planes raise") {
    graft.functions.ensureRegistered(spark)
    val empty = spark.range(1).filter(col("id") < 0)
      .select(array(lit(1)).as("px"))
      .agg(graft.functions.pixel_sum_agg(col("px"))).collect()(0)
    assert(empty.isNullAt(0))
    val ragged = spark.range(2)
      .select(graft.functions.synth_ramp(lit(0L),
        (col("id") * 2 + 2).cast("int")).as("px"))
    val ex = intercept[Exception] {
      ragged.agg(graft.functions.pixel_sum_agg(col("px"))).collect()
    }
    assert(ex.getMessage.contains("ragged") ||
      ex.getCause != null && ex.getCause.getMessage.contains("ragged"))
  }

  test("flatfieldApply flattens the corrected field up to rounding") {
    graft.functions.ensureRegistered(spark)
    val corpus = Fixtures.corpus4d(spark)
    val out = OmeOps.flatfieldApply(corpus).collect()
    assert(out.length === 2 * 64)
    // per channel: the corrected per-position sums must be tightly
    // concentrated around tot/npx (exact before per-pixel rounding)
    out.groupBy(_.getInt(0)).foreach { case (c, rs) =>
      val target = rs.map(_.getAs[Long]("sum_before")).sum.toDouble / 64
      rs.foreach { r =>
        val after = r.getAs[Long]("sum_after").toDouble
        // 16 planes -> at most ~0.5 rounding error per plane
        assert(math.abs(after - target) <= 16.0,
          s"c=$c pos=${r.getInt(1)}: after=$after target=$target")
      }
      // the UNcorrected field is NOT flat (ramp corpus): spread >> bound
      val before = rs.map(_.getAs[Long]("sum_before"))
      assert(before.max - before.min > 100,
        s"fixture should have a sloped field, got ${before.max - before.min}")
    }
    spark.catalog.clearCache()
  }

  test("driftReport recovers a planted stage drift") {
    import graft.schema.OmePlane
    // frame 1 = frame 0 translated down 1, right 1 over a 6x6 plane
    // with a bright off-center blob; expected argmax shift = (-1, -1)
    val sx = 6; val sy = 6
    def blob(y0: Int, x0: Int): Seq[Int] =
      (0 until sy * sx).map { p =>
        val y = p / sx; val x = p % sx
        if (math.abs(y - y0) <= 1 && math.abs(x - x0) <= 1) 900 else 10
      }
    val rec = OmeConstructors.toOmeArrow(spark, imageId = "drift-0",
      sizeX = sx, sizeY = sy, sizeT = 2,
      planes = Some(Seq(
        OmePlane(0, 0, 0, blob(2, 3)),
        OmePlane(0, 1, 0, blob(3, 4)))))
    val out = OmeOps.driftReport(rec).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[Int]("best_dy") === -1 && r.getAs[Int]("best_dx") === -1,
      s"wrong drift: $r")
    // and the score at the planted shift is a full-blob overlap: the
    // brute-force recomputation agrees
    val a = blob(2, 3); val b = blob(3, 4)
    def score(dy: Int, dx: Int): Double = {
      var s = 0L; var n = 0
      for (y <- 0 until sy; x <- 0 until sx) {
        val ay = y + dy; val ax = x + dx
        if (ay >= 0 && ay < sy && ax >= 0 && ax < sx) {
          s += a(ay * sx + ax).toLong * b(y * sx + x); n += 1
        }
      }
      BigDecimal(s.toDouble / n).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(r.getAs[Double]("score") === score(-1, -1))
    val all = for (dy <- -2 to 2; dx <- -2 to 2) yield score(dy, dx)
    assert(score(-1, -1) === all.max)
  }

  test("extractPatches tiles planes exactly and drops partial edges") {
    graft.functions.ensureRegistered(spark)
    val planes = OmeOps.explodePlanes(Fixtures.corpus4d(spark))
      .select(col("image_id"), col("t"), col("c"), col("z"),
        col("size_x"), col("size_y"), col("pixels"))
    val out = OmeOps.extractPatches(planes, patch = 4, stride = 4)
      .collect()
    // 32 planes x 4 full patches; stride 4 on 8x8 leaves no partials
    assert(out.length === 32 * 4)
    out.foreach(r => assert(r.getSeq[Int](6).length === 16))
    // reassembling the four patches recovers every plane's pixel sum
    val sums = out.groupBy(r => (r.getString(0), r.getInt(1),
        r.getInt(2), r.getInt(3)))
      .map { case (k, rs) => k -> rs.flatMap(_.getSeq[Int](6)).map(_.toLong).sum }
    val planeSums = planes.select(col("image_id"), col("t"), col("c"),
        col("z"), aggregate(col("pixels"), lit(0L), (a, v) => a + v))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getInt(3)) -> r.getLong(4)).toMap
    assert(sums === planeSums)
    // stride 3 on 8x8 with patch 4: grid positions 0,1 only (pos 2
    // would start at 6 and overflow) -> still 4 patches, overlapping
    val overlapping = OmeOps.extractPatches(planes, patch = 4, stride = 3)
    assert(overlapping.count() === 32 * 4)
  }

  test("stitchGrid assembles a 2x2 overlap-1 mosaic exactly; max blend " +
      "in every overlap band") {
    import spark.implicits._
    // tile (r,c) 3x3 with pixel p -> (r*2+c+1)*10 + p; overlap 1 ->
    // mosaic 5x5; hand-computed max blend
    val tiles = (for (r <- 0 to 1; c <- 0 to 1) yield
      ("m", 0, 0, 0, r, c, 3, 3,
        (0 until 9).map(p => (r * 2 + c + 1) * 10 + p).toVector))
      .toDF("image_id", "t", "c", "z", "row", "col", "size_x", "size_y",
        "pixels")
    val out = OmeOps.stitchGrid(tiles, overlap = 1).collect()
    assert(out.length === 1)
    val row = out(0)
    assert(row.getAs[Int]("size_x") === 5 && row.getAs[Int]("size_y") === 5)
    assert(row.getAs[Int]("n_tiles") === 4)
    assert(row.getAs[Seq[Int]]("pixels") === Seq(
      10, 11, 20, 21, 22,
      13, 14, 23, 24, 25,
      30, 31, 40, 41, 42,
      33, 34, 43, 44, 45,
      36, 37, 46, 47, 48))
  }

  test("stitchRefine: a consistent stage scores (0,0) on every edge; a " +
      "content-shifted tile shows its residual offset") {
    import spark.implicits._
    // tiles cut from one DECORRELATED global field (a quadratic mix —
    // linear fields are translation-degenerate for registration),
    // 6x6 tiles, 2px overlap, 2x2 grid -> tile (r,c) pixel (y,x) =
    // g(r*4 + y, c*4 + x); tile (1,1) jittered: content from one row
    // LOWER (g(Y+1, X)) — its edges must report the dy=1 residual
    def g(yy: Int, xx: Int): Int =
      (yy * yy * 7 + xx * xx * 3 + yy * xx * 5 + yy * 11 + xx) % 251
    val tiles = (for (r <- 0 to 1; c <- 0 to 1) yield {
      val jit = if (r == 1 && c == 1) 1 else 0
      ("st", 0, 0, 0, r, c, 6, 6,
        (0 until 36).map(p =>
          g(r * 4 + p / 6 + jit, c * 4 + p % 6)).toVector)
    }).toDF("image_id", "t", "c", "z", "row", "col", "size_x", "size_y",
      "pixels")
    val out = OmeOps.stitchRefine(tiles, overlap = 2, maxShift = 1)
      .collect().map(r => ((r.getAs[String]("axis"),
        r.getAs[Int]("row"), r.getAs[Int]("col")),
        (r.getAs[Int]("best_dy"), r.getAs[Int]("best_dx")))).toMap
    assert(out.size === 4) // 2 h-edges + 2 v-edges
    // clean edges: exact alignment at the declared position
    assert(out(("h", 0, 0)) === (0, 0))
    assert(out(("v", 0, 0)) === (0, 0))
    // edges touching the jittered tile: content sits one row lower,
    // so the band match is at dy = 1 (a.by = b.by + 1)
    assert(out(("h", 1, 0)) === (1, 0),
      s"jittered horizontal edge: ${out(("h", 1, 0))}")
    assert(out(("v", 0, 1)) === (1, 0),
      s"jittered vertical edge: ${out(("v", 0, 1))}")
  }

  test("stitchSolve: tree-accumulated offsets — the jittered tile gets " +
      "(1,0), every clean tile (0,0)") {
    import spark.implicits._
    def g(yy: Int, xx: Int): Int =
      (yy * yy * 7 + xx * xx * 3 + yy * xx * 5 + yy * 11 + xx) % 251
    val tiles = (for (r <- 0 to 1; c <- 0 to 1) yield {
      val jit = if (r == 1 && c == 1) 1 else 0
      ("sv", 0, 0, 0, r, c, 6, 6,
        (0 until 36).map(p =>
          g(r * 4 + p / 6 + jit, c * 4 + p % 6)).toVector)
    }).toDF("image_id", "t", "c", "z", "row", "col", "size_x", "size_y",
      "pixels")
    val out = OmeOps.stitchSolve(tiles, overlap = 2, maxShift = 1)
      .collect().map(r => ((r.getAs[Int]("row"), r.getAs[Int]("col")),
        (r.getAs[Int]("off_dy"), r.getAs[Int]("off_dx")))).toMap
    assert(out === Map((0, 0) -> ((0, 0)), (0, 1) -> ((0, 0)),
      (1, 0) -> ((0, 0)), (1, 1) -> ((1, 0))),
      s"tree accumulation wrong: $out")
    spark.catalog.clearCache() // refine edge frame persisted by solve
  }

  test("stitchApply: hand-computed per-tile-offset assembly — a shifted " +
      "corner tile exposes 0-filled canvas and every pixel reads its " +
      "offset tile") {
    import spark.implicits._
    // the stitchGrid fixture (tile (r,c) 3x3, pixel p -> (r*2+c+1)*10+p,
    // overlap 1, 5x5 canvas) with tile (0,0) shifted (+1,+1): its
    // content draws at origin (1,1), the abandoned corner fills 0, and
    // overlap bands max-blend the moved tile against its neighbors
    val tiles = (for (r <- 0 to 1; c <- 0 to 1) yield
      ("ap0", 0, 0, 0, r, c, 3, 3,
        (0 until 9).map(p => (r * 2 + c + 1) * 10 + p).toVector))
      .toDF("image_id", "t", "c", "z", "row", "col", "size_x", "size_y",
        "pixels")
    val offs = Seq(("ap0", 0, 0, 0, 0, 0, 1, 1))
      .toDF("image_id", "t", "c", "z", "row", "col", "off_dy", "off_dx")
    val out = OmeOps.stitchApply(tiles, overlap = 1, offs).collect()
    assert(out.length === 1)
    assert(out(0).getAs[scala.collection.Seq[Int]]("pixels").toVector === Vector(
      0, 0, 20, 21, 22,
      0, 10, 23, 24, 25,
      30, 31, 40, 41, 42,
      33, 34, 43, 44, 45,
      36, 37, 46, 47, 48))
  }

  test("stitchApply: the refine→solve→apply chain provably removes a " +
      "planted misalignment — the corrected mosaic IS the clean field") {
    import spark.implicits._
    def g(yy: Int, xx: Int): Int =
      (yy * yy * 7 + xx * xx * 3 + yy * xx * 5 + yy * 11 + xx) % 251
    val tiles = (for (r <- 0 to 1; c <- 0 to 1) yield {
      val jit = if (r == 1 && c == 1) 1 else 0
      ("apc", 0, 0, 0, r, c, 6, 6,
        (0 until 36).map(p =>
          g(r * 4 + p / 6 + jit, c * 4 + p % 6)).toVector)
    }).toDF("image_id", "t", "c", "z", "row", "col", "size_x", "size_y",
      "pixels")
    val clean = (for (y <- 0 until 10; x <- 0 until 10) yield g(y, x)).toVector
    // the misalignment is VISIBLE in the naive assembly...
    val naive = OmeOps.stitchGrid(tiles, overlap = 2)
      .collect()(0).getAs[scala.collection.Seq[Int]]("pixels").toVector
    assert(naive !== clean, "plant failed: naive mosaic already clean")
    // ...and GONE after the chain: every pixel back at ground truth
    val fixed = OmeOps.stitchRefined(tiles, overlap = 2, maxShift = 1)
      .collect()(0)
    assert(fixed.getAs[Int]("size_x") === 10)
    assert(fixed.getAs[Int]("size_y") === 10)
    assert(fixed.getAs[scala.collection.Seq[Int]]("pixels").toVector === clean)
    spark.catalog.clearCache() // refine edge frame persisted by solve
  }

  test("stitchApply raises when an offset exceeds the overlap; " +
      "stitchRefine raises on adjacent-tile dims mismatch") {
    import spark.implicits._
    val tiles = (for (r <- 0 to 1; c <- 0 to 1) yield
      ("apx", 0, 0, 0, r, c, 3, 3, (0 until 9).toVector))
      .toDF("image_id", "t", "c", "z", "row", "col", "size_x", "size_y",
        "pixels")
    val offs = Seq(("apx", 0, 0, 0, 1, 1, 2, 0))
      .toDF("image_id", "t", "c", "z", "row", "col", "off_dy", "off_dx")
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t =>
        Option(t.getMessage).toSeq ++ messages(t.getCause))
    val e = intercept[Exception] {
      OmeOps.stitchApply(tiles, overlap = 1, offs).collect()
    }
    assert(messages(e).exists(_.contains("exceeds the overlap")))
    // dims mismatch must RAISE in refine (not silently drop the edge
    // and let solve coalesce it to a clean-looking 0)
    val mixed = Seq(
      ("rx", 0, 0, 0, 0, 0, 6, 6, (0 until 36).toVector),
      ("rx", 0, 0, 0, 0, 1, 8, 6, (0 until 48).toVector))
      .toDF("image_id", "t", "c", "z", "row", "col", "size_x", "size_y",
        "pixels")
    val e2 = intercept[Exception] {
      OmeOps.stitchRefine(mixed, overlap = 2, maxShift = 1).collect()
    }
    assert(messages(e2).exists(_.contains("differ in dims")))
  }

  test("stitchGrid raises on an incomplete grid and on oversized overlap") {
    import spark.implicits._
    val tiles = Seq(
      ("m", 0, 0, 0, 0, 0, 3, 3, (0 until 9).map(_ + 10).toVector),
      ("m", 0, 0, 0, 1, 1, 3, 3, (0 until 9).map(_ + 40).toVector))
      .toDF("image_id", "t", "c", "z", "row", "col", "size_x", "size_y",
        "pixels")
    val e = intercept[Exception] {
      OmeOps.stitchGrid(tiles, overlap = 1).collect()
    }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t =>
        Option(t.getMessage).toSeq ++ messages(t.getCause))
    assert(messages(e).exists(_.contains("incomplete or duplicated")))
    val full = (for (r <- 0 to 1; c <- 0 to 1) yield
      ("m", 0, 0, 0, r, c, 3, 3, (0 until 9).toVector))
      .toDF("image_id", "t", "c", "z", "row", "col", "size_x", "size_y",
        "pixels")
    val e2 = intercept[Exception] {
      OmeOps.stitchGrid(full, overlap = 2).collect()
    }
    assert(messages(e2).exists(_.contains("2*overlap")))
  }
}
