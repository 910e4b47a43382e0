package graft

import org.apache.spark.sql.functions._

import graft.operators.OmeOps

/** GLCM moments kernel + textureReport features, hand-computed. */
class TextureSpec extends SparkSpec with ModePairs {

  test("GlcmMoments: hand-counted co-occurrences on a 2x3 plane") {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    // bins=4 over [0,8): bin = v/2. plane rows: (0,2,2) (7,7,0)
    // pairs (bins): (0,1), (1,1), (3,3), (3,0)
    // counts: each 1 -> n=4, contrast = 1+0+0+9 = 10, dissim = 1+0+0+3=4,
    // energy = 4*1 = 4, clnc = 0 (all counts 1)
    val r = Seq((Seq(0, 2, 2, 7, 7, 0), 3))
      .toDF("px", "w")
      .select(graft.functions.glcm_moments(col("px"), col("w"), 4, 8)
        .as("m"))
      .select(col("m.n_pairs"), col("m.contrast_num"), col("m.dissim_num"),
        col("m.energy_num"), col("m.clnc"))
      .collect().head
    assert(r.getLong(0) === 4L)
    assert(r.getLong(1) === 10L)
    assert(r.getLong(2) === 4L)
    assert(r.getLong(3) === 4L)
    assert(r.getDouble(4) === 0.0)
  }

  test("GlcmMoments: constant plane is all-diagonal (zero contrast, " +
      "energy 1 after normalization)") {
    import spark.implicits._
    val planes = Seq(("i", 0, 0, 0, 4, 2, Seq.fill(8)(5)))
      .toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    val r = OmeOps.textureReport(planes, bins = 8, maxv = 256)
      .collect().head
    assert(r.getLong(4) === 6L)          // 2 rows x 3 horizontal pairs
    assert(r.getDouble(5) === 0.0)       // contrast
    assert(r.getDouble(6) === 0.0)       // dissimilarity
    assert(r.getDouble(7) === 1.0)       // energy: single cell
    assert(r.getDouble(8) === 0.0)       // entropy
  }

  test("textureReport: sx < 2 plane reports NULL features") {
    import spark.implicits._
    val planes = Seq(("i", 0, 0, 0, 1, 3, Seq(1, 2, 3)))
      .toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    val r = OmeOps.textureReport(planes, bins = 8, maxv = 256)
      .collect().head
    assert(r.getLong(4) === 0L)
    assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7) && r.isNullAt(8))
  }

  test("GlcmMoments: a ragged plane (partial last row) never reads " +
      "past the array") {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    // 5 pixels declared 3 wide: rows (0,1,2), (3,4) — pairs (0,1),
    // (1,2), (3,4); the pair at the truncation point doesn't exist
    val r = Seq((Seq(0, 1, 2, 3, 4), 3)).toDF("px", "w")
      .select(graft.functions.glcm_moments(col("px"), col("w"), 8, 8)
        .as("m")).select(col("m.n_pairs")).collect().head
    assert(r.getLong(0) === 3L)
  }

  test("GlcmMoments: eval matches codegen and a brute-force recount") {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    val rnd = new scala.util.Random(42)
    val px = Seq.fill(35)(rnd.nextInt(256))
    val w = 7
    // brute force
    val pairs = for {
      i <- px.indices if i % w < w - 1
    } yield (px(i) * 8 / 256, px(i + 1) * 8 / 256)
    val counts = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = counts.values.sum
    val contrast = counts.map { case ((a, b), c) =>
      c * (a - b) * (a - b) }.sum
    for ((mode, rows) <- rowsInBothModes(Seq((px, w)).toDF("px", "w")
        .select(graft.functions.glcm_moments(col("px"), col("w"), 8, 256)))) {
      val row = rows.head.getStruct(0)
      assert(row.getLong(0) === n, s"mode=$mode")
      assert(row.getLong(1) === contrast, s"mode=$mode")
      assert(row.getLong(3) === counts.values.map(c => c * c).sum,
        s"mode=$mode")
    }
  }

  test("segmentObjectsIntensity: integrated/mean/extreme intensity " +
      "per planted object") {
    import spark.implicits._
    val px = Array.fill(24)(1)
    // blob values 10, 20, 30, 40 at rows 1-2, cols 1-2 of a 6x4 plane
    px(1 * 6 + 1) = 10; px(1 * 6 + 2) = 20
    px(2 * 6 + 1) = 30; px(2 * 6 + 2) = 40
    val planes = Seq(("img", 0, 0, 0, 6, 4, px.toSeq))
      .toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    val out = OmeOps.segmentObjectsIntensity(planes,
      transform(col("pixels"), v => when(v >= 10, lit(1)).otherwise(lit(0))))
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getInt(5) === 4)                  // area
    assert(r.getLong(12) === 100L)             // sum_v
    assert(r.getDouble(13) === 25.0)           // mean_v
    assert((r.getInt(14), r.getInt(15)) === ((10, 40)))
  }
}
