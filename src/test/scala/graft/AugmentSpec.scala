package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.OmeOps

/** PixelPermute kernel + augmentPlanes semantics on a non-square plane. */
class AugmentSpec extends SparkSpec with ModePairs {

  // 2 rows x 3 cols, row-major: in(y, x) = y*3 + x
  private val plane = Seq(0, 1, 2, 3, 4, 5)

  private def permute(mode: String): Seq[Int] = {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    Seq((plane, 3, 2)).toDF("px", "sx", "sy")
      .select(graft.functions.pixel_permute(
        col("px"), col("sx"), col("sy"), mode).as("out"))
      .collect().head.getSeq[Int](0)
  }

  test("PixelPermute: all five modes on a 2x3 plane (hand-permuted)") {
    assert(permute("hflip") === Seq(2, 1, 0, 5, 4, 3))
    assert(permute("vflip") === Seq(3, 4, 5, 0, 1, 2))
    assert(permute("rot180") === Seq(5, 4, 3, 2, 1, 0))
    // clockwise: first output row is the first input column bottom-up
    assert(permute("rot90") === Seq(3, 0, 4, 1, 5, 2))
    assert(permute("transpose") === Seq(0, 3, 1, 4, 2, 5))
  }

  test("PixelPermute: eval (interpreted) matches the codegen path") {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    for (m <- graft.functions.PixelPermute.modes) {
      val want = permute(m)
      assertBothModes(Seq((plane, 3, 2)).toDF("px", "sx", "sy")
        .select(graft.functions.pixel_permute(
          col("px"), col("sx"), col("sy"), m)))(Seq(Row(want)))
    }
  }

  test("PixelPermute: rejects an unknown mode at build time") {
    import graft.functions.PixelPermute
    import org.apache.spark.sql.catalyst.expressions.Literal
    intercept[IllegalArgumentException] {
      PixelPermute(Literal(1), Literal(3), Literal(2), "rot45")
    }
  }

  test("augmentPlanes: dim-swapping modes swap size_x/size_y") {
    import spark.implicits._
    val planes = Seq(("img-0", 0, 0, 0, 3, 2, plane))
      .toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    val out = OmeOps.augmentPlanes(planes,
      Seq("hflip", "rot90", "transpose"))
      .collect().map(r => (r.getString(4), r.getInt(5), r.getInt(6),
        r.getSeq[Int](7))).toSeq
    assert(out.size === 3)
    val byMode = out.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(byMode("hflip") === ((3, 2, Seq(2, 1, 0, 5, 4, 3))))
    assert(byMode("rot90") === ((2, 3, Seq(3, 0, 4, 1, 5, 2))))
    assert(byMode("transpose") === ((2, 3, Seq(0, 3, 1, 4, 2, 5))))
  }

  test("PixelPermute: ragged geometry yields NULL, not garbage") {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    // 5 pixels declared as 3x2, zero width, negative height
    val rows = Seq((Seq(0, 1, 2, 3, 4), 3, 2), (plane, 0, 2),
      (plane, 3, -1))
      .toDF("px", "sx", "sy")
      .select(graft.functions.pixel_permute(
        col("px"), col("sx"), col("sy"), "hflip").as("out"))
      .collect()
    assert(rows.forall(_.isNullAt(0)))
  }

  test("augmentPlanes: row count is planes x modes") {
    import spark.implicits._
    val planes = (0 until 4).map(i =>
      (s"img-$i", 0, 0, 0, 3, 2, plane))
      .toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    assert(OmeOps.augmentPlanes(planes, Seq("hflip", "vflip")).count() === 8L)
  }
}
