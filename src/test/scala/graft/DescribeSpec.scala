package graft

import org.apache.spark.sql.functions._

import graft.operators.OmeOps
import graft.schema.Fixtures

/** Golden describe() parity with the reference's expectation matrix
  * (reference: tests/test_core.py:14-148 — T,C,Z in {1,7}x{1,3}x{1,5} at
  * 167x439 — and the conftest fixture). */
class DescribeSpec extends SparkSpec {

  private def summaryOf(t: Int, c: Int, z: Int, sy: Int = 167, sx: Int = 439): String = {
    val df = Fixtures.syntheticImages(spark, 1, t = t, c = c, z = z, sy = sy, sx = sx)
    OmeOps.describe(df).select(col("summary")).collect()(0).getString(0)
  }

  test("z-series: 1x1x5 -> 3D image (z-stack)") {
    assert(summaryOf(1, 1, 5) ===
      "3D image (z-stack), single-channel - shape (T=1, C=1, Z=5, Y=167, X=439)")
  }
  test("time-series: 7x1x1 -> movie / timelapse") {
    assert(summaryOf(7, 1, 1) ===
      "movie / timelapse, single-channel - shape (T=7, C=1, Z=1, Y=167, X=439)")
  }
  test("single-channel: 1x1x1 -> 2D image") {
    assert(summaryOf(1, 1, 1) ===
      "2D image, single-channel - shape (T=1, C=1, Z=1, Y=167, X=439)")
  }
  test("multi-channel 2D: 1x3x1") {
    assert(summaryOf(1, 3, 1) ===
      "2D image, multi-channel (3 channels) - shape (T=1, C=3, Z=1, Y=167, X=439)")
  }
  test("multi-channel z-series: 1x3x5") {
    assert(summaryOf(1, 3, 5) ===
      "3D image (z-stack), multi-channel (3 channels) - shape (T=1, C=3, Z=5, Y=167, X=439)")
  }
  test("multi-channel time-series: 7x3x1") {
    assert(summaryOf(7, 3, 1) ===
      "movie / timelapse, multi-channel (3 channels) - shape (T=7, C=3, Z=1, Y=167, X=439)")
  }
  test("4D series: 7x3x5") {
    assert(summaryOf(7, 3, 5) ===
      "4D timelapse-volume, multi-channel (3 channels) - shape (T=7, C=3, Z=5, Y=167, X=439)")
  }
  test("4D single-channel: 7x1x5") {
    assert(summaryOf(7, 1, 5) ===
      "4D timelapse-volume, single-channel - shape (T=7, C=1, Z=5, Y=167, X=439)")
  }

  test("SparkEntry.entry: one row per mixedCorpus image, all four " +
      "classification branches") {
    val kinds = Map("i2d" -> "2D image", "i3d" -> "3D image (z-stack)",
      "mov" -> "movie / timelapse", "i4d" -> "4D timelapse-volume")
    val want = for ((p, t, c, z) <- Fixtures.MixedFamilies; i <- 0 until 4)
      yield (f"$p-$i%04d", kinds(p), c > 1, (t, c, z))
    val got = SparkEntry.entry(spark).collect().map(r =>
      (r.getAs[String]("id"), r.getAs[String]("type"),
        r.getAs[Boolean]("is_multichannel"),
        (r.getAs[Int]("size_t"), r.getAs[Int]("size_c"), r.getAs[Int]("size_z"))))
    assert(got.sortBy(_._1).toSeq === want.sortBy(_._1))
    assert(got.map(_._2).toSet === kinds.values.toSet)
  }

  test("conftest fixture golden row") {
    val row = OmeOps.describe(Fixtures.conftestDf(spark)).collect()(0)
    assert(row.getAs[String]("id") === "img-0001")
    assert(row.getAs[String]("type") === "2D image")
    assert(row.getAs[Int]("channels") === 2)
    assert(row.getAs[Boolean]("is_multichannel"))
    assert(row.getAs[String]("summary") ===
      "2D image, multi-channel (2 channels) - shape (T=1, C=2, Z=1, Y=3, X=4)")
  }

  test("describe plan reads only metadata (nested-schema pruning)") {
    val plan = OmeOps.describe(Fixtures.conftestDf(spark))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("planes") || !plan.toLowerCase.contains("pixels"),
      s"describe should not touch pixel data:\n$plan")
  }
}
