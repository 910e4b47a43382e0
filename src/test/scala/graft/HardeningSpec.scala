package graft

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._

import graft.functions.{FocusStack, PixelEqualize, PixelGlcmMoments,
  PixelStretch}

/** Regression tests for the r10 ADVICE hardening pass: value-range
  * and overflow guards in the imaging kernels. Each test reproduces
  * the exact failure mode the advisory described and pins the fixed
  * behavior, so the guards cannot silently regress. */
class HardeningSpec extends SparkSpec {

  private def ints(a: Array[Int]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(a)

  test("GlcmMoments: pixels at or above maxv clamp to the edge bin " +
      "instead of indexing out of bounds") {
    // v == maxv previously computed bin = bins (out of range);
    // a negative v computed a negative bin. Both must land in edge bins.
    val px = Array(256, 300, -5, 10) // maxv=256, bins=8, w=4
    val m = PixelGlcmMoments.kernel(ints(px), 4, 8, 256)
    // pairs: (256,300)->bin(7,7) d=0; (300,-5)->(7,0) d=7; (-5,10)->(0,0) d=0
    assert(m.getLong(0) === 3L)          // n_pairs
    assert(m.getLong(1) === 49L)         // contrast = 7^2
    assert(m.getLong(2) === 7L)          // dissim
  }

  test("GlcmMoments: 16-bit values with maxv=256 (the ome_texture " +
      "caller-mismatch scenario) do not crash") {
    val px = Array.tabulate(64)(i => (i * 1021) % 65536)
    val m = PixelGlcmMoments.kernel(ints(px), 8, 16, 256)
    assert(m.getLong(0) === 56L) // 8 rows x 7 horizontal pairs
  }

  test("EqualizeKernel: planes above ~4.2M pixels stay exact at " +
      "levels=256 (Long numerator)") {
    // n = 4.5M strictly increasing ramp: cmin=1, d=n-1; pixel at rank r
    // maps to HALF_UP((r-1)*255/(n-1)). The old Int numerator
    // (lo-cmin)*2*255 overflowed at lo > ~4.21M, producing garbage.
    val n = 4500000
    val px = Array.tabulate(n)(identity)
    val out = PixelEqualize.kernel(ints(px), 256)
    assert(out.getInt(0) === 0)
    assert(out.getInt(n - 1) === 255)
    // the position whose old Int numerator wrapped: lo = 4210753
    val r = 4210753
    val expect = (((r - 1).toLong * 510 + (n - 1)) / (2L * (n - 1))).toInt
    assert(out.getInt(r - 1) === expect)
    assert((0 until n by 97213).forall { i =>
      val v = out.getInt(i); v >= 0 && v <= 255
    })
  }

  test("StretchKernel: sorted-percentile index uses Long math above " +
      "~22.6M pixels") {
    // (n-1)*95 overflows Int at n >= 22,605,093 -> negative index ->
    // AIOOBE before the fix. 23M-pixel ramp: idx lo = (n-1)*5/100.
    val n = 23000000
    val px = Array.tabulate(n)(identity)
    val r = PixelStretch.kernel(ints(px), 5, 95)
    assert(r.getInt(0) === ((n - 1).toLong * 5 / 100).toInt)  // lo
    assert(r.getInt(1) === ((n - 1).toLong * 95 / 100).toInt) // hi
    val out = r.getArray(2)
    assert(out.getInt(0) === 0 && out.getInt(n - 1) === 255)
  }

  test("FocusStackKernel: ragged stack (unequal plane lengths) and " +
      "non-positive width return NULL, not out-of-bounds reads") {
    def plane(z: Int, px: Array[Int]): GenericInternalRow =
      new GenericInternalRow(Array[Any](z, new GenericArrayData(px)))
    val ragged = new GenericArrayData(Array[Any](
      plane(0, Array(1, 2, 3, 4)), plane(1, Array(9, 9))))
    assert(FocusStack.kernel(ragged, 2) === null)
    val ok = new GenericArrayData(Array[Any](
      plane(0, Array(1, 2, 3, 4)), plane(1, Array(9, 9, 9, 9))))
    assert(FocusStack.kernel(ok, 0) === null)
    assert(FocusStack.kernel(ok, -3) === null)
    assert(FocusStack.kernel(ok, 2) !== null)
  }

  test("mmrTopK: a null-embedding neighbor is dropped from the " +
      "candidate set instead of crashing the cogroup (missing-psim " +
      "guard stays unreachable)") {
    import spark.implicits._
    val emb = Seq(
      (0L, Some(Array(1.0f, 0.0f, 0.0f))),  // probe
      (1L, Some(Array(0.9f, 0.1f, 0.0f))),
      (2L, None: Option[Array[Float]]),     // null embedding -> null score
      (3L, Some(Array(0.5f, 0.5f, 0.0f))))
      .toDF("vec_id", "embedding")
    val out = graft.operators.VectorOps.mmrTopK(
      emb, nProbes = 1, k = 3, candidates = 3, lambda = 0.5)
      .orderBy("step").collect()
    // only the two scored neighbors can be selected
    assert(out.map(_.getAs[Long]("neighbor_id")).toSet === Set(1L, 3L))
    assert(out.forall(!_.isNullAt(out.head.fieldIndex("mmr"))))
  }

  test("StreamDrain.once: racing threads on one view drain the feed " +
      "exactly once (per-view lock serializes check-then-drain)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("drainrace").toFile
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.mode("overwrite").parquet(dir.getPath)
    val evals = new java.util.concurrent.atomic.AtomicInteger(0)
    def drain(): Long = graft.streaming.StreamDrain.once(
      spark, "hardening_race_view", "k1", 60000L, Seq(dir.getPath)) {
      evals.incrementAndGet()
      spark.readStream.schema("id LONG, s STRING").parquet(dir.getPath)
    }.count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[Long] { def call(): Long = drain() }))
      assert(futures.map(_.get()).toSet === Set(2L))
    } finally pool.shutdown()
    assert(evals.get() === 1,
      s"feed evaluated ${evals.get()} times; the lock must admit one drain")
  }

  test("focusReport: degenerate geometry (width < 3) scores 0 and is " +
      "reported, not dropped") {
    val corpus = graft.schema.Fixtures.syntheticImages(
      spark, 1, t = 1, c = 1, z = 2, sy = 2, sx = 2, prefix = "deg")
    val rows = graft.operators.OmeOps.focusReport(corpus).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("n_planes") === 2L)
    assert(r.getAs[Int]("best_z") === 0)       // tie -> lowest z
    assert(r.getAs[Long]("best_score") === 0L) // no interior columns
    assert(r.getAs[Long]("score_min") === 0L)
    assert(r.getAs[Long]("score_max") === 0L)
  }

  test("FocusStack expression: NULL propagates through codegen on a " +
      "ragged stack; valid stacks still compose") {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    val df = Seq(
      ("ragged", Seq((0, Seq(1, 2, 3, 4)), (1, Seq(9, 9))), 2),
      ("ok", Seq((0, Seq(5, 5, 5, 5)), (1, Seq(6, 6, 6, 6))), 2))
      .toDF("tag", "stack", "w")
      .select(col("tag"), graft.functions.focus_stack(
        col("stack").cast("array<struct<z:int,pixels:array<int>>>"),
        col("w")).as("fs"))
    val rows = df.collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(rows("ragged") === true)
    assert(rows("ok") === false)
  }
}
