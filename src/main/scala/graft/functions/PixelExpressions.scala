package graft.functions

import scala.annotation.switch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression,
  GenericInternalRow, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the per-pixel hot paths (SURVEY.md §4.2
 * flagged `PixelCrop` as the codegen candidate "after measurement" — the
 * measurement happened: interpreted higher-order-function evaluation
 * dominates pixel pipelines, see SCALE.md). Each per-row expression here
 * is a `RuntimeReplaceable` whose replacement is one [[KernelCall]] of
 * the `kernel` on its companion: whole-stage codegen calls that kernel
 * directly, the interpreted evaluator calls the same kernel, and a NULL
 * argument answers NULL on both paths.
 */

/** crop a flat row-major plane: rows [y0,y1), cols [x0,x1) of a sx-wide
  * image. NULL unless the window is upright and inside the plane's full
  * rows, `[0, sx) x [0, n / sx)`. */
case class PixelCrop(pixels: Expression, sx: Expression,
    x0: Expression, x1: Expression, y0: Expression, y1: Expression)
  extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(pixels, sx, x0, x1, y0, y1)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // NULL on a window outside the plane, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels"), (sx, IntegerType, "sx"),
      (x0, IntegerType, "x0"), (x1, IntegerType, "x1"),
      (y0, IntegerType, "y0"), (y1, IntegerType, "y1")), "graft_pixel_crop")

  override lazy val replacement: Expression =
    KernelCall(PixelCrop, dataType, children, returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0), sx = newChildren(1), x0 = newChildren(2),
      x1 = newChildren(3), y0 = newChildren(4), y1 = newChildren(5))
}

object PixelCrop {
  def kernel(px: ArrayData, w: Int, xa: Int, xb: Int, ya: Int,
      yb: Int): ArrayData = {
    if (w <= 0 || xa < 0 || xa > xb || xb > w || ya < 0 || ya > yb ||
        yb > px.numElements() / w) return null
    val out = new Array[Int]((yb - ya) * (xb - xa))
    var y = ya; var o = 0
    while (y < yb) {
      var x = xa
      while (x < xb) { out(o) = px.getInt(y * w + x); o += 1; x += 1 }
      y += 1
    }
    new GenericArrayData(out)
  }
}

/** Sum of an int-array plane as a long — the rollup reduction behind
  * every plane-stats query. The `aggregate(pixels, 0L, _+_)` HOF
  * formulation pays an interpreted lambda + boxed Long PER PIXEL
  * (hundreds of millions of allocations in a corpus rollup and the
  * dominant GC noise in scale probes); this is one tight long loop. */
case class PixelSum(pixels: Expression) extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(pixels)
  override def dataType: DataType = LongType
  override def nullable: Boolean = pixels.nullable

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels")), "graft_pixel_sum")

  override lazy val replacement: Expression =
    KernelCall(PixelSum, dataType, children)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0))
}

object PixelSum {
  def kernel(px: ArrayData): Long = {
    var s = 0L
    var i = 0
    val n = px.numElements()
    while (i < n) { s += px.getInt(i); i += 1 }
    s
  }
}

/** Count of plane pixels >= a threshold, as a long — the saturation /
  * clipping detector behind the QC report. Same rationale as
  * [[PixelSum]]: `size(filter(pixels, _ >= t))` pays an interpreted
  * lambda + boxed Integer per pixel; this is one tight int loop. */
case class PixelCountGe(pixels: Expression, threshold: Expression)
  extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(pixels, threshold)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels"),
      (threshold, IntegerType, "threshold")), "graft_pixel_count_ge")

  override lazy val replacement: Expression =
    KernelCall(PixelCountGe, dataType, children)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0), threshold = newChildren(1))
}

object PixelCountGe {
  def kernel(px: ArrayData, t: Int): Long = {
    var n = 0L
    var i = 0
    val len = px.numElements()
    while (i < len) { if (px.getInt(i) >= t) n += 1; i += 1 }
    n
  }
}

/** Closed-form synthetic plane: out[p] = (base + p) % 65536 for p in
  * [0, n) — the pixel formula behind `Fixtures.syntheticImages`. As a
  * column formulation (`transform(sequence(...))`) the corpus generator
  * paid one interpreted lambda eval + one boxed Integer PER PIXEL
  * (~55 M per bench rep of `ome_scale_pipeline`); as a native
  * expression it is one int-array loop per plane. */
case class SynthRampPixels(base: Expression, n: Expression)
  extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(base, n)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((base, LongType, "base"), (n, IntegerType, "n")), "graft_synth_ramp")

  override lazy val replacement: Expression =
    KernelCall(SynthRampPixels, dataType, children)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(base = newChildren(0), n = newChildren(1))
}

object SynthRampPixels {
  def kernel(b: Long, len: Int): ArrayData = {
    val out = new Array[Int](len)
    var p = 0
    while (p < len) { out(p) = ((b + p) % 65536L).toInt; p += 1 }
    new GenericArrayData(out)
  }
}

/** 2x2 floor block mean of a flat sx*sy plane; floor-halved output sizes
  * with degenerate-axis clamp (matches OmeOps.downscale2x semantics). */
case class BlockMean2x(pixels: Expression, sx: Expression, sy: Expression)
  extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(pixels, sx, sy)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels"),
      (sx, IntegerType, "sx"), (sy, IntegerType, "sy")), "graft_block_mean_2x")

  override lazy val replacement: Expression =
    KernelCall(BlockMean2x, dataType, children)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0), sx = newChildren(1), sy = newChildren(2))
}

object BlockMean2x {
  def kernel(px: ArrayData, w: Int, h: Int): ArrayData =
    new GenericArrayData(mean(px.toIntArray(), w, h))

  /** The 2x2 floor block mean of a flat w*h plane (the one loop behind
    * [[kernel]] and `OmeZarr.write`'s pyramid levels). */
  def mean(px: Array[Int], w: Int, h: Int): Array[Int] = {
    val nw = math.max(w / 2, 1); val nh = math.max(h / 2, 1)
    val dx = if (w >= 2) 1 else 0
    val dy = if (h >= 2) w else 0
    val out = new Array[Int](nw * nh)
    var by = 0
    while (by < nh) {
      var bx = 0
      while (bx < nw) {
        val base = (by * 2) * w + bx * 2
        out(by * nw + bx) = (px(base) + px(base + dx) +
          px(base + dy) + px(base + dy + dx)) / 4
        bx += 1
      }
      by += 1
    }
    out
  }
}

/**
 * Elementwise fold of a STACK of equal-size planes into one plane —
 * the kernel behind Z-projection (`max` = maximum-intensity
 * projection, `mean` = average-intensity projection with floor
 * division, both order-independent so `collect_list`'s
 * nondeterministic stack order cannot change the result). Evaluated
 * once per (image, t, c) GROUP on the collected stack — an
 * aggregation-boundary expression, not a per-row hot path — with one
 * tight int loop instead of a z×pixels interpreted `zip_with` tree.
 */
case class PlaneStackFold(stack: Expression, how: String)
  extends Expression with org.apache.spark.sql.catalyst.expressions
    .codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(stack)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    stack.dataType match {
      case ArrayType(ArrayType(IntegerType, _), _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_plane_fold: input must be array<array<int>> " +
          s"(got ${t.catalogString})")
    }

  override def eval(input: InternalRow): Any = {
    val sAny = stack.eval(input)
    if (sAny == null) return null
    val planes = sAny.asInstanceOf[ArrayData]
    val n = planes.numElements()
    if (n == 0) return null
    val first = planes.getArray(0)
    val len = first.numElements()
    // accumulate in long: mean sums up to n*65535 per cell
    val acc = new Array[Long](len)
    var i = 0
    while (i < len) { acc(i) = first.getInt(i).toLong; i += 1 }
    var p = 1
    while (p < n) {
      val plane = planes.getArray(p)
      // a ragged stack means the caller grouped mismatched planes —
      // surface it as null rather than folding garbage
      if (plane.numElements() != len) return null
      var i2 = 0
      while (i2 < len) {
        val v = plane.getInt(i2).toLong
        if (how == "max") { if (v > acc(i2)) acc(i2) = v }
        else acc(i2) += v
        i2 += 1
      }
      p += 1
    }
    val out = new Array[Int](len)
    var j = 0
    while (j < len) {
      out(j) = if (how == "mean") (acc(j) / n).toInt else acc(j).toInt
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(stack = newChildren(0))
}
/**
 * Brenner focus measure of a flat row-major sx-wide plane: the sum of
 * squared horizontal second-differences `(px[y, x+2] - px[y, x])^2`
 * (Brenner et al. 1976, the classic autofocus sharpness score — blurred
 * optics suppress high-frequency content, so out-of-focus planes score
 * low). The microscopy-QC substrate behind `OmeOps.focusReport`: the
 * reference's viewers surface focus picking interactively; at corpus
 * scale a per-plane scalar computed in one int loop is the shape that
 * survives — no pixel explode, no lambda per pixel.
 *
 * PRECONDITION: pixel values must fit uint16 (the OME surface's widest
 * integer dtype; `verify_ome_arrow` enforces it upstream). The exact-
 * integer no-overflow argument depends on it: max |d| = 65535,
 * d^2 < 2^33, summed in long — a full 2 GiB plane of alternating
 * extremes stays < 2^63 — so the score is engine-portable bit-for-bit
 * and the DuckDB oracle can replay it with `lead(v, 2)` window
 * differences. Full-int32 pixels would make d^2 reach ~2^62 per term
 * and silently wrap the long sum.
 *
 * A non-positive `sx` scores 0 (no complete row exists), keeping
 * nullability purely child-driven like PixelSum/PixelCountGe.
 */
case class PixelBrenner(pixels: Expression, sx: Expression)
  extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(pixels, sx)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels"),
      (sx, IntegerType, "sx")), "graft_pixel_brenner")

  override lazy val replacement: Expression =
    KernelCall(PixelBrenner, dataType, children)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0), sx = newChildren(1))
}

object PixelBrenner {
  def kernel(px: ArrayData, w: Int): Long = {
    if (w <= 0) return 0L
    val n = px.numElements()
    var s = 0L
    var rowBase = 0
    while (rowBase + w <= n) {
      var x = 0
      while (x + 2 < w) {
        val d = (px.getInt(rowBase + x + 2) - px.getInt(rowBase + x)).toLong
        s += d * d
        x += 1
      }
      rowBase += w
    }
    s
  }
}

/**
 * Exact integer dot product of two pixel planes: `Σ a[i]·b[i]`.
 * Length mismatch returns NULL: planes of one image share a geometry,
 * so lengths match in every legitimate call, and a silent
 * shorter-prefix dot would make `OmeOps.colocalization`'s moments
 * mutually inconsistent (n/Σx/Σy over full planes, Σxy over a prefix →
 * a quietly wrong Pearson r). NULL surfaces the corrupt plane in the
 * report instead. The moment kernel behind colocalization — Pearson
 * channel correlation needs Σxy / Σx² / Σy² per plane pair, and a
 * `zip_with` + `aggregate` formulation pays an interpreted lambda with
 * boxed Integers per pixel.
 *
 * PRECONDITION: pixel values must fit uint16 (`verify_ome_arrow`
 * enforces it upstream). Then each term ≤ 65535² < 2^32 and the sum
 * over a maximal 2^31−1-element plane stays below 2^63 — the long
 * accumulator cannot wrap, so the result is engine-portable
 * bit-for-bit.
 */
case class PixelDot(a: Expression, b: Expression) extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(a, b)
  override def dataType: DataType = LongType
  // NULL on length mismatch, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((a, ArrayType(IntegerType), "a"),
      (b, ArrayType(IntegerType), "b")), "graft_pixel_dot")

  override lazy val replacement: Expression =
    KernelCall(PixelDot, dataType, children, returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(a = newChildren(0), b = newChildren(1))
}

object PixelDot {
  def kernel(av: ArrayData, bv: ArrayData): java.lang.Long = {
    val n = av.numElements()
    if (n != bv.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      s += av.getInt(i).toLong * bv.getInt(i)
      i += 1
    }
    s
  }
}

/**
 * Element-wise long sum of `array<int>` pixel planes across rows — the
 * repo's first custom AGGREGATE kernel (TypedImperativeAggregate), and
 * the scale-correct substrate for corpus-wide per-pixel-position
 * statistics (flat-field / illumination estimation: the per-position
 * mean over every plane a detector produced, BaSiC's first moment).
 *
 * Why an imperative aggregate and not `collect_list` + a fold: the
 * fold's aggregation buffer is the WHOLE group's plane stack (corpus ÷
 * channels rows in flat-field grouping — unbounded), while this
 * buffer is one fixed `long[plane_size]` per partition per group that
 * merges associatively — map-side combine sends (partitions × groups)
 * arrays over the exchange, never the corpus. Per-row update is a tight
 * primitive loop (no boxing, no per-element lambda eval).
 *
 * Semantics: null planes are skipped; a ragged plane (length mismatch
 * vs the group's first) raises — per-position sums across mismatched
 * geometries are meaningless, and the OME invariant (`len(pixels) =
 * size_x·size_y`, export.py:97–101) makes mixed lengths within one
 * grouping a caller bug. Empty group → NULL. Overflow is impossible in
 * practice: uint16 pixels need 2^47 planes to wrap a long cell.
 */
case class PixelSumAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((child, ArrayType(IntegerType), "pixels")), "graft_pixel_sum_agg")

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val pxAny = child.eval(input)
    if (pxAny == null) return buf
    val px = pxAny.asInstanceOf[ArrayData]
    val n = px.numElements()
    if (buf.isEmpty) {
      val fresh = new Array[Long](n)
      var i = 0
      while (i < n) { fresh(i) = px.getInt(i).toLong; i += 1 }
      fresh
    } else {
      if (n != buf.length) throw new IllegalStateException(
        s"graft_pixel_sum_agg: ragged plane (${n} px vs ${buf.length}) — " +
          "per-position sums need one geometry per group")
      var i = 0
      while (i < n) { buf(i) += px.getInt(i); i += 1 }
      buf
    }
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    if (other.isEmpty) return buf
    if (buf.isEmpty) return other
    if (buf.length != other.length) throw new IllegalStateException(
      s"graft_pixel_sum_agg: ragged partials (${other.length} vs " +
        s"${buf.length})")
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    if (buf.isEmpty) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): PixelSumAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PixelSumAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
/**
 * Deterministic plane augmentation as a pure index permutation — the
 * vision-training augmentations (flips / right-angle rotations /
 * transpose) that are exact on integer pixels, no interpolation. The
 * output is the permuted flat row-major plane; rot90/transpose swap
 * the plane dimensions (callers swap their `size_x`/`size_y` columns
 * alongside, see [[graft.operators.OmeOps.augmentPlanes]]).
 *
 * `mode` is a build-time literal passed to the kernel as an argument.
 * Modes: `hflip`, `vflip`, `rot90` (clockwise), `rot180`, `transpose`.
 */
case class PixelPermute(pixels: Expression, sx: Expression,
    sy: Expression, mode: String) extends RuntimeReplaceable {

  require(PixelPermute.modes.contains(mode),
    s"graft_pixel_permute: mode must be one of " +
      s"${PixelPermute.modes.mkString(", ")} (got '$mode')")

  override def children: Seq[Expression] = Seq(pixels, sx, sy)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // NULL on ragged geometry, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels"),
      (sx, IntegerType, "sx"), (sy, IntegerType, "sy")),
    "graft_pixel_permute")

  override lazy val replacement: Expression = KernelCall(PixelPermute,
    dataType, children :+ Literal(mode), returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0), sx = newChildren(1), sy = newChildren(2))
}

object PixelPermute {
  val modes: Seq[String] =
    Seq("hflip", "vflip", "rot90", "rot180", "transpose")
  /** do the plane dimensions swap under this mode? */
  def swapsDims(mode: String): Boolean =
    mode == "rot90" || mode == "transpose"

  /** NULL on ragged geometry (the PixelDot convention): a plane whose
    * array disagrees with its declared dims would otherwise read out
    * of bounds or silently permute garbage. */
  def kernel(px: ArrayData, w: Int, h: Int, mode: UTF8String): ArrayData = {
    if (w <= 0 || h <= 0 || px.numElements().toLong != w.toLong * h)
      return null
    val n = h * w
    val m = modes.indexOf(mode.toString)
    val out = new Array[Int](n)
    var o = 0
    while (o < n) {
      // input index for output position o; cases follow `modes`
      out(o) = px.getInt((m: @switch) match {
        case 0 => (o / w) * w + (w - 1 - o % w)     // hflip
        case 1 => (h - 1 - o / w) * w + o % w       // vflip
        case 2 => (h - 1 - o % h) * w + o / h       // rot90: w rows x h cols
        case 3 => n - 1 - o                         // rot180
        case 4 => (o % h) * w + o / h               // transpose
      })
      o += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * Union-find labeling shared by [[PixelCcObjects]] and
 * [[PixelCcObjectsIntensity]]. Union-find keeps the SMALLER root on
 * every union, so a component's root — and therefore its label — is the
 * minimum linear pixel index it contains: a deterministic,
 * engine-portable labeling.
 */
object CcObjects {
  /** union-find over the 4-connected foreground; returns the parent
    * array (background = −1) with min-index roots. */
  private def unionFind(mask: ArrayData, w: Int): Array[Int] = {
    val n = mask.numElements()
    val parent = new Array[Int](n)
    var i = 0
    while (i < n) { parent(i) = if (mask.getInt(i) != 0) i else -1; i += 1 }

    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }

    i = 0
    while (i < n) {
      if (parent(i) >= 0) {
        if (i % w > 0 && parent(i - 1) >= 0) union(i, i - 1)
        if (i >= w && parent(i - w) >= 0) union(i, i - w)
      }
      i += 1
    }
    i = 0
    while (i < n) { if (parent(i) >= 0) parent(i) = find(i); i += 1 }
    parent
  }

  /** 4-connected components of `mask` (non-zero = foreground) as one
    * struct per object, sorted by label ascending:
    * `(label, area, y0, x0, y1, x1, sum_y, sum_x)` with an inclusive
    * bounding box and integer centroid sums (callers divide/round).
    * With intensity `px` (same geometry; may be shorter — missing
    * pixels read 0) each struct appends `(sum_v, min_v, max_v)`. */
  private[functions] def objects(mask: ArrayData, px: ArrayData,
      w: Int): ArrayData = {
    val n = mask.numElements()
    val np = if (px == null) 0 else px.numElements()
    val parent = unionFind(mask, w)
    // per-root stats; roots are min indexes, first-seen in ascending
    // index order, so insertion order == label order
    val order = new scala.collection.mutable.ArrayBuffer[Int]()
    val stats = new java.util.HashMap[Int, Array[Long]]()
    var i = 0
    while (i < n) {
      if (parent(i) >= 0) {
        val r = parent(i)
        val y = i / w; val x = i % w
        val v = if (i < np) px.getInt(i) else 0
        var s = stats.get(r)
        if (s == null) {
          s = Array[Long](0L, y, x, y, x, 0L, 0L, 0L, v, v)
          stats.put(r, s); order += r
        }
        s(0) += 1L
        if (y < s(1)) s(1) = y
        if (x < s(2)) s(2) = x
        if (y > s(3)) s(3) = y
        if (x > s(4)) s(4) = x
        s(5) += y; s(6) += x
        s(7) += v
        if (v < s(8)) s(8) = v
        if (v > s(9)) s(9) = v
      }
      i += 1
    }
    val rows = order.map { r =>
      val s = stats.get(r)
      val shape = Array[Any](r, s(0).toInt, s(1).toInt, s(2).toInt,
        s(3).toInt, s(4).toInt, s(5), s(6))
      new GenericInternalRow(
        if (px == null) shape else shape ++ Array[Any](s(7), s(8).toInt,
          s(9).toInt))
    }
    new GenericArrayData(rows.toArray[Any])
  }
}

/**
 * Connected-component object extraction over a flat row-major binary
 * mask — the segmentation primitive behind object counting / area /
 * centroid reports (the CellProfiler-style measurement unit). Mask
 * prep (threshold, modular pattern, Otsu output…) is whatever column
 * expression the caller composes; THIS expression is the imperative
 * part SQL can't express: per-plane union-find labeling, one tight
 * pass, no pixel ever leaving the row.
 *
 * Labels are each component's minimum linear pixel index (see
 * [[CcObjects]]) — deterministic across engines, so per-object rows
 * hash-compare against a recursive-CTE oracle.
 */
case class PixelCcObjects(mask: Expression, sx: Expression)
  extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(mask, sx)
  override def dataType: DataType = PixelCcObjects.schema
  // NULL on a non-positive width, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((mask, ArrayType(IntegerType), "mask"), (sx, IntegerType, "sx")),
    "graft_cc_objects")

  override lazy val replacement: Expression =
    KernelCall(PixelCcObjects, dataType, children, returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(mask = newChildren(0), sx = newChildren(1))
}

object PixelCcObjects {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("label", IntegerType, nullable = false),
    StructField("area", IntegerType, nullable = false),
    StructField("y0", IntegerType, nullable = false),
    StructField("x0", IntegerType, nullable = false),
    StructField("y1", IntegerType, nullable = false),
    StructField("x1", IntegerType, nullable = false),
    StructField("sum_y", LongType, nullable = false),
    StructField("sum_x", LongType, nullable = false))),
    containsNull = false)

  def kernel(mask: ArrayData, w: Int): ArrayData =
    if (w <= 0) null else CcObjects.objects(mask, null, w)
}

/**
 * Gray-level co-occurrence texture moments per plane — the Haralick
 * texture substrate (contrast, dissimilarity, energy, entropy derive
 * from these by pure column arithmetic, see
 * [[graft.operators.OmeOps.textureReport]]). One tight pass per plane
 * over the horizontal neighbor pairs; pixels never leave the row and
 * the co-occurrence matrix never materializes in the query — only the
 * 5 scalar moments do.
 */
case class PixelGlcmMoments(pixels: Expression, sx: Expression,
    bins: Int, maxv: Int) extends RuntimeReplaceable {

  require(bins > 0 && maxv >= bins,
    s"graft_glcm_moments: need 0 < bins <= maxv (got bins=$bins maxv=$maxv)")

  override def children: Seq[Expression] = Seq(pixels, sx)
  override def dataType: DataType = PixelGlcmMoments.schema
  // NULL on a non-positive width, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels"), (sx, IntegerType, "sx")),
    "graft_glcm_moments")

  override lazy val replacement: Expression = KernelCall(PixelGlcmMoments,
    dataType, children ++ Seq(Literal(bins), Literal(maxv)),
    returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0), sx = newChildren(1))
}

object PixelGlcmMoments {
  val schema: DataType = StructType(Seq(
    StructField("n_pairs", LongType, nullable = false),
    StructField("contrast_num", LongType, nullable = false),
    StructField("dissim_num", LongType, nullable = false),
    StructField("energy_num", LongType, nullable = false),
    StructField("clnc", DoubleType, nullable = false)))

  private def clampBin(v: Int, bins: Int, maxv: Int): Int = {
    val b = (v.toLong * bins / maxv).toInt
    if (b < 0) 0 else if (b > bins - 1) bins - 1 else b
  }

  /** Horizontal (offset (0,1)) co-occurrence moments over `bins`
    * equal-width bins of `[0, maxv)`: `(n_pairs, contrast_num,
    * dissim_num, energy_num, clnc)` where contrast_num = Σ c·(i−j)²,
    * dissim_num = Σ c·|i−j|, energy_num = Σ c² over the bins²
    * co-occurrence counts. All exact integers except `clnc = Σ c·ln c`,
    * which is accumulated in FIXED bin order so the double sum is
    * deterministic. */
  def kernel(px: ArrayData, w: Int, bins: Int, maxv: Int): InternalRow = {
    if (w <= 0) return null
    val n = px.numElements()
    val counts = new Array[Long](bins * bins)
    var i = 0
    while (i < n) {
      // the i+1 < n guard covers a ragged plane whose last row is
      // partial — the pair at the truncation point simply doesn't exist
      if (i % w < w - 1 && i + 1 < n) {
        // Long bin math + clamp to [0, bins-1]: a pixel outside
        // [0, maxv) (caller maxv narrower than the data's bit depth)
        // lands in the edge bin instead of indexing out of bounds
        val a = clampBin(px.getInt(i), bins, maxv)
        val b = clampBin(px.getInt(i + 1), bins, maxv)
        counts(a * bins + b) += 1L
      }
      i += 1
    }
    var nPairs = 0L; var contrast = 0L; var dissim = 0L; var energy = 0L
    var clnc = 0.0
    var k = 0
    while (k < counts.length) {
      val c = counts(k)
      if (c > 0L) {
        val d = k / bins - k % bins
        nPairs += c
        contrast += c * d * d
        dissim += c * math.abs(d)
        energy += c * c
        clnc += c.toDouble * math.log(c.toDouble)
      }
      k += 1
    }
    new GenericInternalRow(Array[Any](nPairs, contrast, dissim, energy, clnc))
  }
}

/**
 * [[PixelCcObjects]] with per-object intensity measurements: the mask
 * drives labeling, `pixels` (same geometry) contributes integrated /
 * min / max intensity per object — the full CellProfiler-style
 * measurement struct. Same determinism contract: labels are min
 * linear indexes, output sorted by label.
 */
case class PixelCcObjectsIntensity(mask: Expression, pixels: Expression,
    sx: Expression) extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(mask, pixels, sx)
  override def dataType: DataType = PixelCcObjectsIntensity.schema
  // NULL on a non-positive width, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((mask, ArrayType(IntegerType), "mask"),
      (pixels, ArrayType(IntegerType), "pixels"), (sx, IntegerType, "sx")),
    "graft_cc_objects_intensity")

  override lazy val replacement: Expression =
    KernelCall(PixelCcObjectsIntensity, dataType, children,
      returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(mask = newChildren(0), pixels = newChildren(1),
      sx = newChildren(2))
}

object PixelCcObjectsIntensity {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("label", IntegerType, nullable = false),
    StructField("area", IntegerType, nullable = false),
    StructField("y0", IntegerType, nullable = false),
    StructField("x0", IntegerType, nullable = false),
    StructField("y1", IntegerType, nullable = false),
    StructField("x1", IntegerType, nullable = false),
    StructField("sum_y", LongType, nullable = false),
    StructField("sum_x", LongType, nullable = false),
    StructField("sum_v", LongType, nullable = false),
    StructField("min_v", IntegerType, nullable = false),
    StructField("max_v", IntegerType, nullable = false))),
    containsNull = false)

  def kernel(mask: ArrayData, px: ArrayData, w: Int): ArrayData =
    if (w <= 0) null else CcObjects.objects(mask, px, w)
}

/**
 * Percentile contrast stretch — the display-normalization step the
 * reference's view substrate autoscaling implies, applied to the
 * pixels themselves: clamp to the plane's `[pLo, pHi]` percentile
 * window and rescale to 8-bit (the standard pre-export normalization
 * for training thumbnails and viewers). One O(n log n) sort + one
 * rescale loop per plane, fully inside the row; returns
 * `struct(lo, hi, pixels)` so callers get the window alongside the
 * normalized plane without a second sort.
 */
case class PixelStretch(pixels: Expression, pLo: Int, pHi: Int)
  extends RuntimeReplaceable {

  require(pLo >= 0 && pHi <= 100 && pLo < pHi,
    s"graft_pixel_stretch: need 0 <= pLo < pHi <= 100 (got $pLo, $pHi)")

  override def children: Seq[Expression] = Seq(pixels)
  override def dataType: DataType = PixelStretch.schema
  // NULL on an empty plane, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels")), "graft_pixel_stretch")

  override lazy val replacement: Expression = KernelCall(PixelStretch,
    dataType, children ++ Seq(Literal(pLo), Literal(pHi)),
    returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0))
}

object PixelStretch {
  val schema: DataType = StructType(Seq(
    StructField("lo", IntegerType, nullable = false),
    StructField("hi", IntegerType, nullable = false),
    StructField("pixels", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  /** `(lo, hi, stretched)`: 8-bit display-normalized plane; NULL on an
    * empty plane. The percentile is the SORTED-ARRAY INDEX form
    * `sorted[(n−1)·p/100]` (integer floor — deterministic under ties
    * because the VALUE at a sorted position never depends on tie
    * order), and the rescale is the integer-exact HALF_UP formula
    * `((clamp(v)−lo)·510 + (hi−lo)) / (2·(hi−lo))` — no doubles
    * anywhere, so the output is bit-identical across engines. hi == lo
    * (flat plane) maps everything to 0. */
  def kernel(px: ArrayData, pLo: Int, pHi: Int): InternalRow = {
    val n = px.numElements()
    if (n == 0) return null
    val sorted = px.toIntArray().clone()
    java.util.Arrays.sort(sorted)
    // Long sorted-index: (n-1)*pHi overflows Int above ~22.6M pixels
    val lo = sorted(((n - 1).toLong * pLo / 100).toInt)
    val hi = sorted(((n - 1).toLong * pHi / 100).toInt)
    val out = new Array[Int](n)
    if (hi > lo) {
      // Long window: with 32-bit intensity data hi - lo (and
      // (v-lo)*510) can exceed Int range — same class as the sorted-
      // index overflow above
      val d = hi.toLong - lo
      var i = 0
      while (i < n) {
        var v = px.getInt(i)
        if (v < lo) v = lo
        if (v > hi) v = hi
        out(i) = (((v.toLong - lo) * 510 + d) / (2 * d)).toInt
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](lo, hi, new GenericArrayData(out)))
  }
}

/**
 * Integer plane translation with zero fill — the APPLY half of drift
 * correction ([[graft.operators.OmeOps.driftApply]]): the plane moves
 * by `(dy, dx)` (`out(y, x) = in(y − dy, x − dx)`, out-of-frame reads
 * fill with 0), so a frame whose measured drift against its anchor is
 * `(dy, dx)` lands back on the anchor's coordinates. `dy`/`dx` are
 * COLUMN arguments (they come from the drift report's data), so the
 * shift varies per row.
 */
case class PixelShiftExpr(pixels: Expression, sx: Expression,
    dy: Expression, dx: Expression) extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(pixels, sx, dy, dx)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // NULL on a non-positive width, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels"), (sx, IntegerType, "sx"),
      (dy, IntegerType, "dy"), (dx, IntegerType, "dx")),
    "graft_pixel_shift")

  override lazy val replacement: Expression =
    KernelCall(PixelShiftExpr, dataType, children, returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0), sx = newChildren(1),
      dy = newChildren(2), dx = newChildren(3))
}

object PixelShiftExpr {
  def kernel(px: ArrayData, w: Int, sdy: Int, sdx: Int): ArrayData = {
    if (w <= 0) return null
    val n = px.numElements()
    val h = n / w
    val out = new Array[Int](n)
    var o = 0
    while (o < n) {
      val y = o / w - sdy
      val x = o % w - sdx
      out(o) = if (y >= 0 && y < h && x >= 0 && x < w)
        px.getInt(y * w + x) else 0
      o += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * Histogram equalization of one plane — the CDF-based NONLINEAR
 * contrast map ([[PixelStretch]]'s linear cousin): each pixel maps to
 * `(cdf(v) − cdf_min) · (L−1) / (n − cdf_min)` with HALF_UP handled
 * by the integer-exact `(x·2·(L−1) + d) / (2·d)` form — no doubles,
 * bit-identical across engines. `cdf(v)` = count of plane pixels
 * ≤ v (upper bound in the sorted copy, O(log n) per pixel);
 * `cdf_min` = multiplicity of the minimum. A constant plane maps to
 * all zeros; an empty plane is NULL. `levels` is a build-time literal.
 */
case class PixelEqualize(pixels: Expression, levels: Int)
  extends RuntimeReplaceable {

  require(levels >= 2, s"graft_pixel_equalize: levels must be >= 2")

  override def children: Seq[Expression] = Seq(pixels)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // NULL on an empty plane, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels")),
    "graft_pixel_equalize")

  override lazy val replacement: Expression = KernelCall(PixelEqualize,
    dataType, children :+ Literal(levels), returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0))
}

object PixelEqualize {
  def kernel(px: ArrayData, levels: Int): ArrayData = {
    val n = px.numElements()
    if (n == 0) return null
    val sorted = px.toIntArray().clone()
    java.util.Arrays.sort(sorted)
    // cdf_min = how many pixels share the minimum value
    var cmin = 1
    while (cmin < n && sorted(cmin) == sorted(0)) cmin += 1
    val d = n - cmin
    val out = new Array[Int](n)
    if (d > 0) {
      var i = 0
      while (i < n) {
        val v = px.getInt(i)
        // upper bound: first index with sorted(idx) > v
        var lo = 0; var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (sorted(mid) <= v) lo = mid + 1 else hi = mid
        }
        // Long numerator: lo can be the full plane size, so the Int
        // form overflows at levels=256 for planes above ~4.2M pixels
        out(i) = (((lo - cmin).toLong * 2 * (levels - 1) + d) /
          (2L * d)).toInt
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}

/**
 * Rank-to-target remap of one plane — the per-plane half of
 * cross-sample QUANTILE NORMALIZATION
 * ([[graft.operators.OmeOps.quantileNormalize]]): every pixel is
 * replaced by `targets(rank)` where `rank` is the pixel's position in
 * the plane's `(value, index)` sort — the deterministic tie-break that
 * makes equal pixels map to adjacent targets by original position, so
 * output is engine-identical. NULL when the target profile's length
 * disagrees with the plane (the PixelDot convention).
 */
case class PixelRankMap(pixels: Expression, targets: Expression)
  extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(pixels, targets)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // NULL on a length mismatch, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.check(
    Seq((pixels, ArrayType(IntegerType), "pixels"),
      (targets, ArrayType(IntegerType), "targets")),
    "graft_pixel_rank_map")

  override lazy val replacement: Expression =
    KernelCall(PixelRankMap, dataType, children, returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pixels = newChildren(0), targets = newChildren(1))
}

object PixelRankMap {
  def kernel(px: ArrayData, targets: ArrayData): ArrayData = {
    val n = px.numElements()
    if (n != targets.numElements()) return null
    // sort indices by (value, index)
    val idx = Array.tabulate(n)(identity)
    val vals = px.toIntArray()
    val boxed = idx.map(Integer.valueOf)
    java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c = java.lang.Integer.compare(vals(a), vals(b))
        if (c != 0) c else java.lang.Integer.compare(a, b)
      }
    })
    val out = new Array[Int](n)
    var r = 0
    while (r < n) { out(boxed(r)) = targets.getInt(r); r += 1 }
    new GenericArrayData(out)
  }
}

/**
 * Focus stacking — the all-in-focus composite: for every pixel
 * position, take the value from the z-plane whose LOCAL sharpness at
 * that position is maximal (squared horizontal second difference —
 * the pixel-level Brenner operator; border columns score 0). The
 * depth-of-field workaround every extended-focus microscopy pipeline
 * ships; [[PixelBrenner]] picks the best PLANE, this picks the best
 * plane PER PIXEL. Ties take the LOWEST z, and the stack is sorted by
 * z inside the kernel, so shuffle collect order cannot change the
 * result. Returns `struct(pixels, zmap)` — the composite plane plus
 * the chosen-z map (the QC view of where focus lives). The stack is
 * ARRAY<STRUCT<z INT, pixels ARRAY<INT>>> (any order).
 */
case class FocusStack(stack: Expression, sx: Expression)
  extends RuntimeReplaceable {

  override def children: Seq[Expression] = Seq(stack, sx)
  override def dataType: DataType = FocusStack.schema
  // NULL on w <= 0 or a ragged stack, independent of child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (sx.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "graft_focus_stack: sx must be INT")
    else stack.dataType match {
      case ArrayType(StructType(fields), _) if fields.length == 2 &&
        fields(0).dataType == IntegerType &&
        fields(1).dataType.isInstanceOf[ArrayType] =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_focus_stack: stack must be ARRAY<STRUCT<z INT, " +
          s"pixels ARRAY<INT>>> (got ${other.simpleString})")
    }

  override lazy val replacement: Expression =
    KernelCall(FocusStack, dataType, children, returnNullable = true)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(stack = newChildren(0), sx = newChildren(1))
}

object FocusStack {
  val schema: DataType = StructType(Seq(
    StructField("pixels", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("zmap", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  /** Returns null (→ SQL NULL) on a non-positive width or a ragged
    * stack (plane lengths disagree) — the PixelShiftExpr convention;
    * indexing every plane at the composite position otherwise reads
    * out of bounds on the shorter ones. */
  def kernel(stack: ArrayData, w: Int): InternalRow = {
    if (w <= 0) return null
    val nz = stack.numElements()
    val planes = Array.tabulate(nz) { i =>
      val r = stack.getStruct(i, 2)
      (r.getInt(0), r.getArray(1))
    }.sortBy(_._1)
    val n = if (nz == 0) 0 else planes(0)._2.numElements()
    var zi0 = 1
    while (zi0 < nz) {
      if (planes(zi0)._2.numElements() != n) return null
      zi0 += 1
    }
    val out = new Array[Int](n)
    val zmap = new Array[Int](n)
    var pos = 0
    while (pos < n) {
      val x = pos % w
      var bestSharp = -1L
      var bestIdx = 0
      var zi = 0
      while (zi < nz) {
        val px = planes(zi)._2
        val sharp = if (x == 0 || x == w - 1) 0L
        else {
          val d = px.getInt(pos - 1).toLong - 2L * px.getInt(pos) +
            px.getInt(pos + 1)
          d * d
        }
        if (sharp > bestSharp) { bestSharp = sharp; bestIdx = zi }
        zi += 1
      }
      out(pos) = planes(bestIdx)._2.getInt(pos)
      zmap(pos) = planes(bestIdx)._1
      pos += 1
    }
    new GenericInternalRow(
      Array[Any](new GenericArrayData(out), new GenericArrayData(zmap)))
  }
}
