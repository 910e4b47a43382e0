package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.types._

/** Every native pixel/hash expression, compiled and interpreted, against
  * a plain-loop reference: 1x1 planes, odd widths, ragged lengths, the
  * int-overflow edges, and one extra row per argument with that
  * argument NULL (which must answer NULL in both modes). */
class KernelModeSpec extends SparkSpec with ModePairs {

  private val ints = ArrayType(IntegerType)
  private val longs = ArrayType(LongType)
  private val rnd = new scala.util.Random(20261018)
  private val Max = Int.MaxValue
  private val Min = Int.MinValue

  /** `cases` (one Seq of argument values each) as a frame of `schema`,
    * projected through the registered `fn` with `params` appended as
    * literals; both modes must equal `ref` per case, then NULL once per
    * column (each a copy of the first case). */
  private def checkKernel(fn: String, schema: StructType,
      cases: Seq[Seq[Any]], params: Seq[Any] = Nil)(
      ref: Seq[Any] => Any): Unit = {
    graft.functions.ensureRegistered(spark)
    val nullCases = schema.indices.map(i => cases.head.updated(i, null))
    val rows = (cases ++ nullCases).map(Row.fromSeq)
    val expected = cases.map(c => Row(ref(c))) ++ nullCases.map(_ => Row(null))
    assertBothModes(spark.createDataFrame(rows.asJava, schema)
      .select(call_function(fn,
        (schema.fieldNames.map(col) ++ params.map(lit)).toIndexedSeq: _*)))(
      expected)
  }

  private def fields(ts: (String, DataType)*): StructType =
    StructType(ts.map { case (n, t) => StructField(n, t) })

  private def arr(c: Any): Array[Int] = c.asInstanceOf[Seq[Int]].toArray
  private def plane(n: Int, hi: Int = 65536): Seq[Int] =
    Seq.fill(n)(rnd.nextInt(hi))
  private val edges = Seq(Max, Min, 0, -1, 1, Max - 1)

  test("graft_pixel_crop: both modes match the plain crop loop") {
    checkKernel("graft_pixel_crop", fields("px" -> ints, "sx" -> IntegerType,
      "x0" -> IntegerType, "x1" -> IntegerType, "y0" -> IntegerType,
      "y1" -> IntegerType), Seq(
      Seq(Seq(7), 1, 0, 1, 0, 1),
      Seq(plane(15), 5, 1, 4, 0, 2),
      Seq(plane(17), 5, 0, 5, 1, 3),        // ragged: 2 trailing pixels
      Seq(edges ++ edges, 3, 1, 3, 0, 4),
      Seq(plane(9), 3, 2, 2, 0, 3),         // empty window
      Seq(Seq(1, 2, 3, 4), 4, 0, 4, 0, 3), // rows past a short plane
      Seq(plane(17), 5, 0, 5, 0, 4),        // into the ragged last row
      Seq(plane(15), 5, 1, 6, 0, 1),        // past the right edge
      Seq(plane(15), 5, -1, 2, 0, 1), Seq(plane(15), 5, 0, 2, -1, 1),
      Seq(plane(15), 5, 3, 2, 0, 1), Seq(plane(15), 5, 0, 2, 2, 1),
      Seq(plane(15), 5, 0, 1, 0, 10), Seq(plane(15), 5, Min, Max, 0, 1),
      Seq(plane(6), 0, 0, 0, 0, 0), Seq(plane(6), -3, 0, 1, 0, 1)),
      ) { c =>
      val px = arr(c(0)); val Seq(w, x0, x1, y0, y1) =
        c.drop(1).map(_.asInstanceOf[Int])
      if (w <= 0 || x0 < 0 || x0 > x1 || x1 > w || y0 < 0 || y0 > y1 ||
          y1 > px.length / w) null
      else for (y <- y0 until y1; x <- x0 until x1) yield px(y * w + x)
    }
  }

  test("graft_pixel_sum: both modes match a long sum") {
    checkKernel("graft_pixel_sum", fields("px" -> ints), Seq(
      Seq(Seq(3)), Seq(Seq.empty[Int]), Seq(plane(13)),
      Seq(Seq(Max, Max, Max)), Seq(Seq(Min, Min, 1)), Seq(edges))) { c =>
      arr(c(0)).map(_.toLong).sum
    }
  }

  test("graft_pixel_count_ge: both modes match a counting loop") {
    checkKernel("graft_pixel_count_ge",
      fields("px" -> ints, "t" -> IntegerType), Seq(
      Seq(Seq(5), 5), Seq(Seq.empty[Int], 0), Seq(plane(21), 30000),
      Seq(edges, Min), Seq(edges, Max), Seq(edges, 0))) { c =>
      arr(c(0)).count(_ >= c(1).asInstanceOf[Int]).toLong
    }
  }

  test("graft_synth_ramp: both modes match the closed form") {
    checkKernel("graft_synth_ramp",
      fields("base" -> LongType, "n" -> IntegerType), Seq(
      Seq[Any](0L, 1), Seq[Any](65530L, 9), Seq[Any](7L, 0),
      Seq[Any](123456789L, 11), Seq[Any](Long.MaxValue - 2, 5))) { c =>
      val b = c(0).asInstanceOf[Long]
      (0 until c(1).asInstanceOf[Int]).map(p => ((b + p) % 65536L).toInt)
    }
  }

  test("graft_block_mean_2x: both modes match 2x2 floor means") {
    checkKernel("graft_block_mean_2x", fields("px" -> ints,
      "sx" -> IntegerType, "sy" -> IntegerType), Seq(
      Seq(Seq(9), 1, 1),
      Seq(Seq(1, 2, 3), 1, 3),              // degenerate x axis
      Seq(Seq(1, 2, 3), 3, 1),              // degenerate y axis
      Seq(plane(15), 5, 3),
      Seq(plane(16), 4, 4),
      Seq(Seq.fill(9)(65535), 3, 3),
      Seq(plane(20), 4, 4)),                // ragged: 4 trailing pixels
      ) { c =>
      val px = arr(c(0))
      val w = c(1).asInstanceOf[Int]; val h = c(2).asInstanceOf[Int]
      val nw = math.max(w / 2, 1); val nh = math.max(h / 2, 1)
      for (by <- 0 until nh; bx <- 0 until nw) yield {
        val ys = Seq(2 * by, math.min(2 * by + 1, h - 1)).distinct
        val xs = Seq(2 * bx, math.min(2 * bx + 1, w - 1)).distinct
        // a degenerate axis counts its one sample twice
        val cells = for (y <- ys; x <- xs) yield px(y * w + x)
        val sum = cells.sum * (4 / cells.size)
        sum / 4
      }
    }
  }

  test("graft_pixel_brenner: both modes match squared 2-differences") {
    checkKernel("graft_pixel_brenner",
      fields("px" -> ints, "sx" -> IntegerType), Seq(
      Seq(Seq(4), 1), Seq(plane(15), 5), Seq(plane(17), 5),
      Seq(Seq(0, 65535, 65535, 0, 65535, 0), 3), Seq(plane(6), 0),
      Seq(plane(6), -2), Seq(Seq.empty[Int], 3))) { c =>
      val px = arr(c(0)); val w = c(1).asInstanceOf[Int]
      if (w <= 0) 0L
      else (for (y <- 0 until px.length / w; x <- 0 until w - 2) yield {
        val d = (px(y * w + x + 2) - px(y * w + x)).toLong
        d * d
      }).sum
    }
  }

  test("graft_pixel_dot: both modes match; a length mismatch is NULL") {
    checkKernel("graft_pixel_dot", fields("a" -> ints, "b" -> ints), Seq(
      Seq(Seq(3), Seq(4)), Seq(Seq.empty[Int], Seq.empty[Int]),
      Seq(plane(13), plane(13)), Seq(Seq(Max, Min), Seq(Max, Min)),
      Seq(Seq(1, 2, 3), Seq(1, 2)), Seq(Seq.empty[Int], Seq(1)))) { c =>
      val a = arr(c(0)); val b = arr(c(1))
      if (a.length != b.length) null
      else a.indices.map(i => a(i).toLong * b(i)).sum
    }
  }

  test("graft_pixel_permute: every mode, both paths, against explicit " +
      "output coordinates; bad geometry is NULL") {
    for (mode <- graft.functions.PixelPermute.modes.toSeq.sorted) {
      checkKernel("graft_pixel_permute", fields("px" -> ints,
        "sx" -> IntegerType, "sy" -> IntegerType), Seq(
        Seq(Seq(8), 1, 1), Seq(plane(6), 3, 2), Seq(plane(15), 5, 3),
        Seq(edges, 2, 3), Seq(plane(5), 3, 2), Seq(plane(6), 0, 2),
        Seq(plane(6), 3, -1),
        Seq(Seq.empty[Int], 65536, 65536)),  // w*h wraps to 0 in Int
        params = Seq(mode)) { c =>
        val px = arr(c(0))
        val w = c(1).asInstanceOf[Int]; val h = c(2).asInstanceOf[Int]
        if (w <= 0 || h <= 0 || px.length.toLong != w.toLong * h) null
        else {
          val swap = mode == "rot90" || mode == "transpose"
          val (ow, oh) = if (swap) (h, w) else (w, h)
          for (r <- 0 until oh; q <- 0 until ow) yield {
            val (y, x) = mode match {
              case "hflip"     => (r, w - 1 - q)
              case "vflip"     => (h - 1 - r, q)
              case "rot180"    => (h - 1 - r, w - 1 - q)
              case "rot90"     => (h - 1 - q, r)
              case "transpose" => (q, r)
            }
            px(y * w + x)
          }
        }
      }
    }
  }

  /** 4-connected components by breadth-first flood fill, scanning in
    * index order so each label is its component's minimum index. */
  private def components(mask: Array[Int], w: Int): Seq[Seq[Int]] = {
    val n = mask.length
    val seen = new Array[Boolean](n)
    (0 until n).filter(mask(_) != 0).flatMap { start =>
      if (seen(start)) None
      else {
        seen(start) = true
        val q = scala.collection.mutable.Queue(start)
        val comp = scala.collection.mutable.ArrayBuffer[Int]()
        while (q.nonEmpty) {
          val i = q.dequeue(); comp += i
          val nbrs = Seq(
            if (i % w > 0) i - 1 else -1,
            if ((i + 1) % w > 0 && i + 1 < n) i + 1 else -1,
            i - w, if (i + w < n) i + w else -1)
          nbrs.filter(j => j >= 0 && mask(j) != 0 && !seen(j)).foreach {
            j => seen(j) = true; q.enqueue(j)
          }
        }
        Some(comp.toSeq)
      }
    }
  }

  private def objectRow(comp: Seq[Int], w: Int): Seq[Any] = {
    val ys = comp.map(_ / w); val xs = comp.map(_ % w)
    Seq(comp.min, comp.size, ys.min, xs.min, ys.max, xs.max,
      ys.map(_.toLong).sum, xs.map(_.toLong).sum)
  }

  private def masks = Seq(
    Seq(Seq(1), 1), Seq(Seq(0), 1),
    Seq(Seq.fill(15)(rnd.nextInt(2)), 5),
    Seq(Seq.fill(35)(rnd.nextInt(2)), 7),
    Seq(Seq.fill(17)(rnd.nextInt(2)), 5),   // ragged last row
    Seq(Seq.fill(12)(1), 3), Seq(Seq.empty[Int], 4),
    Seq(Seq(1, 0, 1, 1), 0), Seq(Seq(1, 0, 1, 1), -2),
    Seq(Seq(1, 0, 1, 1), Min))              // non-positive widths: NULL

  test("graft_cc_objects: both modes match a flood-fill labeling") {
    checkKernel("graft_cc_objects",
      fields("mask" -> ints, "sx" -> IntegerType), masks) { c =>
      val w = c(1).asInstanceOf[Int]
      if (w <= 0) null
      else components(arr(c(0)), w).map(comp => Row.fromSeq(objectRow(comp, w)))
    }
  }

  test("graft_cc_objects_intensity: both modes match flood fill plus " +
      "per-object intensity") {
    val cases = masks.map { case Seq(m, w) =>
      val n = m.asInstanceOf[Seq[Int]].size
      Seq(m, edges.take(2) ++ plane(math.max(n - 2, 0)), w)
    } :+ Seq(Seq(1, 1, 1, 1), Seq(5, 6), 2)  // pixels shorter than mask
    checkKernel("graft_cc_objects_intensity", fields("mask" -> ints,
      "px" -> ints, "sx" -> IntegerType), cases) { c =>
      val px = arr(c(1)); val w = c(2).asInstanceOf[Int]
      if (w <= 0) null
      else components(arr(c(0)), w).map { comp =>
        val vs = comp.map(i => if (i < px.length) px(i) else 0)
        Row.fromSeq(objectRow(comp, w) ++
          Seq(vs.map(_.toLong).sum, vs.min, vs.max))
      }
    }
  }

  test("graft_glcm_moments: both modes match a co-occurrence recount") {
    for ((bins, maxv) <- Seq((8, 256), (16, 65536))) {
      checkKernel("graft_glcm_moments", fields("px" -> ints,
        "sx" -> IntegerType), Seq(
        Seq(Seq(3), 1), Seq(plane(35, maxv), 7), Seq(plane(17, maxv), 5),
        Seq(edges ++ edges, 3), Seq(Seq.empty[Int], 2),
        Seq(plane(12, maxv), 0), Seq(plane(12, maxv), -2),
        Seq(plane(12, maxv), Min)),
        params = Seq(bins, maxv)) { c =>
        val px = arr(c(0)); val w = c(1).asInstanceOf[Int]
        if (w <= 0) null
        else {
          def bin(v: Int): Int =
            math.min(math.max((v.toLong * bins / maxv).toInt, 0), bins - 1)
          val counts = new Array[Long](bins * bins)
          for (i <- 0 until px.length - 1 if i % w < w - 1)
            counts(bin(px(i)) * bins + bin(px(i + 1))) += 1
          val cells = counts.indices.filter(counts(_) > 0)
            .map(k => (counts(k), k / bins - k % bins))
          Row(cells.map(_._1).sum, cells.map { case (n, d) => n * d * d }.sum,
            cells.map { case (n, d) => n * math.abs(d) }.sum,
            cells.map { case (n, _) => n * n }.sum,
            cells.foldLeft(0.0) { case (s, (n, _)) => s + n * math.log(n) })
        }
      }
    }
  }

  test("graft_pixel_stretch: both modes match the percentile window " +
      "rescale; an empty plane is NULL") {
    checkKernel("graft_pixel_stretch", fields("px" -> ints), Seq(
      Seq(Seq(5)), Seq(plane(31)), Seq(plane(16, 300)),
      Seq(Seq.fill(6)(42)), Seq(edges ++ edges), Seq(Seq(Min, Max)),
      Seq(Seq.empty[Int])), params = Seq(2, 98)) { c =>
      val px = arr(c(0))
      if (px.isEmpty) null
      else {
        val s = px.sorted
        val lo = s(((px.length - 1).toLong * 2 / 100).toInt)
        val hi = s(((px.length - 1).toLong * 98 / 100).toInt)
        val d = hi.toLong - lo
        Row(lo, hi, px.toSeq.map { v =>
          if (d <= 0) 0
          else (((math.min(math.max(v, lo), hi).toLong - lo) * 510 + d) /
            (2 * d)).toInt
        })
      }
    }
  }

  test("graft_pixel_shift: both modes match a zero-fill translation; " +
      "a non-positive width is NULL") {
    checkKernel("graft_pixel_shift", fields("px" -> ints, "sx" -> IntegerType,
      "dy" -> IntegerType, "dx" -> IntegerType), Seq(
      Seq(Seq(6), 1, 0, 0), Seq(plane(15), 5, 1, -2), Seq(plane(17), 5, -1, 3),
      Seq(plane(15), 5, Max, Min), Seq(plane(15), 5, Min, Max),
      Seq(plane(6), 0, 0, 0), Seq(plane(6), -3, 0, 0))) { c =>
      val px = arr(c(0))
      val Seq(w, dy, dx) = c.drop(1).map(_.asInstanceOf[Int])
      if (w <= 0) null
      else {
        val h = px.length / w
        px.indices.map { o =>
          val y = (o / w).toLong - dy; val x = (o % w).toLong - dx
          if (y >= 0 && y < h && x >= 0 && x < w) px((y * w + x).toInt)
          else 0
        }
      }
    }
  }

  test("graft_pixel_equalize: both modes match the CDF map; an empty " +
      "plane is NULL") {
    checkKernel("graft_pixel_equalize", fields("px" -> ints), Seq(
      Seq(Seq(3)), Seq(plane(31)), Seq(plane(25, 4)), Seq(edges),
      Seq(Seq.fill(5)(9)), Seq(Seq.empty[Int])), params = Seq(256)) { c =>
      val px = arr(c(0))
      if (px.isEmpty) null
      else {
        val cmin = px.count(_ == px.min)
        val d = px.length - cmin
        px.toSeq.map { v =>
          if (d == 0) 0
          else (((px.count(_ <= v) - cmin).toLong * 2 * 255 + d) /
            (2L * d)).toInt
        }
      }
    }
  }

  test("graft_pixel_rank_map: both modes match a (value, index) sort; " +
      "a length mismatch is NULL") {
    checkKernel("graft_pixel_rank_map", fields("px" -> ints,
      "targets" -> ints), Seq(
      Seq(Seq(4), Seq(10)), Seq(plane(21, 5), (0 until 21).map(_ * 3)),
      Seq(edges, Seq(1, 2, 3, 4, 5, 6)), Seq(Seq.empty[Int], Seq.empty[Int]),
      Seq(Seq(1, 2), Seq(1)))) { c =>
      val px = arr(c(0)); val tg = arr(c(1))
      if (px.length != tg.length) null
      else {
        val out = new Array[Int](px.length)
        px.indices.sortBy(i => (px(i), i)).zipWithIndex.foreach {
          case (i, r) => out(i) = tg(r)
        }
        out.toSeq
      }
    }
  }

  test("graft_focus_stack: both modes match a per-pixel sharpness " +
      "argmax; ragged stacks and non-positive widths are NULL") {
    val stackType = ArrayType(StructType(Seq(
      StructField("z", IntegerType), StructField("pixels", ints))))
    def stack(planes: (Int, Seq[Int])*): Seq[Row] =
      planes.map { case (z, p) => Row(z, p) }
    checkKernel("graft_focus_stack",
      fields("stack" -> stackType, "sx" -> IntegerType), Seq(
      Seq(stack(0 -> Seq(5)), 1),
      Seq(stack(2 -> plane(15), 0 -> plane(15), 1 -> plane(15)), 5),
      Seq(stack(1 -> Seq(0, 65535, 0, 65535), 0 -> Seq(65535, 0, 65535, 0)),
        4),
      Seq(stack(0 -> plane(7), 1 -> plane(7)), 7),
      Seq(stack(0 -> plane(4), 1 -> plane(2)), 2),
      Seq(stack(0 -> plane(4)), 0), Seq(stack(), 3))) { c =>
      val w = c(1).asInstanceOf[Int]
      val planes = c(0).asInstanceOf[Seq[Row]]
        .map(r => (r.getInt(0), r.getSeq[Int](1).toArray)).sortBy(_._1)
      val n = planes.headOption.map(_._2.length).getOrElse(0)
      if (w <= 0 || planes.exists(_._2.length != n)) null
      else {
        val best = (0 until n).map { pos =>
          val x = pos % w
          val sharp = planes.map { case (_, p) =>
            if (x == 0 || x == w - 1) 0L
            else {
              val d = p(pos - 1).toLong - 2L * p(pos) + p(pos + 1)
              d * d
            }
          }
          planes(sharp.indexOf(sharp.max))
        }
        Row(best.zipWithIndex.map { case ((_, p), pos) => p(pos) },
          best.map(_._1))
      }
    }
  }

  test("graft_micro_l2: both modes match an exact long sum of squares") {
    def vec(n: Int): Seq[Long] =
      Seq.fill(n)(rnd.nextInt(2000000).toLong - 1000000L)
    checkKernel("graft_micro_l2", fields("a" -> longs, "b" -> longs), Seq(
      Seq(vec(1), vec(1)), Seq(vec(17), vec(17)),
      Seq(Seq.empty[Long], Seq.empty[Long]),
      Seq(Seq(1000000000L, -1000000000L), Seq(-1000000000L, 0L)))) { c =>
      val a = c(0).asInstanceOf[Seq[Long]]; val b = c(1).asInstanceOf[Seq[Long]]
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    }
  }

  test("graft_nfc: both modes match java.text.Normalizer NFC") {
    checkKernel("graft_nfc", fields("s" -> StringType), Seq(
      Seq("plain ascii"), Seq(""), Seq("caf\u00e9"), Seq("cafe\u0301"),
      Seq("\u1100\u1161\u11a8"), Seq("A\u030a\u0301 e\u0308"))) { c =>
      java.text.Normalizer.normalize(c(0).asInstanceOf[String],
        java.text.Normalizer.Form.NFC)
    }
  }

  test("graft_zvalue: both modes match a bit-by-bit interleave; a " +
      "negative input is NULL") {
    for (bits <- Seq(2, 16, 31)) {
      checkKernel("graft_zvalue", fields("x" -> LongType, "y" -> LongType),
        Seq(Seq(3L, 1L), Seq(0L, 0L), Seq(65535L, 1L),
          Seq(Int.MaxValue.toLong, Long.MaxValue), Seq(-1L, 2L),
          Seq(2L, Long.MinValue)), params = Seq(bits)) { c =>
        val x = c(0).asInstanceOf[Long]; val y = c(1).asInstanceOf[Long]
        if (x < 0 || y < 0) null
        else (0 until bits).foldLeft(0L) { (z, b) =>
          z | (((x >>> b) & 1L) << (2 * b)) | (((y >>> b) & 1L) << (2 * b + 1))
        }
      }
    }
  }
}
