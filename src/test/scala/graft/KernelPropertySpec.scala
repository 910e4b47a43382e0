package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.ProfileOps

/** Randomized properties of the r9-late kernels: permutation group
  * laws, union-find vs brute-force BFS, stretch invariants, triangle
  * counts vs exhaustive enumeration. */
class KernelPropertySpec extends SparkSpec with ModePairs {

  private val rnd = new scala.util.Random(20260814)

  private def permuteDf(planes: Seq[(Seq[Int], Int, Int)],
      mode: String): Seq[Seq[Int]] = {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    planes.toDF("px", "sx", "sy")
      .select(graft.functions.pixel_permute(
        col("px"), col("sx"), col("sy"), mode).as("o"))
      .collect().map(_.getSeq[Int](0)).toSeq
  }

  test("PixelPermute: hflip/vflip/rot180/transpose are involutions; " +
      "rot90 has order 4") {
    val planes = (1 to 8).map { _ =>
      val w = 1 + rnd.nextInt(6); val h = 1 + rnd.nextInt(6)
      (Seq.fill(h * w)(rnd.nextInt(1000)), w, h)
    }
    for (m <- Seq("hflip", "vflip", "rot180", "transpose")) {
      val once = permuteDf(planes, m)
      // dims swap under transpose, so feed the swapped geometry back
      val swapped = planes.zip(once).map { case ((_, w, h), p) =>
        if (graft.functions.PixelPermute.swapsDims(m)) (p, h, w)
        else (p, w, h)
      }
      val twice = permuteDf(swapped, m)
      assert(twice === planes.map(_._1), s"mode=$m not an involution")
    }
    // rot90 four times is the identity (dims swap on odd applications)
    var cur = planes
    for (_ <- 1 to 4) {
      val out = permuteDf(cur, "rot90")
      cur = cur.zip(out).map { case ((_, w, h), p) => (p, h, w) }
    }
    assert(cur.map(_._1) === planes.map(_._1), "rot90^4 != id")
  }

  test("PixelPermute: every mode is a permutation (multiset preserved)") {
    val planes = (1 to 6).map { _ =>
      val w = 1 + rnd.nextInt(7); val h = 1 + rnd.nextInt(7)
      (Seq.fill(h * w)(rnd.nextInt(100)), w, h)
    }
    for (m <- graft.functions.PixelPermute.modes) {
      val out = permuteDf(planes, m)
      planes.zip(out).foreach { case ((in, _, _), o) =>
        assert(o.sorted === in.sorted, s"mode=$m lost pixels")
      }
    }
  }

  test("CcObjects: labels/areas agree with a brute-force BFS on " +
      "random masks") {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    val cases = (1 to 20).map { _ =>
      val w = 2 + rnd.nextInt(7); val h = 2 + rnd.nextInt(7)
      (Seq.fill(h * w)(if (rnd.nextDouble() < 0.45) 1 else 0), w)
    }
    val got = cases.toDF("m", "w")
      .select(graft.functions.cc_objects(col("m"), col("w")).as("o"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getInt(0), r.getInt(1))))
    cases.zip(got).foreach { case ((mask, w), objs) =>
      // brute force: BFS flood fill, label = min index
      val n = mask.length
      val seen = Array.fill(n)(false)
      val expected = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      for (s <- 0 until n if mask(s) == 1 && !seen(s)) {
        var comp = List(s); seen(s) = true
        var frontier = List(s)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap { i =>
            val nbrs = Seq(
              if (i % w > 0) Some(i - 1) else None,
              if (i % w < w - 1 && i + 1 < n) Some(i + 1) else None,
              if (i >= w) Some(i - w) else None,
              if (i + w < n) Some(i + w) else None).flatten
            nbrs.filter(j => mask(j) == 1 && !seen(j)).map { j =>
              seen(j) = true; comp ::= j; j
            }
          }
        }
        expected += ((comp.min, comp.size))
      }
      assert(objs.toSeq === expected.sortBy(_._1).toSeq,
        s"mask=$mask w=$w")
    }
  }

  test("PixelStretch: output bounded to [0,255], monotone in the " +
      "input ordering within the window") {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    val planes = (1 to 10).map(_ =>
      Seq.fill(4 + rnd.nextInt(60))(rnd.nextInt(65536)))
    val rows = planes.map(Tuple1(_)).toDF("px")
      .select(graft.functions.pixel_stretch(col("px"), 5, 95).as("s"))
      .select(col("s.lo"), col("s.hi"), col("s.pixels"))
      .collect()
    planes.zip(rows).foreach { case (in, r) =>
      val (lo, hi, out) = (r.getInt(0), r.getInt(1), r.getSeq[Int](2))
      assert(out.forall(v => v >= 0 && v <= 255))
      // order preserved for in-window values
      for (i <- in.indices; j <- in.indices
           if in(i) >= lo && in(i) <= hi && in(j) >= lo && in(j) <= hi
             && in(i) <= in(j)) {
        assert(out(i) <= out(j))
      }
    }
  }

  test("trianglesOf: matches exhaustive enumeration on random graphs") {
    import spark.implicits._
    for (trial <- 1 to 5) {
      val nNodes = 5 + rnd.nextInt(6)
      val edges = (for {
        i <- 0 until nNodes; j <- (i + 1) until nNodes
        if rnd.nextDouble() < 0.4
      } yield (i, j)).toSeq
      if (edges.nonEmpty) {
        val es = edges.toSet
        val expect = (for {
          a <- 0 until nNodes; b <- (a + 1) until nNodes
          c <- (b + 1) until nNodes
          if es((a, b)) && es((b, c)) && es((a, c))
        } yield 1).size.toLong
        val r = ProfileOps.trianglesOf(edges.toDF("a", "b"), "a", "b")
          .collect().head
        assert(r.getLong(1) === expect,
          s"trial=$trial expect=$expect edges=$edges")
      }
    }
  }

  test("ZValueKernel: injective on the grid, and bit-exact " +
      "de-interleave recovers both inputs") {
    val bits = 10
    def deinterleave(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L; var b = 0
      while (b < bits) {
        x |= ((z >> (2 * b)) & 1L) << b
        y |= ((z >> (2 * b + 1)) & 1L) << b
        b += 1
      }
      (x, y)
    }
    val pts = Seq.fill(500)((rnd.nextInt(1024).toLong,
      rnd.nextInt(1024).toLong)).distinct
    val zs = pts.map { case (x, y) =>
      graft.functions.ZValue2.kernel(x, y, bits) }
    assert(zs.distinct.size === pts.size, "interleave must be injective")
    pts.zip(zs).foreach { case ((x, y), z) =>
      assert(deinterleave(z) === ((x, y)))
    }
  }

  test("NfcKernel: idempotent, and equal for canonically-equivalent " +
      "random combining sequences") {
    import org.apache.spark.unsafe.types.UTF8String
    def nfc(s: String): String =
      graft.functions.NfcNormalize.kernel(UTF8String.fromString(s)).toString
    val bases = "aeiouAEIOUcn"
    val combos = Seq('\u0300', '\u0301', '\u0302', '\u0303', '\u0308')
    for (_ <- 1 to 200) {
      val raw = (1 to 8).map { _ =>
        val b = bases(rnd.nextInt(bases.length)).toString
        if (rnd.nextBoolean()) b + combos(rnd.nextInt(combos.length)) else b
      }.mkString
      val once = nfc(raw)
      assert(nfc(once) === once, s"not idempotent on ${raw.toList}")
      // NFD of the NFC form must normalize back to the same NFC bytes
      val nfd = java.text.Normalizer.normalize(once,
        java.text.Normalizer.Form.NFD)
      assert(nfc(nfd) === once, s"NFD round-trip diverged on ${raw.toList}")
    }
  }

  test("domainCap: per-domain kept count is exactly min(cap, n) for " +
      "random skewed corpora") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val rows = (0 until 200).map { i =>
        (i.toLong + trial * 1000, s"t$i", s"d${rnd.nextInt(6)}") }
      val df = rows.toDF("doc_id", "text", "source").repartition(5)
      val kept = graft.operators.TextOps.domainCap(df, cap = 12)
        .filter(col("keep") === 1)
        .groupBy(col("domain")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = rows.groupBy(_._3).map { case (d, rs) =>
        d -> math.min(12, rs.size).toLong }
      assert(kept === expect, s"trial=$trial")
    }
  }

  test("sampleTokenBudget properties: keep == (cum <= budget), kept " +
      "mass within budget, and the keep-set is a contiguous prefix " +
      "in (u8, doc_id) order — over random corpora and budgets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 4) {
      val strata = Seq("w", "x", "y")
      val rows = (0 until 60).map { i =>
        (i.toLong + trial * 1000, strata(rnd.nextInt(3)),
          (1 + rnd.nextInt(50)).toLong)
      }
      val budgets = Map("w" -> (50L + rnd.nextInt(300)),
        "x" -> (50L + rnd.nextInt(300)))
      val default = 50L + rnd.nextInt(300)
      val out = graft.operators.TextOps.sampleTokenBudget(
          rows.toDF("doc_id", "source", "n_chars"),
          budgets, default).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getInt(5)))
      assert(out.length === 60, s"trial=$trial: every doc decided")
      for (st <- strata) {
        val b = budgets.getOrElse(st, default)
        val sr = out.filter(_._2 == st).sortBy(r => (r._3, r._1))
        // the flag is exactly the cumulative test
        assert(sr.forall { case (_, _, _, _, cum, keep) =>
          keep == (if (cum <= b) 1 else 0) }, s"trial=$trial stratum=$st")
        // cumulative column is the true running sum in (u8, id) order
        var run = 0L
        sr.foreach { case (id, _, _, n, cum, _) =>
          run += n
          assert(cum === run, s"trial=$trial stratum=$st doc=$id")
        }
        // prefix: once a doc drops, every later doc drops
        val keeps = sr.map(_._6)
        assert(!keeps.zip(keeps.drop(1)).exists { case (a, c) =>
          a == 0 && c == 1 }, s"trial=$trial stratum=$st not a prefix")
        // kept mass within budget
        assert(sr.filter(_._6 == 1).map(_._4).sum <= b,
          s"trial=$trial stratum=$st over budget")
      }
    }
  }

  test("MicroL2: codegen and interpreted paths agree on random long " +
      "arrays; a length mismatch raises in BOTH") {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    val rows = (1 to 64).map { _ =>
      val n = 1 + rnd.nextInt(16)
      (Seq.fill(n)(rnd.nextInt(2000000).toLong - 1000000L),
        Seq.fill(n)(rnd.nextInt(2000000).toLong - 1000000L))
    }
    val expected = rows.map { case (x, y) =>
      x.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum }
    assertBothModes(rows.toDF("a", "b")
      .select(expr("graft_micro_l2(a, b)")))(expected.map(Row(_)))
    // dim mismatch must raise (not return null and rank wrong cells
    // nearest) on BOTH paths
    assertBothModesFail(Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
      .select(expr("graft_micro_l2(a, b)")))("length mismatch")
  }
}
