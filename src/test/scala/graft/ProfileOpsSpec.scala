package graft

import graft.operators.ProfileOps

/** Hand-computed expectations for the data-quality profiling surface. */
class ProfileOpsSpec extends SparkSpec {

  test("profileColumns: completeness, distinct, entropy per column") {
    import spark.implicits._
    val df = Seq(
      (Option("x"), Option(1)),
      (Option("x"), Option(2)),
      (Option("y"), Option(2)),
      (Option.empty[String], Option.empty[Int]))
      .toDF("a", "b")
    val out = ProfileOps.profileColumns(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("a", "b"))
    // a: 4 rows, 1 null, distinct {x:2, y:1};
    // H = ln 3 - (2 ln 2)/3 = 0.636514
    val ra = out("a")
    assert(ra.getLong(1) === 4L && ra.getLong(2) === 1L)
    assert(ra.getDouble(3) === 0.75)
    assert(ra.getLong(4) === 2L)
    assert(ra.getDouble(5) === 0.636514)
    // b has the same multiset shape {1:1, 2:2}
    val rb = out("b")
    assert(rb.getDouble(5) === 0.636514)
  }

  test("profileColumns: an all-null column reports zero entropy") {
    import spark.implicits._
    val df = Seq(Option.empty[String], Option.empty[String]).toDF("a")
    val r = ProfileOps.profileColumns(df, Seq("a")).collect().head
    assert(r.getLong(1) === 2L && r.getLong(2) === 2L)
    assert(r.getDouble(3) === 0.0)
    assert(r.getLong(4) === 0L)
    assert(r.getDouble(5) === 0.0)
  }

  test("kAnonymity: group-size risk rollup") {
    import spark.implicits._
    // QI groups: (g1) x1, (g2) x2 x2, (g3) x5 five times
    val df = (Seq("g1") ++ Seq.fill(2)("g2") ++ Seq.fill(5)("g3"))
      .toDF("qi")
    val r = ProfileOps.kAnonymity(df, Seq("qi"), k = 3).collect().head
    assert(r.getLong(0) === 8L)   // n_rows
    assert(r.getLong(1) === 3L)   // n_groups
    assert(r.getLong(2) === 1L)   // k_min
    assert(r.getLong(3) === 2L)   // groups_at_risk (sizes 1, 2)
    assert(r.getLong(4) === 3L)   // rows_at_risk
    assert(r.getDouble(5) === 0.375)
  }

  test("entityPairs: in-block Levenshtein pairs, duplicates collapsed") {
    import spark.implicits._
    val df = Seq("red bolt", "red colt", "blue bolt", "red bolt")
      .toDF("nm")
    val rows = ProfileOps.entityPairs(df, "nm", maxDist = 2, maxBlock = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // only the red block yields a pair; cross-block pairs never form
    assert(rows.toSeq === Seq(("red bolt", "red colt", 1)))
  }

  test("entityPairs: the per-block cap bounds the candidate stream") {
    import spark.implicits._
    val df = Seq("red bolt", "red colt", "red jolt").toDF("nm")
    assert(ProfileOps.entityPairs(df, "nm", 3, maxBlock = 1).count() === 0L)
    assert(ProfileOps.entityPairs(df, "nm", 3, maxBlock = 2).count() === 1L)
  }

  test("trianglesOf: counts each triangle once; chains stay open") {
    import spark.implicits._
    // K3 on {1,2,3} plus a pendant edge and a reversed duplicate
    val edges = Seq((1, 2), (2, 3), (1, 3), (3, 4), (2, 1))
      .toDF("a", "b")
    val r = ProfileOps.trianglesOf(edges, "a", "b").collect().head
    assert(r.getLong(0) === 4L) // (2,1) collapses into (1,2)
    assert(r.getLong(1) === 1L)
    assert(r.getLong(2) === 3L)
    // open chain: no closure
    val chain = Seq((1, 2), (2, 3)).toDF("a", "b")
    val c = ProfileOps.trianglesOf(chain, "a", "b").collect().head
    assert((c.getLong(0), c.getLong(1)) === ((2L, 0L)))
  }

  test("associationRules: support/confidence/lift on hand baskets") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 4L),
      (4L, 5L),
      (2L, 1L)) // duplicate line collapses in the distinct
      .toDF("b", "i")
    val out = ProfileOps.associationRules(rows, "b", "i",
      minCount = 2, maxBasketSize = 10, topK = 10).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 2L, 3L)))
    assert(r.getDouble(3) === 0.75)     // 3 of 4 baskets
    assert(r.getDouble(4) === 1.0)      // every basket with 1 has 2
    assert(r.getDouble(5) === 1.333333) // 3*4/(3*3)
  }

  test("associationRules: the basket-size cap drops mega-baskets " +
      "before pair fan-out") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 4L))
      .toDF("b", "i")
    // cap 2 drops baskets 1 and 3; the lone surviving pair count is 1
    assert(ProfileOps.associationRules(rows, "b", "i",
      minCount = 2, maxBasketSize = 2, topK = 10).count() === 0L)
  }

  test("associationRules: equals brute force on generated baskets, " +
      "with items at and just below minCount") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val minCount = 3
    val maxB = 6
    val generated = for (b <- 0L until 60L; _ <- 0 until 1 + rnd.nextInt(7))
      yield (b, rnd.nextInt(12).toLong)
    // item 100 is in exactly minCount baskets with item 0; item 101 in
    // one fewer — (0, 100) survives, every pair of 101 is pruned
    val edge = Seq((1000L, 0L), (1000L, 100L), (1000L, 101L),
      (1001L, 0L), (1001L, 100L), (1001L, 101L), (1002L, 0L), (1002L, 100L))
    val rows = generated ++ edge
    val baskets = rows.distinct.groupBy(_._1).values.map(_.map(_._2).sorted)
      .filter(_.size <= maxB).toSeq
    val nB = baskets.size
    val ci = baskets.flatten.groupBy(identity).map { case (i, xs) => i -> xs.size }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = baskets.flatMap(is => for (a <- is; b <- is if a < b) yield (a, b))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= minCount).toSeq
      .map { case ((a, b), n) => (a, b, n, r6(n.toDouble / nB),
        r6(n.toDouble / ci(a)), r6(n.toDouble * nB / (ci(a).toLong * ci(b)))) }
      .sortBy(r => (-r._3, r._1, r._2))
    assert(want.exists(r => (r._1, r._2, r._3) == ((0L, 100L, 3L))))
    assert(!want.exists(_._2 == 101L))
    for (topK <- Seq(want.size + 5, 4)) {
      val got = ProfileOps.associationRules(rows.toDF("b", "i"), "b", "i",
        minCount = minCount, maxBasketSize = maxB, topK = topK).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).toSeq
      assert(got === want.take(topK), s"topK=$topK")
    }
  }

  test("trianglesOf: K4 has four triangles") {
    import spark.implicits._
    val edges = (for {
      i <- 1 to 4; j <- (i + 1) to 4
    } yield (i, j)).toDF("a", "b")
    val r = ProfileOps.trianglesOf(edges, "a", "b").collect().head
    assert((r.getLong(0), r.getLong(1)) === ((6L, 4L)))
  }
}
