package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.OmeOps

/** Connected-component labeling kernel + segmentObjects semantics. */
class SegmentSpec extends SparkSpec with ModePairs {

  /** run the kernel through a DataFrame. */
  private def objects(mask: Seq[Int], w: Int): Seq[(Int, Int, Int, Int,
      Int, Int, Long, Long)] = {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    Seq((mask, w)).toDF("m", "w")
      .select(explode(graft.functions.cc_objects(col("m"), col("w")))
        .as("o"))
      .select(col("o.label"), col("o.area"), col("o.y0"), col("o.x0"),
        col("o.y1"), col("o.x1"), col("o.sum_y"), col("o.sum_x"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getLong(6), r.getLong(7))).toSeq
  }

  test("CcObjects: U-shape forces a union merge into one component") {
    // 3x3:  1 0 1
    //       1 0 1
    //       1 1 1   -> one 7-px object labeled by min index 0
    val m = Seq(1, 0, 1, 1, 0, 1, 1, 1, 1)
    val out = objects(m, 3)
    assert(out === Seq((0, 7, 0, 0, 2, 2, 0 + 0 + 1 + 1 + 2 + 2 + 2L,
      0 + 2 + 0 + 2 + 0 + 1 + 2L)))
  }

  test("CcObjects: two diagonal pixels stay separate (4-connectivity)") {
    val m = Seq(1, 0, 0, 1) // 2x2 diagonal
    val out = objects(m, 2)
    assert(out.map(o => (o._1, o._2)) === Seq((0, 1), (3, 1)))
  }

  test("CcObjects: empty mask yields no objects; full mask yields one") {
    assert(objects(Seq(0, 0, 0, 0), 2).isEmpty)
    val full = objects(Seq(1, 1, 1, 1), 2)
    assert(full === Seq((0, 4, 0, 0, 1, 1, 2L, 2L)))
  }

  test("CcObjects: labels are ascending min indexes; eval matches codegen") {
    import spark.implicits._
    // 2 rows x 4: two horizontal runs separated by a gap
    val m = Seq(1, 1, 0, 1, 1, 1, 0, 1)
    val viaDf = objects(m, 4)
    assert(viaDf.map(_._1) === viaDf.map(_._1).sorted)
    for ((mode, rows) <- rowsInBothModes(Seq((m, 4)).toDF("m", "w")
        .select(graft.functions.cc_objects(col("m"), col("w"))))) {
      val objs = rows.head.getSeq[Row](0)
      assert(objs.map(o => (o.getInt(0), o.getInt(1))) ===
        viaDf.map(o => (o._1, o._2)), s"mode=$mode")
    }
  }

  test("segmentObjects: centroids and bboxes on a planted blob") {
    import spark.implicits._
    // one 6x4 plane; blob = 2x2 square at rows 1-2, cols 1-2 plus an
    // isolated pixel at (3, 5)... but sx=6: pixel idx = y*6+x
    val px = Array.fill(24)(0)
    for (y <- 1 to 2; x <- 1 to 2) px(y * 6 + x) = 9
    px(3 * 6 + 5) = 9
    val planes = Seq(("img", 0, 0, 0, 6, 4, px.toSeq))
      .toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    val out = OmeOps.segmentObjects(planes,
      transform(col("pixels"), v => when(v >= 9, lit(1)).otherwise(lit(0))))
      .orderBy(col("label"))
      .collect().map(r => (r.getInt(4), r.getInt(5), r.getInt(6),
        r.getInt(7), r.getInt(8), r.getInt(9), r.getDouble(10),
        r.getDouble(11))).toSeq
    assert(out === Seq(
      (7, 4, 1, 1, 2, 2, 1.5, 1.5),   // the 2x2 blob, label = idx(1,1)
      (23, 1, 3, 5, 3, 5, 3.0, 5.0))) // the isolated pixel
  }

  test("trackObjects: two blobs CROSSING in x keep their identities " +
      "through mutual-nearest linking (segmentObjects end-to-end)") {
    import spark.implicits._
    // 8x8 planes, t = 0..4; blob A walks right along row 3
    // (x = 1,2,3,4,5), blob B walks left along row 5 (x = 6,5,4,3,2).
    // They cross in x between t=2 and t=3. Per-step own-successor
    // distance is 1; the cross-blob candidate is sqrt(4+1) > via d2:
    // own d2 = 1 vs swap d2 = 4+1? rows differ by 2 so swap d2 >= 4 —
    // mutual-nearest must link straight lines, never swap identities.
    val planes = (0 until 5).map { t =>
      val px = Array.fill(64)(0)
      px(3 * 8 + (1 + t)) = 9 // blob A
      px(5 * 8 + (6 - t)) = 9 // blob B
      ("xing", t, 0, 0, 8, 8, px.toSeq)
    }.toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    val objs = OmeOps.segmentObjects(planes,
      transform(col("pixels"), v => when(v >= 9, lit(1)).otherwise(lit(0))))
    val tracks = OmeOps.trackObjects(objs, maxDisp = 2.5)
      .orderBy(col("track_label")).collect()
    assert(tracks.length === 2, s"expected 2 tracks, got ${tracks.length}")
    val a = tracks(0) // root label = idx(3,1) = 25
    assert(a.getAs[Int]("track_t") === 0 && a.getAs[Int]("track_label") === 25)
    assert(a.getAs[Long]("n_obs") === 5L)
    assert(a.getAs[Int]("t_start") === 0 && a.getAs[Int]("t_end") === 4)
    assert(a.getAs[Double]("net_dy") === 0.0)
    assert(a.getAs[Double]("net_dx") === 4.0)  // x 1 -> 5
    assert(a.getAs[Double]("path_len") === 4.0)
    assert(a.getAs[Double]("max_step") === 1.0)
    val b = tracks(1) // root label = idx(5,6) = 46
    assert(b.getAs[Int]("track_t") === 0 && b.getAs[Int]("track_label") === 46)
    assert(b.getAs[Long]("n_obs") === 5L)
    assert(b.getAs[Double]("net_dx") === -4.0) // x 6 -> 2
    assert(b.getAs[Double]("path_len") === 4.0)
    spark.catalog.clearCache() // object frame persisted by the tracker
  }

  test("trackObjects: a past-maxDisp jump splits the track; an " +
      "unlinked object is a singleton") {
    import spark.implicits._
    val objs = Seq(
      // one blob stepping 1/frame, then jumping 10 at t=2
      ("im", 0, 0, 0, 100, 5.0, 5.0),
      ("im", 0, 0, 1, 100, 5.0, 6.0),
      ("im", 0, 0, 2, 100, 5.0, 16.0),
      ("im", 0, 0, 3, 100, 5.0, 17.0),
      // a lone object in another frame pair's void
      ("im", 0, 0, 1, 200, 50.0, 50.0)
    ).toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    val out = OmeOps.trackObjects(objs, maxDisp = 3.0)
      .orderBy(col("track_t"), col("track_label")).collect()
      .map(r => (r.getAs[Int]("track_t"), r.getAs[Int]("track_label"),
        r.getAs[Long]("n_obs"), r.getAs[Double]("net_dx")))
    assert(out.toSeq === Seq(
      (0, 100, 2L, 1.0),   // t0-t1 before the jump
      (1, 200, 1L, 0.0),   // the singleton
      (2, 100, 2L, 1.0)))  // t2-t3 after the jump
    // the per-object half agrees: every object carries its chain's
    // earliest (t, label) as track identity
    val asg = OmeOps.trackAssignments(objs, maxDisp = 3.0)
      .orderBy(col("t"), col("label")).collect()
      .map(r => (r.getAs[Int]("t"), r.getAs[Int]("label"),
        r.getAs[Int]("track_t"), r.getAs[Int]("track_label")))
    assert(asg.toSeq === Seq(
      (0, 100, 0, 100), (1, 100, 0, 100), (1, 200, 1, 200),
      (2, 100, 2, 100), (3, 100, 2, 100)))
    spark.catalog.clearCache()
  }

  test("trackObjects gap closing: a one-frame dropout splits the track " +
      "at maxGap=0 and bridges at maxGap=1") {
    import spark.implicits._
    // one blob drifting +1/frame in cx, missing at t=2 (detection
    // dropout): frames t = 0,1,3,4
    val objs = Seq(0, 1, 3, 4).map(t =>
      ("im", 0, 0, t, 7, 5.0, 10.0 + t))
      .toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    val split = OmeOps.trackObjects(objs, maxDisp = 3.0).collect()
    assert(split.length === 2, "dropout must split without gap closing")
    val bridged = OmeOps.trackObjects(objs, maxDisp = 3.0, maxGap = 1)
      .collect()
    assert(bridged.length === 1, "maxGap=1 must bridge the dropout")
    val tr = bridged(0)
    assert(tr.getAs[Long]("n_obs") === 4L)
    assert(tr.getAs[Int]("t_start") === 0 && tr.getAs[Int]("t_end") === 4)
    // steps: 1 + 2 (across the gap) + 1
    assert(tr.getAs[Double]("path_len") === 4.0)
    assert(tr.getAs[Double]("max_step") === 2.0)
    // the gap round must not re-link endpoints the adjacent pass
    // already paired: total links = 3 (0-1, 1-3 bridged, 3-4)
    spark.catalog.clearCache()
  }

  test("trackLineage: a crafted division links BOTH daughters to the " +
      "parent (rank-1 primary + rank-2 division edge), a third " +
      "equidistant object stays unlinked, lineage id spans the tree") {
    import spark.implicits._
    val objs = Seq(
      // parent at t=0; daughters at t=1 equidistant (d2=2 each, label
      // tie-break makes label 1 primary, label 2 the division child);
      // a THIRD near object (label 3, d2=4 -> rank-3) must NOT link;
      // daughters drift apart through t=2; a far bystander never splits
      ("dv", 0, 0, 0, 1, 10.0, 10.0),
      ("dv", 0, 0, 1, 1, 9.0, 11.0),
      ("dv", 0, 0, 1, 2, 11.0, 11.0),
      ("dv", 0, 0, 1, 3, 10.0, 12.0),
      ("dv", 0, 0, 2, 1, 8.0, 12.0),
      ("dv", 0, 0, 2, 2, 12.0, 12.0),
      ("dv", 0, 0, 0, 9, 30.0, 10.0),
      ("dv", 0, 0, 1, 9, 30.0, 11.0),
      ("dv", 0, 0, 2, 9, 30.0, 12.0)
    ).toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    val out = OmeOps.trackLineage(objs, maxDisp = 3.0)
      .orderBy(col("t"), col("label")).collect()
      .map(r => ((r.getAs[Int]("t"), r.getAs[Int]("label")),
        (Option(r.getAs[Any]("parent_t")).map(_.asInstanceOf[Int]),
          Option(r.getAs[Any]("parent_label")).map(_.asInstanceOf[Int]),
          r.getAs[Int]("is_division_child"),
          r.getAs[Int]("lineage_t"), r.getAs[Int]("lineage_label"))))
      .toMap
    assert(out.size === 9)
    // founders: parent, third object, bystander
    assert(out((0, 1)) === ((None, None, 0, 0, 1)))
    assert(out((1, 3)) === ((None, None, 0, 1, 3)))
    assert(out((0, 9)) === ((None, None, 0, 0, 9)))
    // the primary daughter continues the track; the division child
    // carries is_division_child=1; BOTH live in the parent's lineage
    assert(out((1, 1)) === ((Some(0), Some(1), 0, 0, 1)))
    assert(out((1, 2)) === ((Some(0), Some(1), 1, 0, 1)))
    // grand-children chain through their own parents, same lineage
    assert(out((2, 1)) === ((Some(1), Some(1), 0, 0, 1)))
    assert(out((2, 2)) === ((Some(1), Some(2), 0, 0, 1)))
    // the bystander's simple path is untouched by division logic
    assert(out((1, 9)) === ((Some(0), Some(9), 0, 0, 9)))
    assert(out((2, 9)) === ((Some(1), Some(9), 0, 0, 9)))
    spark.catalog.clearCache()
  }

  test("lineageStats: the division tree reports 1 division, 2 terminal " +
      "branches, peak 2 simultaneous cells; the bystander is a " +
      "division-free singleton lineage") {
    import spark.implicits._
    val objs = Seq(
      // same division corpus as the trackLineage spec: parent ->
      // primary daughter (label 1) + division child (label 2), plus
      // the unlinked rank-3 object and a far bystander chain
      ("dv", 0, 0, 0, 1, 10.0, 10.0),
      ("dv", 0, 0, 1, 1, 9.0, 11.0),
      ("dv", 0, 0, 1, 2, 11.0, 11.0),
      ("dv", 0, 0, 1, 3, 10.0, 12.0),
      ("dv", 0, 0, 2, 1, 8.0, 12.0),
      ("dv", 0, 0, 2, 2, 12.0, 12.0),
      ("dv", 0, 0, 0, 9, 30.0, 10.0),
      ("dv", 0, 0, 1, 9, 30.0, 11.0),
      ("dv", 0, 0, 2, 9, 30.0, 12.0)
    ).toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    val out = OmeOps.lineageStats(objs, maxDisp = 3.0).collect()
      .map(r => ((r.getAs[Int]("lineage_t"), r.getAs[Int]("lineage_label")),
        (r.getAs[Long]("n_obs"), r.getAs[Long]("n_divisions"),
          r.getAs[Long]("n_terminal"), r.getAs[Long]("max_cells"),
          r.getAs[Int]("t_start"), r.getAs[Int]("t_end")))).toMap
    assert(out.size === 3)
    // the division tree: parent + 2 daughters x 2 frames = 5 objects,
    // 1 division, 2 leaves, peak 2 cells alive at t=1 and t=2
    assert(out((0, 1)) === ((5L, 1L, 2L, 2L, 0, 2)))
    // the unlinked rank-3 object: singleton lineage
    assert(out((1, 3)) === ((1L, 0L, 1L, 1L, 1, 1)))
    // the bystander chain: 3 observations, never divides
    assert(out((0, 9)) === ((3L, 0L, 1L, 1L, 0, 2)))
  }

  test("trackMerges: a crafted fusion links BOTH predecessors into the " +
      "merged object (rank-1 primary + rank-2 merge edge), a rank-3 " +
      "bystander stays unlinked, one lineage spans the merged DAG") {
    import spark.implicits._
    val objs = Seq(
      // blob A drifts level; blob B closes from cy=13 and FUSES into
      // A at t=2 (B@t1 -> A@t2: rs=1, rd=2, target has primary);
      // C (label 3) is A@t2's rank-3 predecessor and must NOT link;
      // a far bystander chain is untouched by merge logic
      ("mg", 0, 0, 0, 1, 10.0, 10.0),
      ("mg", 0, 0, 1, 1, 10.0, 11.0),
      ("mg", 0, 0, 2, 1, 10.0, 12.0),
      ("mg", 0, 0, 0, 2, 13.0, 10.0),
      ("mg", 0, 0, 1, 2, 12.0, 11.0),
      ("mg", 0, 0, 1, 3, 7.5, 11.0),
      ("mg", 0, 0, 0, 9, 30.0, 10.0),
      ("mg", 0, 0, 1, 9, 30.0, 11.0),
      ("mg", 0, 0, 2, 9, 30.0, 12.0)
    ).toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    val out = OmeOps.trackMerges(objs, maxDisp = 3.0)
      .orderBy(col("t"), col("label")).collect()
      .map(r => ((r.getAs[Int]("t"), r.getAs[Int]("label")),
        (Option(r.getAs[Any]("parent_label")).map(_.asInstanceOf[Int]),
          Option(r.getAs[Any]("merge_parent_label"))
            .map(_.asInstanceOf[Int]),
          r.getAs[Int]("is_merge_child"),
          r.getAs[Int]("lineage_t"), r.getAs[Int]("lineage_label"))))
      .toMap
    assert(out.size === 9)
    // the merged object carries BOTH parents: primary A, merge B
    assert(out((2, 1)) === ((Some(1), Some(2), 1, 0, 1)))
    // B's pre-merge history joins A's lineage through the weak
    // component — a merge JOINS identities (documented semantics)
    assert(out((0, 2)) === ((None, None, 0, 0, 1)))
    assert(out((1, 2)) === ((Some(2), None, 0, 0, 1)))
    // A's own chain is plain primary links
    assert(out((0, 1)) === ((None, None, 0, 0, 1)))
    assert(out((1, 1)) === ((Some(1), None, 0, 0, 1)))
    // the rank-3 predecessor never links (no greedy cascade)
    assert(out((1, 3)) === ((None, None, 0, 1, 3)))
    // the bystander's simple path is untouched
    assert(out((1, 9)) === ((Some(9), None, 0, 0, 9)))
    assert(out((2, 9)) === ((Some(9), None, 0, 0, 9)))
    spark.catalog.clearCache()
  }

  test("trackEvents: a division and a fusion in ONE movie get consistent " +
      "identities — both rules fire, each family keeps one lineage") {
    import spark.implicits._
    val objs = Seq(
      // division family: parent 1 splits at t=1 into primary daughter 1
      // and division child 2 (equidistant, label tie-break)
      ("ev", 0, 0, 0, 1, 10.0, 10.0),
      ("ev", 0, 0, 1, 1, 9.0, 11.0),
      ("ev", 0, 0, 1, 2, 11.0, 11.0),
      // merge family: blob 5 closes from cy=33 and fuses into blob 4
      // at t=2
      ("ev", 0, 0, 0, 4, 30.0, 10.0),
      ("ev", 0, 0, 1, 4, 30.0, 11.0),
      ("ev", 0, 0, 2, 4, 30.0, 12.0),
      ("ev", 0, 0, 0, 5, 33.0, 10.0),
      ("ev", 0, 0, 1, 5, 32.0, 11.0)
    ).toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    val out = OmeOps.trackEvents(objs, maxDisp = 3.0)
      .orderBy(col("t"), col("label")).collect()
      .map(r => ((r.getAs[Int]("t"), r.getAs[Int]("label")),
        (Option(r.getAs[Any]("parent_label")).map(_.asInstanceOf[Int]),
          r.getAs[Int]("is_division_child"),
          Option(r.getAs[Any]("merge_parent_label"))
            .map(_.asInstanceOf[Int]),
          r.getAs[Int]("is_merge_child"),
          r.getAs[Int]("lineage_t"), r.getAs[Int]("lineage_label"))))
      .toMap
    assert(out.size === 8)
    // the division: both daughters parented by 1, child 2 flagged
    assert(out((1, 1)) === ((Some(1), 0, None, 0, 0, 1)))
    assert(out((1, 2)) === ((Some(1), 1, None, 0, 0, 1)))
    // the fusion: merged object carries primary 4 AND merge parent 5
    assert(out((2, 4)) === ((Some(4), 0, Some(5), 1, 0, 4)))
    // B's history joins the merged lineage; the division family's
    // lineage is separate
    assert(out((0, 5)) === ((None, 0, None, 0, 0, 4)))
    assert(out((1, 5)) === ((Some(5), 0, None, 0, 0, 4)))
    assert(out((0, 1)) === ((None, 0, None, 0, 0, 1)))
    spark.catalog.clearCache()
  }

  test("eventStats: terminal branches = founders + divisions - merges " +
      "(a merged lineage has two founders, one surviving branch)") {
    import spark.implicits._
    val objs = Seq(
      ("ev", 0, 0, 0, 1, 10.0, 10.0),
      ("ev", 0, 0, 1, 1, 9.0, 11.0),
      ("ev", 0, 0, 1, 2, 11.0, 11.0),
      ("ev", 0, 0, 0, 4, 30.0, 10.0),
      ("ev", 0, 0, 1, 4, 30.0, 11.0),
      ("ev", 0, 0, 2, 4, 30.0, 12.0),
      ("ev", 0, 0, 0, 5, 33.0, 10.0),
      ("ev", 0, 0, 1, 5, 32.0, 11.0)
    ).toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    val out = OmeOps.eventStats(objs, maxDisp = 3.0).collect()
      .map(r => ((r.getAs[Int]("lineage_t"), r.getAs[Int]("lineage_label")),
        (r.getAs[Long]("n_obs"), r.getAs[Long]("n_founders"),
          r.getAs[Long]("n_divisions"), r.getAs[Long]("n_merges"),
          r.getAs[Long]("n_terminal"), r.getAs[Long]("max_cells"))))
      .toMap
    assert(out.size === 2)
    // division lineage: 1 founder + 1 division = 2 terminal branches
    assert(out((0, 1)) === ((3L, 1L, 1L, 0L, 2L, 2L)))
    // merged lineage: 2 founders - 1 merge = 1 terminal branch
    assert(out((0, 4)) === ((5L, 2L, 0L, 1L, 1L, 2L)))
    spark.catalog.clearCache()
  }

  test("trackMerges: no merge into an object WITHOUT a primary " +
      "predecessor — two sources racing to an unclaimed target stay " +
      "separate tracks") {
    import spark.implicits._
    // two objects at t=0 EQUIDISTANT from one object at t=1: the
    // label tie-break gives label 1 rd=1 — but label 1's rs=1 pairs
    // reciprocally (primary), and label 2 (rs=1, rd=2) then merges.
    // Move the target so NEITHER source is reciprocal-primary
    // (target's rd=1 source has rs=2 elsewhere): with no primary
    // predecessor, the rd=2 edge must NOT become a merge.
    val objs = Seq(
      // s1 (label 1) has its OWN continuation at t=1 (label 4,
      // d2=1 — its rs=1), so its edge to the contested target
      // (label 5, d2=4, rs=2, rd=1) is not primary; s2 (label 2,
      // d2=5 to target, rs=1, rd=2) sees a target with NO primary
      // predecessor -> no merge edge, target stays a founder
      ("nm", 0, 0, 0, 1, 10.0, 10.0),
      ("nm", 0, 0, 1, 4, 10.0, 11.0),
      ("nm", 0, 0, 1, 5, 12.0, 10.0),
      ("nm", 0, 0, 0, 2, 14.0, 11.0)
    ).toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    val out = OmeOps.trackMerges(objs, maxDisp = 3.0)
      .orderBy(col("t"), col("label")).collect()
      .map(r => ((r.getAs[Int]("t"), r.getAs[Int]("label")),
        (Option(r.getAs[Any]("parent_label")).map(_.asInstanceOf[Int]),
          Option(r.getAs[Any]("merge_parent_label"))
            .map(_.asInstanceOf[Int]),
          r.getAs[Int]("is_merge_child")))).toMap
    // target (1,5) has no primary predecessor and therefore no merge
    assert(out((1, 5)) === ((None, None, 0)))
    // s1 continues into its own reciprocal partner
    assert(out((1, 4)) === ((Some(1), None, 0)))
    spark.catalog.clearCache()
  }

  test("trackLineage: no division from an object WITHOUT a primary " +
      "daughter — two children of an unclaimed parent stay founders") {
    import spark.implicits._
    // two objects at t=0 equidistant from ONE object b at t=1: b's
    // rank-1 predecessor is label 1 (tie-break), so label 1 <-> b is
    // primary; label 5's rank-1 candidate (b) was claimed, label 5 has
    // NO primary, so even though c is its rank-2 within maxDisp, no
    // division edge may form from it
    val objs = Seq(
      ("nv", 0, 0, 0, 1, 10.0, 10.0),
      ("nv", 0, 0, 0, 5, 12.0, 10.0),
      ("nv", 0, 0, 1, 7, 11.0, 11.0),  // b: between the two
      ("nv", 0, 0, 1, 8, 13.0, 11.0)   // c: nearer label 5, rank-2 of it
    ).toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    val out = OmeOps.trackLineage(objs, maxDisp = 3.0)
      .collect().map(r => ((r.getAs[Int]("t"), r.getAs[Int]("label")),
        (Option(r.getAs[Any]("parent_label")).map(_.asInstanceOf[Int]),
          r.getAs[Int]("is_division_child"),
          r.getAs[Int]("lineage_t"), r.getAs[Int]("lineage_label"))))
      .toMap
    // b: d2 to label1 = 1+1=2, to label5 = 1+1=2 -> tie, label 1 wins
    // rd; label1's rs=1 is b (c is d2=1+... farther) -> primary 1<->b.
    // c: d2 to label5 = 1+1=2 (rank-1 of c), label5's rs: b d2=2 (tie
    // label 7 < 8 -> rs(b)=1, rs(c)=2); label5 has NO primary (b's
    // rd=1 went to label 1), so rs=2&rd=1&hasp=0 -> NO division edge.
    assert(out((1, 7)) === ((Some(1), 0, 0, 1)))
    assert(out((0, 5)) === ((None, 0, 0, 5)))
    assert(out((1, 8)) === ((None, 0, 1, 8)),
      "division edge formed from a parent with no primary daughter")
    spark.catalog.clearCache()
  }

  /** A seeded movie of cells random-walking on an integer grid (so
    * centroid distances tie often): each step a cell may divide into
    * two neighbours, fuse with a cell at most two grid steps away, or
    * miss exactly one frame's detection. Rows are `(image_id, c, z, t,
    * label, cy, cx)`, labels unique per frame. */
  private def eventCorpus(seed: Long): Seq[(String, Int, Int, Int, Int,
      Double, Double)] = {
    val rnd = new scala.util.Random(seed)
    case class Cell(y: Int, x: Int, hidden: Boolean)
    for {
      (img, c) <- Seq(("ev0", 0), ("ev0", 1), ("ev1", 0))
      row <- {
        var cells = Vector.fill(6)(
          Cell(rnd.nextInt(14), rnd.nextInt(14), hidden = false))
        (0 until 7).flatMap { t =>
          val rows = cells.filterNot(_.hidden).zipWithIndex.map {
            case (o, i) => (img, c, 0, t, i + 1, o.y.toDouble, o.x.toDouble)
          }
          var next = Vector.empty[Cell]
          var fused = Set.empty[Int]
          for ((o, i) <- cells.zipWithIndex if !fused(i)) {
            val (y, x) = (o.y + rnd.nextInt(3) - 1, o.x + rnd.nextInt(3) - 1)
            val r = rnd.nextDouble()
            val mate = cells.indices.find(j => j > i && !fused(j) &&
              math.abs(cells(j).y - o.y) + math.abs(cells(j).x - o.x) <= 2)
            if (r < 0.15)
              next ++= Vector(Cell(y - 1, x, false), Cell(y + 1, x, false))
            else if (r < 0.35 && mate.isDefined) {
              fused += mate.get
              val m = cells(mate.get)
              next :+= Cell((o.y + m.y) / 2, (o.x + m.x) / 2, false)
            } else next :+= Cell(y, x, r < 0.42 && !o.hidden)
          }
          cells = next.take(24)
          rows
        }
      }
    } yield row
  }

  test("trackEvents, trackLineage, trackMerges and trackAssignments " +
      "agree per object on the edges and identities they share") {
    import spark.implicits._
    val objs = eventCorpus(20261019L)
      .toDF("image_id", "c", "z", "t", "label", "cy", "cx")
    type Key = (String, Int, Int, Int, Int)
    def byObject(df: org.apache.spark.sql.DataFrame,
        cols: String*): Map[Key, Seq[Any]] =
      df.collect().map(r => (r.getAs[String]("image_id"),
        r.getAs[Int]("c"), r.getAs[Int]("z"), r.getAs[Int]("t"),
        r.getAs[Int]("label")) -> cols.map(r.getAs[Any])).toMap
    val ev = byObject(OmeOps.trackEvents(objs), "parent_t", "parent_label",
      "is_division_child", "merge_parent_t", "merge_parent_label",
      "is_merge_child")
    val lin = byObject(OmeOps.trackLineage(objs), "parent_t",
      "parent_label", "is_division_child", "lineage_t", "lineage_label")
    val mrg = byObject(OmeOps.trackMerges(objs), "merge_parent_t",
      "merge_parent_label", "is_merge_child")
    val asg = byObject(OmeOps.trackAssignments(objs), "track_t",
      "track_label")
    val n = objs.count()
    assert(Seq(ev, lin, mrg, asg).forall(_.size == n))
    for ((k, e) <- ev) {
      assert(e.take(3) === lin(k).take(3), s"division parent of $k")
      assert(e.drop(3) === mrg(k), s"merge parent of $k")
    }
    // a lineage without a division edge is exactly one one-to-one track
    def lineage(k: Key, v: Seq[Any]) = (k._1, k._2, k._3, v(3), v(4))
    val divided = lin.collect { case (k, v) if v(2) == 1 => lineage(k, v) }
      .toSet
    val plain = lin.filter { case (k, v) => !divided(lineage(k, v)) }
    for ((k, v) <- plain)
      assert(v.drop(3) === asg(k), s"lineage vs track id of $k")
    // the corpus exercises every rule the identities cover
    assert(divided.nonEmpty, "no division in the corpus")
    assert(mrg.values.exists(_(2) == 1), "no merge in the corpus")
    assert(plain.map { case (k, v) => lineage(k, v) }.toSet.size <
      plain.size, "no multi-object lineage without a division")
    spark.catalog.clearCache()
  }

  test("trackIntensityTrends: exact least-squares slope per track; " +
      "NULL for a singleton") {
    import spark.implicits._
    val objs = Seq(
      // linear bleach -3/frame over 4 frames (stationary object)
      ("im", 0, 0, 0, 1, 5.0, 5.0, 90.0),
      ("im", 0, 0, 1, 1, 5.0, 5.0, 87.0),
      ("im", 0, 0, 2, 1, 5.0, 5.0, 84.0),
      ("im", 0, 0, 3, 1, 5.0, 5.0, 81.0),
      // a singleton: slope undefined
      ("im", 0, 0, 1, 9, 50.0, 50.0, 42.0)
    ).toDF("image_id", "c", "z", "t", "label", "cy", "cx",
      "mean_intensity")
    val out = OmeOps.trackIntensityTrends(objs, maxDisp = 1.0)
      .orderBy(col("track_label")).collect()
    assert(out.length === 2)
    assert(out(0).getAs[Double]("bleach_slope") === -3.0)
    assert(out(0).getAs[Double]("i_start") === 90.0)
    assert(out(0).getAs[Double]("i_end") === 81.0)
    assert(out(1).isNullAt(out(1).fieldIndex("bleach_slope")))
    assert(out(1).getAs[Long]("n_obs") === 1L)
    spark.catalog.clearCache()
  }
}
