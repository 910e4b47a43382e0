package graft

import org.apache.spark.sql.functions._

import graft.functions.ZValue2
import graft.operators.LayoutOps

/** Z-order layout: interleave math and the measurable clustering
  * property (per-file key rectangles shrink vs an unclustered write). */
class LayoutSpec extends SparkSpec {

  test("ZValueKernel: hand-computed interleaves; x rides even bits") {
    // x=3 (bits 0,1) -> result bits 0,2 = 5; y=1 (bit 0) -> bit 1 = 2
    assert(ZValue2.kernel(3, 1, 2) === 7L)
    assert(ZValue2.kernel(1, 2, 2) === 9L) // 1 | (bit1 of y -> 8)
    assert(ZValue2.kernel(0, 0, 16) === 0L)
    // full 16-bit grid corner
    assert(ZValue2.kernel(65535, 0, 16) === 0x55555555L)
    assert(ZValue2.kernel(0, 65535, 16) === 0xAAAAAAAAL)
  }

  test("z_value expression: NULL on negative input; matches the kernel " +
      "through codegen") {
    import spark.implicits._
    graft.functions.ensureRegistered(spark)
    val out = Seq((3L, 1L), (1L, 2L), (-1L, 5L))
      .toDF("x", "y")
      .select(graft.functions.z_value(col("x"), col("y"), 2).as("z"))
      .collect()
    assert(out(0).getLong(0) === 7L && out(1).getLong(0) === 9L)
    assert(out(2).isNullAt(0))
  }

  test("writeZordered: per-file key rectangles are far tighter than an " +
      "unclustered write of the same rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 4096 points spread over a 256x256 grid in RANDOM row order, so
    // the unclustered write has no accidental locality
    val rows = rnd.shuffle((0 until 4096).toList)
      .map(i => (i.toLong % 256, i.toLong / 16 % 256))
      .toDF("x", "y")
    val zd = java.nio.file.Files.createTempDirectory("zord").toString
    val pd = java.nio.file.Files.createTempDirectory("plain").toString
    LayoutOps.writeZordered(rows, zd, "x", "y", bits = 8, numFiles = 8)
    rows.repartition(8).write.mode("overwrite").parquet(pd)
    def avgExtent(path: String): Double = {
      val r = LayoutOps.clusteringReport(spark, path, "x", "y")
        .agg(avg(col("extent_frac"))).collect().head
      r.getDouble(0)
    }
    val (zExt, pExt) = (avgExtent(zd), avgExtent(pd))
    // random-order files each span ~the whole grid (frac ~1); z-ordered
    // files cover compact rectangles
    assert(pExt > 0.8, s"unclustered baseline unexpectedly tight: $pExt")
    assert(zExt < pExt / 2,
      s"z-order must at least halve the mean key extent: z=$zExt plain=$pExt")

    // ...and the layout turns into real I/O: a small (x, y) rectangle
    // lets the parquet reader SKIP whole row groups whose min/max
    // exclude it, so the scan emits far fewer rows pre-filter on the
    // z-ordered layout (record-level filtering is off by default, so
    // scan numOutputRows = rows of the row groups actually read)
    def scannedRows(path: String): Long = {
      val q = spark.read.parquet(path)
        .filter(col("x") < 32 && col("y") < 32)
      q.collect() // drive the scan so metrics populate
      q.queryExecution.executedPlan.collectLeaves()
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value }.sum
    }
    val (zRows, pRows) = (scannedRows(zd), scannedRows(pd))
    assert(pRows === 4096L,
      s"unclustered layout must read every row group: $pRows")
    assert(zRows <= pRows / 2,
      s"z-order must skip most row groups: z=$zRows plain=$pRows")
  }

  test("perceptualHashPairs: brightness-offset invariant (aHash is " +
      "mean-relative); a flipped texture is distant") {
    import spark.implicits._
    val base = (0 until 64).map(p => (p * p) % 997)
    def planes(rows: (String, Seq[Int])*) = rows.toSeq.map {
      case (id, px) => (id, 0, 0, 0, 8, 8, px)
    }.toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    val out = graft.operators.OmeOps.perceptualHashPairs(planes(
      "a" -> base,
      "b" -> base.map(_ + 500),          // pure brightness offset
      "c" -> base.map(v => 997 - v)),    // inverted texture
      maxHamming = 64).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(5)).toMap
    assert(out(("a", "b")) === 0, "offset must not move mean-relative bits")
    assert(out(("a", "c")) > 32, s"inverted texture should be distant: $out")
  }

  test("perceptualHashPairs: banded candidate stage has exact recall — " +
      "band>maxHamming pigeonhole reproduces the exhaustive join") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // 12 images x 2 coordinates; half are noisy copies of a shared
    // texture (close pairs at several hamming distances), half random
    val shared = Array.fill(64)(rnd.nextInt(4096))
    val planes = (for {
      img <- 0 until 12
      z <- 0 until 2
    } yield {
      val px =
        if (img < 6) shared.map(v => v + (if (rnd.nextInt(8) == 0) 600 else 0))
        else Array.fill(64)(rnd.nextInt(4096))
      (f"img-$img%02d", 0, 0, z, 8, 8, px.toSeq)
    }).toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5))).toSet
    for (mh <- Seq(0, 3, 5, 16)) {
      val banded = asSet(graft.operators.OmeOps.perceptualHashPairs(
        planes, maxHamming = mh))
      val full = asSet(graft.operators.OmeOps.perceptualHashPairs(
        planes, maxHamming = mh, exhaustive = true))
      assert(banded === full,
        s"banded pairs diverge from exhaustive at maxHamming=$mh: " +
          s"missing=${full -- banded} extra=${banded -- full}")
    }
  }

  test("perceptualHashClusters: transitive chains fold into one " +
      "cluster labeled by the minimum image id") {
    import spark.implicits._
    // constant-popcount patterns (32 bright of 64 → mean fixed at
    // 2000) so the hash bit IS the pattern bit and hamming is exact:
    // a~b at 2, b~c at 2, a vs c at 4 (> maxHamming 3) — only
    // transitivity folds the chain; d is 32 bits away from everything
    def px(set: Set[Int]) = (0 until 64).map(i => if (set(i)) 3000 else 1000)
    val sa = (0 until 32).toSet
    val sb = sa - 1 + 33
    val sc = sb - 2 + 34
    val sd = (16 until 48).toSet
    val planes = Seq(
      ("img-a", px(sa)), ("img-b", px(sb)),
      ("img-c", px(sc)), ("img-d", px(sd)))
      .map { case (id, p) => (id, 0, 0, 0, 8, 8, p) }
      .toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    val out = graft.operators.OmeOps.perceptualHashClusters(
      planes, maxHamming = 3).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2),
        r.getInt(3))).toMap
    assert(out.keySet === Set("img-a", "img-b", "img-c"),
      s"chain members cluster, isolated image emits nothing: $out")
    assert(out.values.forall(_._1 == "img-a"), "min-id labels the cluster")
    assert(out.values.forall(_._2 == 3L))
    assert(out("img-a")._3 == 1 && out("img-b")._3 == 0)
    spark.catalog.clearCache() // pair/id frames persisted by the op
  }

  test("perceptualHashPairs: a plane wider than 64 pixels raises " +
      "instead of silently wrapping the bit index") {
    import spark.implicits._
    val planes = Seq(("big", 0, 0, 0, 9, 8, (0 until 72).map(p => p * 7)))
      .toDF("image_id", "t", "c", "z", "size_x", "size_y", "pixels")
    val e = intercept[Exception] {
      graft.operators.OmeOps.perceptualHashPairs(planes, maxHamming = 5)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("downscalePlanes")),
      s"expected the precondition error, got: $e")
  }

  test("compactParquet: partitioned table compacts per leaf, preserves " +
      "the partition layout and the partition column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compactp").toString +
      "/table"
    val rows = (0L until 1000L).map(i => (i, s"p $i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "s", "day")
    rows.repartition(20).write.partitionBy("day")
      .mode("overwrite").parquet(dir)
    val (nb, na) = graft.operators.LayoutOps.compactParquet(
      spark, dir, targetBytes = 64L * 1024)
    assert(nb === 40 && na < nb, // 20 files per partition before
      s"expected fewer files after partitioned compaction: $nb -> $na")
    // partition dirs survive in place — no flattening, no stragglers
    val children = new java.io.File(dir).listFiles().map(_.getName).sorted
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(children.toSeq === Seq("day=a", "day=b"),
      s"partition layout changed: ${children.toSeq}")
    // content identical INCLUDING the partition column
    val back = spark.read.parquet(dir)
      .select(col("id"), col("s"), col("day")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(back.toSeq ===
      (0L until 1000L).map(i => (i, s"p $i", if (i % 2 == 0) "a" else "b")))
    // partition pruning still works on the compacted layout
    assert(spark.read.parquet(dir).filter(col("day") === "a").count() === 500L)
  }

  test("compactParquet: collapses a small-file directory, preserves " +
      "content exactly, and survives re-reads after the swap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString +
      "/table"
    val rows = (0L until 2000L).map(i => (i, s"row $i payload"))
      .toDF("id", "s")
    rows.repartition(40).write.mode("overwrite").parquet(dir)
    val before = rows.collect().map(_.getLong(0)).sorted
    val (nb, na) = graft.operators.LayoutOps.compactParquet(
      spark, dir, targetBytes = 64L * 1024)
    assert(nb === 40 && na < nb,
      s"expected fewer files after compaction: $nb -> $na")
    val back = spark.read.parquet(dir).collect()
    assert(back.map(_.getLong(0)).sorted === before)
    assert(back.map(_.getString(1)).toSet ===
      (0L until 2000L).map(i => s"row $i payload").toSet)
    // no leftover staging dirs
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(_.contains("compact.")),
      s"staging dirs leaked: ${parent.toSeq}")
  }

  test("compactParquet: stranded staging dirs from a crashed run are " +
      "hidden from reads, swept on re-compaction, and a mid-swap leaf " +
      "is restored") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compactc").toString +
      "/table"
    val rows = (0L until 400L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "day")
    rows.repartition(4).write.partitionBy("day")
      .mode("overwrite").parquet(dir)
    val fsDir = new java.io.File(dir)
    // simulate crash A: backup copy of day=a stranded NEXT TO the live
    // leaf (crash between the write of tmp and the swap's first rename
    // leaves tmp; here we plant the worse case — a full stale backup)
    def copyTree(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles().foreach(f =>
          copyTree(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    copyTree(new java.io.File(fsDir, "day=a"),
      new java.io.File(fsDir, ".compact.old.day=a"))
    copyTree(new java.io.File(fsDir, "day=a"),
      new java.io.File(fsDir, ".compact.tmp.day=a"))
    // the dot prefix keeps partition discovery clean: no phantom
    // partition, no duplicated rows (THE r11-advice read hazard)
    assert(spark.read.parquet(dir).count() === 400L)
    assert(spark.read.parquet(dir).select("day").distinct().count() === 2L)
    // simulate crash B: day=b renamed away mid-swap (live leaf missing)
    assert(new java.io.File(fsDir, "day=b")
      .renameTo(new java.io.File(fsDir, ".compact.old.day=b")))
    // re-compaction sweeps A (stale copy + tmp deleted) and restores B
    val (nb, na) = graft.operators.LayoutOps.compactParquet(
      spark, dir, targetBytes = 64L * 1024 * 1024)
    assert(nb === 8 && na <= nb, s"unexpected file counts: $nb -> $na")
    // compact-staging names all contain "compact"; the remaining
    // hidden entries (_SUCCESS, ._*.crc checksums) are write-protocol
    // noise, not the hazard under test
    val children = fsDir.listFiles().map(_.getName)
      .filter(n => n.contains("compact") || n.startsWith("day=")).sorted
    assert(children.toSeq === Seq("day=a", "day=b"),
      s"staging dirs not swept: ${children.toSeq}")
    val back = spark.read.parquet(dir)
    assert(back.count() === 400L)
    assert(back.select(sum(col("id"))).head.getLong(0) ===
      (0L until 400L).sum)
  }
}
