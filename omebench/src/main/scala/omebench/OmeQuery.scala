package omebench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.pixel_sum
import graft.operators.OmeOps
import graft.sources.OmeParquet

/**
 * The query half of the `ome` workload: the "queried and related" claim.
 * Set-up writes the seeded corpus as OME-Parquet plus a per-image feature
 * table (plate, well, treatment). Each pass issues one fixed, seeded
 * sequence of short queries, one image each (the grouped join reads all),
 * through the OmeOps entry points. Every answer is compared with a
 * reference that [[prepare]] computes once, untimed, by plain loops over
 * the generator's pixel arrays, outside Spark.
 */
final class OmeQuery(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import spark.implicits._

  private val shape = Images.Shape(images = 6, t = 1, c = 2, z = 3, y = 256, x = 256)
  private val PerKind = 1
  private val pq = s"$dir/corpus"
  private val featuresPath = s"$dir/features"
  private val ids = (0 until shape.images).map(Images.imageId)

  private val rnd = new SplittableRandom(seed ^ 0x51ED2701L)
  /** Crop windows (x0, x1, y0, y1) and z selections the queries draw from. */
  private val windows = IndexedSeq.fill(4) {
    val w = 64 + rnd.nextInt(129)
    val h = 64 + rnd.nextInt(129)
    val x0 = rnd.nextInt(shape.x - w + 1)
    val y0 = rnd.nextInt(shape.y - h + 1)
    (x0, x0 + w, y0, y0 + h)
  }
  private val zSelections = IndexedSeq(Seq(0), (0 until shape.z).filter(_ % 2 == 0))
  private val treatments = Seq("dmso", "drug_a", "drug_b")
  private def treatment(i: Int): String =
    treatments(((i + seed) % treatments.size).toInt.abs)

  def setup(): Unit = {
    OmeParquet.write(Images.corpus(spark, seed, shape), pq)
    ids.zipWithIndex.map { case (id, i) =>
      (id, s"plate${i % 2}", s"${('A' + i / 4).toChar}${i % 4 + 1}",
        treatment(i))
    }.toDF("image_id", "plate", "well", "treatment")
      .coalesce(1).write.parquet(featuresPath)
  }

  private def corpus: DataFrame = OmeParquet.read(spark, pq)
  private def image(id: String): DataFrame =
    corpus.filter(col("ome_arrow.id") === id)
  private def planes(id: String): DataFrame = OmeOps.explodePlanes(image(id))

  // reference answers, keyed by query parameters
  private var refDescribe: Set[Seq[Any]] = Set.empty
  private var refWindow: Map[(Int, String, Int), Long] = Map.empty // (window, id, z)
  private var refPlane: Map[(String, Int, Int, Int), Seq[Any]] = Map.empty
  private var refHist: Map[String, Set[Seq[Any]]] = Map.empty
  private var refProject: Map[String, Long] = Map.empty
  private var refDown: Map[String, Long] = Map.empty
  private var refColoc: Map[String, Set[Seq[Any]]] = Map.empty
  private var refFocus: Map[String, Set[Seq[Any]]] = Map.empty
  private var refTreat: Set[Seq[Any]] = Set.empty

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  def prepare(): Unit = {
    graft.functions.ensureRegistered(spark)
    val (sx, sy) = (shape.x, shape.y)
    val px = ids.indices.map { i =>
      (for (t <- 0 until shape.t; c <- 0 until shape.c; z <- 0 until shape.z)
        yield (t, c, z) -> Images.plane(seed, i, t, c, z, shape)).toMap
    }
    def all(i: Int) = px(i).toSeq
    refDescribe = ids.map(id => Seq[Any](id, shape.t, shape.c, shape.z, sy, sx)).toSet
    refWindow = (for {
      (win, w) <- windows.zipWithIndex; i <- ids.indices; z <- 0 until shape.z
    } yield {
      val (x0, x1, y0, y1) = win
      (w, ids(i), z) -> all(i).collect { case ((_, _, `z`), a) =>
        (for (y <- y0 until y1; x <- x0 until x1) yield a(y * sx + x).toLong).sum
      }.sum
    }).toMap
    refPlane = (for (i <- ids.indices; ((t, c, z), a) <- all(i)) yield
      (ids(i), t, c, z) -> Seq[Any](a.min, a.max, a.length, a.map(_.toLong).sum)).toMap
    refHist = ids.indices.map { i =>
      ids(i) -> all(i).flatMap { case ((_, c, _), a) => a.map(v => (c, v / 4096)) }
        .groupBy(identity).map { case ((c, b), n) => Seq[Any](c, b, n.size.toLong) }.toSet
    }.toMap
    refProject = ids.indices.map { i =>
      ids(i) -> (for (t <- 0 until shape.t; c <- 0 until shape.c) yield
        (0 until sx * sy).map(p => (0 until shape.z).map(z => px(i)((t, c, z))(p)).max.toLong).sum).sum
    }.toMap
    refDown = ids.indices.map { i =>
      ids(i) -> all(i).map { case (_, a) =>
        (for (y <- 0 until sy / 2; x <- 0 until sx / 2) yield {
          val p = 2 * y * sx + 2 * x
          ((a(p) + a(p + 1) + a(p + sx) + a(p + sx + 1)) / 4).toLong
        }).sum
      }.sum
    }.toMap
    refColoc = ids.indices.map { i =>
      ids(i) -> (for (ca <- 0 until shape.c; cb <- ca + 1 until shape.c) yield {
        val pairs = for (t <- 0 until shape.t; z <- 0 until shape.z)
          yield (px(i)((t, ca, z)), px(i)((t, cb, z)))
        Seq[Any](ca, cb, pairs.map(_._1.length.toLong).sum,
          pairs.map(_._1.map(_.toLong).sum).sum, pairs.map(_._2.map(_.toLong).sum).sum,
          pairs.map { case (a, b) => a.indices.map(p => a(p).toLong * b(p)).sum }.sum)
      }).toSet
    }.toMap
    def brenner(a: Array[Int]): Long =
      (for (y <- 0 until sy; x <- 0 until sx - 2) yield {
        val d = (a(y * sx + x + 2) - a(y * sx + x)).toLong
        d * d
      }).sum
    refFocus = ids.indices.map { i =>
      ids(i) -> (for (t <- 0 until shape.t; c <- 0 until shape.c) yield {
        val scores = (0 until shape.z).map(z => brenner(px(i)((t, c, z))))
        // best z: highest score, ties to the lowest z
        val best = scores.indices.maxBy(z => (scores(z), -z))
        Seq[Any](t, c, shape.z.toLong, best, scores(best), scores.min, scores.max)
      }).toSet
    }.toMap
    refTreat = ids.indices.groupBy(treatment).map { case (tr, is) =>
      Seq[Any](tr, is.size.toLong, is.map(i => all(i).map(_._2.map(_.toLong).sum).sum).sum,
        is.size.toLong * shape.planes * sx * sy)
    }.toSet
  }

  private def pixelTotal(df: DataFrame): Long =
    df.agg(sum(pixel_sum(col("pixels")))).head().getLong(0)

  private def query(kind: String, r: SplittableRandom): Call = {
    val id = ids(r.nextInt(ids.size))
    val w = r.nextInt(windows.size)
    val (x0, x1, y0, y1) = windows(w)
    val zs = zSelections(r.nextInt(zSelections.size))
    val (t, c, z) = (r.nextInt(shape.t), r.nextInt(shape.c), r.nextInt(shape.z))
    val run: () => Boolean = kind match {
      case "describe" => () =>
        rows(OmeOps.describe(corpus).select("id", "size_t", "size_c", "size_z",
          "size_y", "size_x")).toSet == refDescribe
      case "slice" => () =>
        val out = OmeOps.sliceOmeArrow(image(id), x0, x1, y0, y1, zIndices = Some(zs))
        out.select(explode(col("ome_arrow.planes.pixels")).as("pixels"))
          .agg(sum(pixel_sum(col("pixels")))).head().getLong(0) ==
          zs.map(zz => refWindow((w, id, zz))).sum
      case "crop_planes" => () =>
        pixelTotal(OmeOps.cropPlanes(planes(id), x0, x1, y0, y1)) ==
          (0 until shape.z).map(zz => refWindow((w, id, zz))).sum
      case "plane_stats" => () =>
        rows(OmeOps.planeStats(image(id), t, c, z)
          .select("px_min", "px_max", "n_px", "px_sum")) ==
          Seq(refPlane((id, t, c, z)))
      case "histogram" => () =>
        rows(OmeOps.histogram(image(id)).select("c", "bin", "n_px")).toSet ==
          refHist(id)
      case "project_z" => () =>
        pixelTotal(OmeOps.projectZ(planes(id), "max")) == refProject(id)
      case "downscale2x" => () =>
        OmeOps.downscale2x(image(id))
          .select(explode(col("ome_arrow.planes.pixels")).as("pixels"))
          .agg(sum(pixel_sum(col("pixels")))).head().getLong(0) == refDown(id)
      case "colocalization" => () =>
        rows(OmeOps.colocalization(image(id)).select("c_a", "c_b", "n_px",
          "sum_x", "sum_y", "sum_xy")).toSet == refColoc(id)
      case "focus_report" => () =>
        rows(OmeOps.focusReport(image(id)).select("t", "c", "n_planes", "best_z",
          "best_score", "score_min", "score_max")).toSet == refFocus(id)
      case "treatment_stats" => () =>
        val perImage = OmeOps.explodePlanes(corpus)
          .groupBy(col("image_id"))
          .agg(sum(pixel_sum(col("pixels"))).as("px_sum"),
            sum(size(col("pixels")).cast("long")).as("n_px"))
        rows(perImage.join(spark.read.parquet(featuresPath), "image_id")
          .groupBy(col("treatment"))
          .agg(count(lit(1)), sum(col("px_sum")), sum(col("n_px")))).toSet == refTreat
    }
    Call(s"q.$kind", "operators", run)
  }

  /** The same seeded query sequence every pass: each kind [[PerKind]]
    * times, in a seeded order. */
  def pass(p: Int): IndexedSeq[Call] = {
    val r = new SplittableRandom(seed)
    val kinds = Layers.QueryKinds.flatMap(k => Seq.fill(PerKind)(k)).toIndexedSeq
    val order = kinds.indices.map(i => (r.nextLong(), i)).sortBy(_._1).map(_._2)
    order.map(i => query(kinds(i), r))
  }

  def sizes: Map[String, Any] = Map(
    "images" -> shape.images, "planes_per_image" -> shape.planes,
    "plane_px" -> s"${shape.y}x${shape.x}", "pixels" -> shape.pixels,
    "pixel_bytes" -> shape.pixels * 2, "queries_per_pass" -> PerKind * Layers.QueryKinds.size)

  def report(samples: Seq[Sample]): Map[String, (Double, String)] = {
    val walls = samples.filter(_.kind.startsWith("q.")).map(_.wallS)
    Map("query_p50_s" -> (Stats.quantile(walls, 0.5) -> "s"),
      "query_p90_s" -> (Stats.quantile(walls, 0.9) -> "s"),
      "query_samples" -> (walls.size.toDouble -> "count"))
  }
}
