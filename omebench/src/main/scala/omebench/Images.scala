package omebench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema._

/**
 * Seeded 5-D uint16 image corpus: every plane is a smooth field (four
 * Gaussian blobs per image and channel, sharpest at a seeded focal z, on
 * a gradient background) plus shot noise, so codecs see realistic
 * entropy and focus and colocalization kernels see real structure. Each
 * value is a pure function of (seed, image, t, c, z, y, x).
 */
object Images {

  final case class Shape(images: Int, t: Int, c: Int, z: Int, y: Int, x: Int) {
    def planes: Int = t * c * z
    def pixels: Long = images.toLong * planes * y * x
  }

  private def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, v) =>
    val k = (h ^ v) * 0xBF58476D1CE4E5B9L
    k ^ (k >>> 31)
  }

  def imageId(i: Int): String = f"img$i%03d"

  def plane(seed: Long, img: Int, t: Int, c: Int, z: Int, sh: Shape): Array[Int] = {
    // the seed places the blobs and the focal plane; sizes, amplitudes and
    // background are fixed, so every seed gives the codecs the same entropy
    val shape = new SplittableRandom(mix(seed, img, c))
    val nBlobs = 4
    val bx = Array.fill(nBlobs)(shape.nextDouble() * sh.x)
    val by = Array.fill(nBlobs)(shape.nextDouble() * sh.y)
    val bs = Array.tabulate(nBlobs)(b => sh.x * (0.06 + 0.02 * b))
    val ba = Array.tabulate(nBlobs)(b => 6000.0 + 3000.0 * b + 2000.0 * c)
    val focus = shape.nextInt(math.max(sh.z, 1))
    val bg = 500.0 + 100.0 * c
    val blur = 1.0 + 0.5 * math.abs(z - focus) + 0.1 * t
    val noise = new SplittableRandom(mix(seed, img, t, c, z, 7L))
    val out = new Array[Int](sh.x * sh.y)
    var y = 0
    while (y < sh.y) {
      var x = 0
      while (x < sh.x) {
        var m = bg * (1.0 + 0.3 * x / sh.x)
        var b = 0
        while (b < nBlobs) {
          val s = bs(b) * blur
          val dx = x - bx(b)
          val dy = y - by(b)
          m += ba(b) / blur * math.exp(-(dx * dx + dy * dy) / (2 * s * s))
          b += 1
        }
        val v = m + math.sqrt(m) * noise.nextGaussian()
        out(y * sh.x + x) = math.min(65535, math.max(0, math.round(v).toInt))
        x += 1
      }
      y += 1
    }
    out
  }

  def record(seed: Long, img: Int, sh: Shape): OmeArrowRecord = {
    val planes = for {
      t <- 0 until sh.t; c <- 0 until sh.c; z <- 0 until sh.z
    } yield OmePlane(z, t, c.toShort,
      ArraySeq.unsafeWrapArray(plane(seed, img, t, c, z, sh)))
    OmeArrowRecord(OmeSchema.TagType, OmeSchema.Version, imageId(img),
      imageId(img), new Timestamp(0L),
      OmePixelsMeta("XYZCT", "uint16", sh.x, sh.y, sh.z, sh.c.toShort, sh.t,
        Some(0.65f), Some(0.65f), Some(2.0f), Some("µm"), Some("µm"), Some("µm"),
        (0 until sh.c).map(c => OmeChannel(s"ch-$c", s"C$c", None, None, None,
          Some(0xFFFFFFFFL)))),
      planes)
  }

  /** The corpus as a one-column `ome_arrow` frame, generated on executors. */
  def corpus(spark: SparkSession, seed: Long, sh: Shape): DataFrame = {
    import spark.implicits._
    val ds: Dataset[OmeArrowRecord] =
      spark.range(0, sh.images, 1, math.min(sh.images, 8))
        .map(i => record(seed, i.toInt, sh))
    ds.select(struct(ds.columns.map(col).toIndexedSeq: _*).as(OmeSchema.DefaultColumn))
  }

  private def weight(t: Int, c: Int, z: Int): Long = 1L + t * 1009L + c * 101L + z * 7L

  /** Order-sensitive per-image checksum over every plane's pixels:
    * (Σ w·Σpixels, Σ w·Brenner), with a per-plane weight w. */
  def checksum(seed: Long, img: Int, sh: Shape): (Long, Long) = {
    var s = 0L
    var b = 0L
    for (t <- 0 until sh.t; c <- 0 until sh.c; z <- 0 until sh.z) {
      val px = plane(seed, img, t, c, z, sh)
      val w = weight(t, c, z)
      s += w * px.foldLeft(0L)(_ + _)
      var br = 0L
      var row = 0
      while (row < sh.y) {
        var x = 0
        while (x + 2 < sh.x) {
          val d = (px(row * sh.x + x + 2) - px(row * sh.x + x)).toLong
          br += d * d
          x += 1
        }
        row += 1
      }
      b += w * br
    }
    (s, b)
  }

  /** The same checksum computed by the library's pixel kernels over every
    * plane of every record in `df` (so a scan must decode all pixels). */
  def checksums(df: DataFrame): Map[String, (Long, Long)] = {
    graft.functions.ensureRegistered(df.sparkSession)
    val rec = col(OmeSchema.DefaultColumn)
    val w = lit(1L) + col("p.t").cast("long") * 1009L +
      col("p.c").cast("long") * 101L + col("p.z").cast("long") * 7L
    df.select(rec.getField("id").as("id"),
        rec.getField("pixels_meta").getField("size_x").as("sx"),
        explode(rec.getField("planes")).as("p"))
      .groupBy(col("id"))
      .agg(sum(w * graft.functions.pixel_sum(col("p.pixels"))).as("s"),
        sum(w * graft.functions.pixel_brenner(col("p.pixels"), col("sx"))).as("b"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }
}
