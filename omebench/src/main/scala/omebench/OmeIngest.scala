package omebench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.schema.OmeSchema
import graft.sources.{OmeParquet, OmeTiff, OmeZarr}

/**
 * The file↔struct half of the `ome` workload. Set-up writes the seeded
 * corpus as an OME-TIFF directory and an OME-Zarr v2 directory; each pass
 * ingests both into OME-Parquet, exports the Parquet back to TIFF and
 * Zarr, and decodes the exports. The decodes aggregate every plane's
 * pixels (the scans prune columns, so a bare count would decode headers
 * only) into per-image checksums compared with the generator's, which
 * checks the ingest and the export together. The pass also runs the TIFF
 * ingest's scan into Spark's `noop` sink, which decodes every plane and
 * writes nothing, so the traced run can split the ingest into scan and
 * Parquet write.
 */
final class OmeIngest(spark: SparkSession, seed: Long, dir: String) extends Workload {
  private val shape = Images.Shape(images = 6, t = 1, c = 2, z = 4, y = 256, x = 256)
  private val tiffDir = s"$dir/tiff"
  private val zarrDir = s"$dir/zarr"
  private var expected: Map[String, (Long, Long)] = Map.empty

  def setup(): Unit = {
    val df = Images.corpus(spark, seed, shape).cache()
    OmeTiff.write(df, tiffDir)
    OmeZarr.write(df, zarrDir)
    df.unpersist(true)
  }

  def prepare(): Unit =
    expected = (0 until shape.images).map(i =>
      Images.imageId(i) -> Images.checksum(seed, i, shape)).toMap

  private def matches(df: org.apache.spark.sql.DataFrame): Boolean =
    Images.checksums(df) == expected

  def pass(p: Int): IndexedSeq[Call] = {
    val out = s"$dir/pass$p"
    def tiff = spark.read.format("ometiff").load(tiffDir)
    IndexedSeq(
      Call("tiff_ingest", "sources", () => {
        OmeParquet.write(tiff, s"$out/pq_tiff"); true }),
      Call("tiff_scan", "sources", () => {
        tiff.select(col(OmeSchema.DefaultColumn)).write.format("noop")
          .mode("overwrite").save(); true }),
      Call("zarr_ingest", "sources", () => {
        OmeParquet.write(OmeZarr.readAll(spark, zarrDir), s"$out/pq_zarr"); true }),
      Call("tiff_export", "sources", () => {
        OmeTiff.write(OmeParquet.read(spark, s"$out/pq_tiff"), s"$out/tiff"); true }),
      Call("zarr_export", "sources", () => {
        OmeZarr.write(OmeParquet.read(spark, s"$out/pq_zarr"), s"$out/zarr"); true }),
      Call("tiff_decode", "sources", () =>
        matches(spark.read.format("ometiff").load(s"$out/tiff"))),
      Call("zarr_decode", "sources", () =>
        matches(OmeZarr.readAll(spark, s"$out/zarr"))))
  }

  /** Parquet part-file bytes the TIFF ingest wrote (a pure function of
    * the corpus), taken from the first pass that completed it. */
  private var parquetBytes = 0L

  override def endPass(p: Int): Unit = {
    val pq = new File(s"$dir/pass$p/pq_tiff")
    if (parquetBytes == 0L && pq.isDirectory)
      parquetBytes = pq.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum
    Files.remove(new File(s"$dir/pass$p"))
  }

  def sizes: Map[String, Any] = Map(
    "images" -> shape.images, "planes_per_image" -> shape.planes,
    "plane_px" -> s"${shape.y}x${shape.x}", "pixels" -> shape.pixels,
    "pixel_bytes" -> shape.pixels * 2)

  def report(samples: Seq[Sample]): Map[String, (Double, String)] = {
    val median = Stats.medianOfKind(samples) _
    val mpx = shape.pixels / 1e6
    Map(
      "ingest_mpx_s" -> (2 * mpx / (median("tiff_ingest") + median("zarr_ingest")) -> "Mpx/s"),
      "export_mpx_s" -> (2 * mpx / (median("tiff_export") + median("zarr_export")) -> "Mpx/s"),
      "stored_bytes_per_px_byte" -> (parquetBytes.toDouble / (shape.pixels * 2) -> "ratio"))
  }
}

object Files {
  def remove(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(remove)
    f.delete()
  }
}
