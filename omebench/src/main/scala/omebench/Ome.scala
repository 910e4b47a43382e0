package omebench

import org.apache.spark.sql.SparkSession

/**
 * `ome`: the paper's image path end to end, the [[OmeIngest]] file↔struct
 * round trip and the [[OmeQuery]] queries in one pass, each on its own
 * seeded corpus. The ingest calls are spread between blocks of queries,
 * so a window that ends mid-pass still samples both.
 */
final class Ome(spark: SparkSession, seed: Long, dir: String) extends Workload {
  private val ingest = new OmeIngest(spark, seed, s"$dir/ingest")
  private val query = new OmeQuery(spark, seed, s"$dir/query")

  def setup(): Unit = { ingest.setup(); query.setup() }
  def prepare(): Unit = { ingest.prepare(); query.prepare() }

  def pass(p: Int): IndexedSeq[Call] = {
    val io = ingest.pass(p)
    val qs = query.pass(p)
    val block = (qs.size + io.size - 1) / io.size
    io.zip(qs.grouped(block).toSeq.padTo(io.size, IndexedSeq.empty))
      .flatMap { case (c, q) => c +: q }
  }

  override def endPass(p: Int): Unit = ingest.endPass(p)

  def sizes: Map[String, Any] = Map("ingest" -> ingest.sizes, "query" -> query.sizes)

  def report(samples: Seq[Sample]): Map[String, (Double, String)] =
    ingest.report(samples) ++ query.report(samples)
}
