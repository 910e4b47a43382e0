package omebench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point: one workload, one seed, one closed-loop client
 * issuing one call at a time against a `local[4]` session.
 *
 * Prints a report line (every workload-specific metric, sample counts and
 * input sizes) and then, as the last line, the result object
 * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
 * metrics are the end-to-end ones; with `--trace 1` the run installs the
 * [[Tracer]] and the metrics are the per-layer split.
 */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, traceOut: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), need("--trace-out"))
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder().master("local[4]").appName("omebench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, spark: SparkSession, seed: Long,
      dir: String): Workload = name match {
    case "ome" => new Ome(spark, seed, dir)
    case "text_curation" => new TextCuration(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    new File(opts.work).mkdirs()
    val t0 = System.nanoTime()
    val spark = session(opts.work)
    System.err.println(f"omebench: session ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val code =
      try {
        val wl = workload(opts.workload, spark, opts.seed, s"${opts.work}/data")
        val res = new Runner(spark, wl, opts).run()
        println(Json.obj(res.report))
        println(Json.obj(Map(
          "correct" -> (res.failed == 0),
          "attempted" -> res.attempted,
          "failed" -> res.failed,
          "metrics" -> res.metrics.map { case (k, (v, u)) =>
            k -> Map("value" -> v, "unit" -> u) })))
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }
}

/** Minimal JSON writer for the report and result lines. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => value(k) + ": " + value(v) }
      .mkString("{", ", ", "}")
}
