package omebench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.operators.Caches

/** One timed call into the library. `kind` names what it does (unique
  * across workloads), `layer` the repo module it lands in, and `run`
  * performs it and returns whether its answer matched the reference. */
final case class Call(kind: String, layer: String, run: () => Boolean)

/** A benchmark workload: seeded inputs, references, and a fixed call
  * sequence that the runner cycles through in passes. */
trait Workload {
  /** Writes the seeded inputs. Timed as set-up and repeated, so it must
    * start from an empty directory and end in the same state. */
  def setup(): Unit
  /** Untimed, once after set-up: computes the reference answers. */
  def prepare(): Unit
  /** The calls of pass `p`, in order; outputs go to paths fresh to `p`. */
  def pass(p: Int): IndexedSeq[Call]
  /** Untimed, after pass `p`: removes what the pass wrote. */
  def endPass(p: Int): Unit = ()
  /** Input sizes, for the report line. */
  def sizes: Map[String, Any]
  /** The workload's own end-to-end figures, from its timed calls. */
  def report(samples: Seq[Sample]): Map[String, (Double, String)]
}

/** One executed call with its wall time and whether its answer matched. */
final case class Sample(kind: String, layer: String, span: String,
    startMs: Long, endMs: Long, wallS: Double, ok: Boolean, leftover: Int)

final case class Result(attempted: Int, failed: Int,
    metrics: Map[String, (Double, String)], report: Map[String, Any])

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Median wall time of the calls of one kind (0 when none ran). */
  def medianOfKind(samples: Seq[Sample])(kind: String): Double =
    median(samples.filter(_.kind == kind).map(_.wallS))
}

/**
 * Closed-loop runner: set-up (repeated, median reported), untimed
 * reference and warm-up, then passes of the workload's call sequence
 * until `seconds` have elapsed. Every call runs inside `Caches.scoped`;
 * between calls, outside the timed window, whatever the session still
 * caches is released so that each call starts cold.
 */
final class Runner(spark: SparkSession, wl: Workload, opts: Main.Opts) {
  private val SetupReps = 3
  private val sc = spark.sparkContext
  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private var seq = 0
  private var warmFailed = 0
  private var warmAttempted = 0
  private val tracer = if (opts.trace) Some(new Tracer(spark)) else None

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def execute(c: Call): Sample = {
    seq += 1
    val span = s"$runId-$seq"
    if (tracer.isDefined) sc.setLocalProperty(Tracer.SpanKey, span)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok =
      try Caches.scoped(c.run())
      catch {
        case NonFatal(e) =>
          System.err.println(s"omebench: ${c.kind} failed: $e")
          false
      }
    val wall = secs(t0)
    val endMs = System.currentTimeMillis()
    if (tracer.isDefined) sc.setLocalProperty(Tracer.SpanKey, null)
    if (!ok) System.err.println(s"omebench: ${c.kind} answer mismatch")
    val leftover = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Sample(c.kind, c.layer, span, startMs, endMs, wall, ok, leftover)
  }

  def run(): Result = {
    val setupTimes = (0 until SetupReps).map { _ =>
      Files.remove(new File(opts.work, "data"))
      val t0 = System.nanoTime()
      wl.setup()
      secs(t0)
    }
    val tSetup = System.nanoTime()
    wl.prepare()
    System.err.println(f"omebench: set-up ${setupTimes.sum}%.1f s, reference ${secs(tSetup)}%.1f s")
    // warm-up, untimed: the first call of each kind, in the order of pass 0
    // (later calls may read what earlier ones wrote), then pass 0 is cleaned
    // up; fixed by count, so JIT, codegen caches and lazy set-up are done
    // before timing and the same calls warm every tree whatever its speed
    val w0 = System.nanoTime()
    val warmKinds = scala.collection.mutable.Set.empty[String]
    wl.pass(0).filter(c => warmKinds.add(c.kind)).foreach { c =>
      val s = execute(c)
      warmAttempted += 1
      if (!s.ok) warmFailed += 1
    }
    wl.endPass(0)
    System.err.println(f"omebench: warm-up ${secs(w0)}%.1f s")
    tracer.foreach(_.install())

    // timed window: whole calls until `seconds` have passed and every
    // kind of the pass has run at least once
    val perPass = wl.pass(1).groupBy(_.kind).map { case (k, v) => k -> v.size }
    val samples = ArrayBuffer.empty[Sample]
    val unseen = scala.collection.mutable.Set(perPass.keys.toSeq: _*)
    val t0 = System.nanoTime()
    var p = 1
    var done = false
    while (!done) {
      val calls = wl.pass(p)
      var i = 0
      while (i < calls.length && !done) {
        if (secs(t0) >= opts.seconds && unseen.isEmpty) done = true
        else {
          samples += execute(calls(i))
          unseen -= calls(i).kind
          i += 1
        }
      }
      wl.endPass(p)
      p += 1
    }
    val byKind = samples.groupBy(_.kind)
    val median = Stats.medianOfKind(samples.toSeq) _
    /** A per-call quantity summed over one pass: per kind, its median over
      * the kind's calls times the kind's calls per pass. */
    def perPassOf(f: Sample => Double): Double = perPass.map { case (k, n) =>
      byKind.get(k).map(s => Stats.median(s.map(f).toSeq)).getOrElse(0.0) * n
    }.sum
    val passS = perPassOf(_.wallS)

    System.err.println(f"omebench: timed window ${secs(t0)}%.1f s")
    val attempted = samples.size + warmAttempted
    val failed = samples.count(!_.ok) + warmFailed
    val own = wl.report(samples.toSeq)
    val e2e: Map[String, (Double, String)] = Map(
      "setup_s" -> (Stats.median(setupTimes) -> "s"),
      "pass_s" -> (passS -> "s"),
      "peak_rss_mb" -> (Rss.peakMb() -> "MB"))
    val storageMb = sc.getExecutorMemoryStatus.values.map(_._1).sum / 1e6
    val report: Map[String, Any] = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "seconds" -> opts.seconds,
      "passes_started" -> (p - 1),
      "setup_s_reps" -> setupTimes,
      "sizes" -> wl.sizes,
      "storage_memory_mb" -> storageMb,
      "samples_per_kind" -> byKind.map { case (k, v) => k -> v.size },
      "median_s_per_kind" -> byKind.keys.map(k => k -> median(k)).toMap,
      "walls_s_per_kind" -> byKind.map { case (k, v) => k -> v.map(_.wallS) },
      "metrics" -> (own ++ e2e ++ Map(
        "ops_failed_frac" -> ((failed.toDouble / attempted) -> "ratio")))
        .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    val metrics = tracer match {
      case None => e2e
      case Some(t) =>
        t.drain()
        val spans = t.writeSpans(opts.traceOut,
          s"${opts.workload}-${opts.seed}", samples.toSeq)
        Layers.compute(samples.toSeq, t, median, perPassOf, passS, spans)
    }
    Result(attempted, failed, metrics, report)
  }
}

/** Process peak resident set size, from the kernel's high-water mark. */
object Rss {
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
