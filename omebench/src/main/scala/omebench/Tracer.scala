package omebench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side work attributed to one benchmark call span. */
final case class CallStats(jobs: Int, tasks: Int, planningS: Double,
    shj: Int, idleS: Double, runS: Double, cpuS: Double, gcS: Double,
    inputMb: Double, shuffleWriteMb: Double, shuffleWriteS: Double,
    fetchWaitS: Double, spillMb: Double)

/**
 * The traced run's span recorder, built only on Spark's public listener
 * interfaces. The runner opens a span around every call and sets its id
 * as the local property [[Tracer.SpanKey]]; jobs carry that property, so
 * job spans (and their stages' task spans) are children of the call span.
 * Query planning phases (`QueryExecutionListener`) and streaming
 * micro-batches (`StreamingQueryListener`) carry wall-clock times and are
 * attributed to the call span whose interval holds them. Everything is
 * kept in memory and written out once the run ends.
 */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  private final class JobRec(val span: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  private final case class TaskRec(job: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
      shuffleWriteBytes: Long, shuffleWriteNs: Long, fetchWaitMs: Long,
      spillBytes: Long)
  private final case class PlanRec(endMs: Long, planningMs: Long, shj: Int)
  private final case class BatchRec(startMs: Long, durMs: Long, rows: Long)

  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val plans = new ConcurrentLinkedQueue[PlanRec]
  private val batchRecs = new ConcurrentLinkedQueue[BatchRec]
  private val rddBlocks = new ConcurrentHashMap[String, Long]
  @volatile private var storageNow = 0L
  @volatile var storagePeakBytes = 0L
  @volatile private var drainJob = -1
  @volatile private var drained = false
  @volatile private var streamsStarted = 0
  @volatile private var streamsEnded = 0

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted += 1
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batchRecs.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.batchDuration, p.numInputRows))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded += 1
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
    if (span == DrainSpan) drainJob = e.jobId
    else if (span != null) {
      jobs.put(e.jobId, new JobRec(span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
    if (e.jobId == drainJob) drained = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && stageJob.containsKey(e.stageId)) {
      val sw = m.shuffleWriteMetrics
      tasks.add(TaskRec(stageJob.get(e.stageId), e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, sw.bytesWritten, sw.writeTime,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = Option(rddBlocks.put(info.blockId.name, size)).getOrElse(0L)
      storageNow += size - before
      storagePeakBytes = math.max(storagePeakBytes, storageNow)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, countShj = true)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe, countShj = false)

  private def record(qe: QueryExecution, countShj: Boolean): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val shj = if (!countShj) 0 else collect(qe.executedPlan) {
        case p if p.nodeName.startsWith("ShuffledHashJoin") => 1
      }.size
      plans.add(PlanRec(phases.map(_.endTimeMs).max,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum, shj))
    }
  }

  /** Waits until every event of the traced calls has been delivered: the
    * shared listener queue is ordered, so seeing the end of a marker job
    * means everything posted before it has arrived. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, DrainSpan)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanKey, null)
    val deadline = System.currentTimeMillis() + 20000L
    while ((!drained || streamsEnded < streamsStarted) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Spark-side statistics of one call span. */
  def stats(s: Sample): CallStats = {
    val jobIds = jobs.asScala.collect { case (id, j) if j.span == s.span => id }.toSet
    val ts = tasks.asScala.filter(t => jobIds.contains(t.job)).toSeq
    val ps = plans.asScala.filter(p => p.endMs >= s.startMs && p.endMs <= s.endMs).toSeq
    // union of task-running intervals, clipped to the call span
    val intervals = ts.map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    CallStats(jobIds.size, ts.size, ps.map(_.planningMs).sum / 1e3,
      ps.map(_.shj).sum, math.max(0.0, s.wallS - covered / 1e3),
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.inputBytes).sum / 1e6,
      ts.map(_.shuffleWriteBytes).sum / 1e6, ts.map(_.shuffleWriteNs).sum / 1e9,
      ts.map(_.fetchWaitMs).sum / 1e3, ts.map(_.spillBytes).sum / 1e6)
  }

  /** Micro-batches that started inside the call span:
    * (start ms, duration s, rows). */
  def batches(s: Sample): Seq[(Long, Double, Long)] = batchRecs.asScala
    .filter(b => b.startMs >= s.startMs && b.startMs <= s.endMs)
    .map(b => (b.startMs, b.durMs / 1e3, b.rows)).toSeq

  /** Writes every span as one JSON line: call spans, then their job,
    * task and micro-batch children. Returns the number of spans. */
  def writeSpans(dir: String, name: String, samples: Seq[Sample]): Int = {
    new File(dir).mkdirs()
    val out = new PrintWriter(new File(dir, s"$name.jsonl"))
    var n = 0
    def span(id: String, parent: String, kind: String, layer: String,
        start: Long, end: Long): Unit = {
      out.println(Json.obj(Map("span" -> id, "parent" -> parent,
        "name" -> kind, "layer" -> layer, "start_ms" -> start, "end_ms" -> end)))
      n += 1
    }
    try {
      samples.foreach { s =>
        span(s.span, null, s.kind, s.layer, s.startMs, s.endMs)
        batches(s).zipWithIndex.foreach { case ((start, d, _), i) =>
          span(s"${s.span}/batch-$i", s.span, "micro-batch", "streaming",
            start, start + (d * 1e3).toLong)
        }
      }
      jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, j) =>
        span(s"job-$id", j.span, "job", "scheduler", j.startMs, j.endMs)
      }
      tasks.asScala.zipWithIndex.foreach { case (t, i) =>
        span(s"task-$i", s"job-${t.job}", "task", "executor", t.launchMs, t.finishMs)
      }
    } finally out.close()
    n
  }
}

object Tracer {
  val SpanKey = "omebench.span"
  private val DrainSpan = "omebench.drain"
}
