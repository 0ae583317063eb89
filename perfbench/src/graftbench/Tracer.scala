package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Spans of one catalog query or one
 * streaming trigger share `trace`; `parent` is the span that caused it
 * (-1 for a root). Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, trace: String, name: String, layer: String,
    start: Double, end: Double)

/** One Spark job with the task metrics of its stages. */
final class JobRec(val id: Int, val start: Double) {
  var end: Double = Double.NaN
  var stages = 0
  var tasks = 0L
  var taskMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

/** Executed-plan counts of one SQL execution, with its planning phases
 * (analysis through physical planning) as an interval. */
final case class PlanRec(planStart: Double, planEnd: Double, exchanges: Int, scans: Int,
    broadcasts: Int, kvSegmentsScanned: Long)

object PlanWalk extends AdaptiveSparkPlanHelper {
  def counts(plan: SparkPlan): (Int, Int, Int, Long) = {
    val ex = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
    val bc = collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.size
    val scans = collectWithSubqueries(plan) {
      case s: DataSourceScanExec => s
      case s: DataSourceV2ScanExecBase => s
    }.size
    val segs = collectWithSubqueries(plan) {
      case n if n.metrics.contains("kvSegmentsScanned") => n.metrics("kvSegmentsScanned").value
    }.sum
    (ex, scans, bc, segs)
  }
}

/**
 * The traced run's recorder: a SparkListener (jobs, stages, task metrics), a
 * StreamingQueryListener (trigger progress) and a QueryExecutionListener
 * (planning phases and the executed-plan walk), plus the spans the workloads
 * record around their calls into each layer. Everything is kept in memory
 * and written when the run ends.
 */
final class Tracer(spark: SparkSession) {
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val jobMap = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val planBuf = mutable.ArrayBuffer.empty[PlanRec]
  private val progressBuf = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  def span(parent: Int, trace: String, name: String, layer: String,
      start: Double, end: Double): Int = synchronized {
    val id = spanBuf.size
    spanBuf += Span(id, parent, trace, name, layer, start, end)
    id
  }

  def spans: Seq[Span] = synchronized(spanBuf.toList)
  def jobs: Seq[JobRec] = synchronized(jobMap.values.toList)
  def plans: Seq[PlanRec] = synchronized(planBuf.toList)
  def progress: Seq[StreamingQueryProgress] = synchronized(progressBuf.toList)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobMap(e.jobId) = new JobRec(e.jobId, e.time.toDouble)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobMap.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobMap.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      for (j <- stageJob.get(e.stageId).flatMap(jobMap.get) if m != null) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1e6
        j.gcMs += m.jvmGCTime
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progressBuf += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val starts = phases.values.map(_.startTimeMs.toDouble)
      val ends = phases.values.map(_.endTimeMs.toDouble)
      val (ex, scans, bc, segs) = PlanWalk.counts(qe.executedPlan)
      Tracer.this.synchronized {
        planBuf += PlanRec(if (starts.isEmpty) 0 else starts.min, if (ends.isEmpty) 0 else ends.max,
          ex, scans, bc, segs)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  /** Wait until every started job has ended on the (asynchronous) listener
   * bus, then detach. */
  def detach(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    def pending = synchronized(jobMap.values.exists(_.end.isNaN))
    while (pending && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // trailing progress and execution callbacks
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Per-layer self time: each span's duration minus the part of it its
   * children cover, summed by layer (ms). Jobs recorded by the listener are
   * attached as `exec` spans by the workloads before this is called. */
  def selfTimes(): Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cover = Stats.unionLength(
          kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
        math.max(0.0, (s.end - s.start) - cover)
      }.sum
    }
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Stats.jsonString(s.trace)},""" +
        s""""name":${Stats.jsonString(s.name)},"layer":${Stats.jsonString(s.layer)},""" +
        s""""start_ms":${Stats.jsonNumber(s.start)},"end_ms":${Stats.jsonNumber(s.end)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
