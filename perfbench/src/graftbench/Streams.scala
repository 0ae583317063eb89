package graftbench

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.functions.BotConfig
import graft.operators.BotDetection
import graft.sinks.Sinks
import graft.sinks.v2.KvStore
import graft.sources.{BotGen, Ingest}
import graft.streaming.StreamingBotDetection

/**
 * The two streaming workloads: graft-logs -> sliding-window state ->
 * classifier -> graft-kv, driven through the repo's public entry points.
 *
 * Traffic is design-shaped: users act about 1.2 times per 10-minute window
 * (BotGen's `freqPerSec` over `nUsers` is 1/500) while every bot acts every
 * 2 s, so bots trip the rules and users almost never do.
 */
object Streams {

  final case class Traffic(users: Int, bots: Int, freqPerSec: Int)

  /** stream_paced: the reference's design load (50,000 users at 100/s plus
   * 100 bots every 2 s = 150 events per event-second) with event time run
   * 10x compressed, i.e. an open loop at 1,500 events/s. */
  val Paced = Traffic(50000, 100, 100)
  val Compress = 10
  /** A new log file every 30 event-seconds (3 s of wall time). */
  val RotateTicks = 30
  /** The open loop runs this long before the measured `--seconds` start;
   * latency is sampled only for events due after it. */
  val WarmupS = 2

  /** stream_drain: the same shape, 20 minutes of event time written as 8
   * time-ordered rotated files before the chain starts. 20 minutes makes
   * each file span 2.5 minutes, longer than the 2-minute watermark. */
  val Drain = Traffic(15000, 30, 30)
  val DrainEventSeconds = 1200
  val DrainFiles = 8
  /** Catch-up under backpressure: `maxBytesPerTrigger` is a tenth of the
   * backlog, less than one rotated file. */
  val DrainCapTriggers = 10
  /** Warm-up before the measured drain: a 5-minute backlog in triggers of
   * about the same size. */
  val WarmupEventSeconds = 300
  val WarmupCapTriggers = 3

  def line(e: BotGen.Event): String =
    s"""{"time": ${e.time}, "categoryId": "${e.categoryId}", "ip": "${e.ip}", "action": "${e.action}"}"""

  def chain(spark: SparkSession, dir: String, kvPath: String, ckpt: String,
      capBytes: Option[Long]): StreamingQuery = {
    val wire = Ingest.wireStream(spark,
      Map("source" -> "dsv2", "dir" -> dir) ++ capBytes.map(c => "maxBytesPerTrigger" -> c.toString))
    val verdicts = StreamingBotDetection.verdictStream(Ingest.toLogRecords(wire),
      BotDetection.referenceWindowing, BotConfig())
    Sinks.verdictSink(verdicts,
      Map("sink" -> "kv", "path" -> kvPath, "checkpoint" -> ckpt, "trigger" -> "0 seconds"))
  }

  /** Set-up: bring the chain up on one event-second of traffic and wait for
   * its first commit to graft-kv. */
  def setupOnce(ctx: Ctx, spark: SparkSession, rep: Int): Double = {
    val base = ctx.tmp(s"setup-$rep")
    val dir = new File(base, "logs"); dir.mkdirs()
    val evs = BotGen.events(Paced.users, Paced.bots, 2, Paced.freqPerSec, seed = ctx.seed + rep)
    Files.write(new File(dir, "part-0000.log.json").toPath,
      evs.map(line).mkString("", "\n", "\n").getBytes("UTF-8"))
    val t0 = Session.nowMs()
    val q = chain(spark, dir.getPath, s"$base/kv", s"$base/ckpt", None)
    try {
      q.processAllAvailable()
      (Session.nowMs() - t0) / 1000.0
    } finally q.stop()
  }

  /** One trigger as reported by StreamingQueryProgress. */
  final case class Trigger(batchId: Long, startMs: Double, durations: Map[String, Long],
      rows: Long, endOffsets: Map[String, Long], stateRowsTotal: Long, stateMemBytes: Long,
      stateUpdated: Long, stateRemoved: Long, stateDropped: Long, stateCommitMs: Long,
      sinkRows: Long) {
    def ms(phase: String): Long = durations.getOrElse(phase, 0L)
    def endMs: Double = startMs + ms("triggerExecution")
  }

  private val mapper = new ObjectMapper

  def trigger(p: StreamingQueryProgress): Trigger = {
    val ends = p.sources.headOption.flatMap(s => Option(s.endOffset)).map { json =>
      mapper.readTree(json).properties().asScala
        .map(e => new File(e.getKey).getName -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty)
    val ops = p.stateOperators.toSeq
    Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
      p.numInputRows, ends,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsUpdated).sum, ops.map(_.numRowsRemoved).sum,
      ops.map(_.numRowsDroppedByWatermark).sum, ops.map(_.commitTimeMs).sum,
      Option(p.sink).map(_.numOutputRows).filter(_ >= 0).getOrElse(0L))
  }

  /** A written event: its log file, the byte offset just past its line, and
   * when it was due to be created. */
  final case class Written(file: String, end: Long, dueMs: Double)

  /** One measured run. `startMs` opens the measured window: the drain's
   * start, or the end of the open loop's warm-up. */
  final case class Run(dir: String, kvPath: String, events: Seq[Written], startMs: Double,
      endMs: Double, triggers: Seq[Trigger], genLateMs: Double, cpuS: Double,
      plan: (Int, Int, Int, Long)) {

    /** For each event, the trigger whose end offset first covers its line. */
    lazy val committedBy: Seq[(Written, Option[Trigger])] = {
      val ordered = triggers.sortBy(_.batchId).toIndexedSeq
      events.map { w =>
        var lo = 0
        var hi = ordered.size
        while (lo < hi) {
          val mid = (lo + hi) / 2
          if (ordered(mid).endOffsets.getOrElse(w.file, 0L) >= w.end) hi = mid else lo = mid + 1
        }
        w -> (if (lo < ordered.size) Some(ordered(lo)) else None)
      }
    }
  }

  /** Executed-plan counts of the last trigger, in the traced run only. */
  private def lastPlan(q: StreamingQuery, tracer: Option[Tracer]): (Int, Int, Int, Long) =
    q match {
      case w: StreamingQueryWrapper if tracer.isDefined && w.streamingQuery.lastExecution != null =>
        PlanWalk.counts(w.streamingQuery.lastExecution.executedPlan)
      case _ => (0, 0, 0, 0L)
    }

  /** Every trigger of `q`. The traced run takes them from its
   * StreamingQueryListener, once the (asynchronous) listener has caught up
   * with the query's own record. */
  private def progressOf(q: StreamingQuery, tracer: Option[Tracer]): Seq[Trigger] = {
    val own = q.recentProgress.toSeq
    val ps = tracer.fold(own) { t =>
      val want = own.map(_.batchId).toSet
      val deadline = System.nanoTime() + 10L * 1000000000L
      def got = t.progress.filter(_.id == q.id)
      while (!want.subsetOf(got.map(_.batchId).toSet) && System.nanoTime() < deadline)
        Thread.sleep(20)
      got
    }
    ps.map(trigger).sortBy(_.batchId)
  }

  /** stream_paced: one generator thread appends each event-second of
   * traffic to the current log file when it is due, whatever the chain is
   * doing (an open loop), for `WarmupS` plus `ctx.seconds` of wall time. */
  def paced(ctx: Ctx, spark: SparkSession, tag: String, tracer: Option[Tracer]): Run = {
    val base = ctx.tmp(s"paced-$tag")
    val dir = new File(base, "logs"); dir.mkdirs()
    val ticks = (WarmupS + ctx.seconds) * Compress
    val evs = BotGen.events(Paced.users, Paced.bots, ticks.toLong, Paced.freqPerSec, seed = ctx.seed)
    val baseS = evs.head.time
    val byTick = evs.groupBy(e => (e.time - baseS).toInt)
    val q = chain(spark, dir.getPath, s"$base/kv", s"$base/ckpt", None)
    val written = Seq.newBuilder[Written]
    var lateMs = 0.0
    var cpu0 = 0.0
    val t0 = Session.nowMs() + 200.0
    val gen = new Thread(() => {
      var out: FileOutputStream = null
      var name = ""
      var offset = 0L
      try (0 until ticks).foreach { k =>
        val due = t0 + k * 1000.0 / Compress
        val wait = due - Session.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait - wait.toLong) * 1e6).toInt)
        if (k == WarmupS * Compress) cpu0 = Session.processCpuS()
        if (k % RotateTicks == 0) {
          if (out != null) out.close()
          name = f"part-${k / RotateTicks}%04d.log.json"
          out = new FileOutputStream(new File(dir, name))
          offset = 0L
        }
        val lines = byTick.getOrElse(k, Nil).map(e => (line(e) + "\n").getBytes("UTF-8"))
        out.write(lines.flatten.toArray)
        lines.foreach { l => offset += l.length; written += Written(name, offset, due) }
        lateMs = math.max(lateMs, Session.nowMs() - due)
      } finally if (out != null) out.close()
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    val end = Session.nowMs()
    val cpuS = Session.processCpuS() - cpu0
    val plan = lastPlan(q, tracer)
    q.stop()
    Run(dir.getPath, s"$base/kv", written.result(), t0 + WarmupS * 1000.0, end,
      progressOf(q, tracer), lateMs, cpuS, plan)
  }

  /** stream_drain: the backlog is on disk before the chain starts; the
   * chain drains it as fast as it can under the byte cap. Every event is
   * due when the drain starts. */
  def drain(ctx: Ctx, spark: SparkSession, tag: String, tracer: Option[Tracer],
      eventSeconds: Int = DrainEventSeconds, capTriggers: Int = DrainCapTriggers): Run = {
    val base = ctx.tmp(s"drain-$tag")
    val dir = new File(base, "logs")
    val evs = BotGen.events(Drain.users, Drain.bots, eventSeconds.toLong, Drain.freqPerSec,
      seed = ctx.seed)
    BotGen.writeJsonDir(dir.getPath, evs, nFiles = DrainFiles)
    val files = Option(dir.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
    val backlogBytes = files.map(_.length).sum
    val t0 = Session.nowMs()
    val cpu0 = Session.processCpuS()
    val q = chain(spark, dir.getPath, s"$base/kv", s"$base/ckpt",
      Some((backlogBytes + capTriggers - 1) / capTriggers))
    q.processAllAvailable()
    val end = Session.nowMs()
    val cpuS = Session.processCpuS() - cpu0
    val plan = lastPlan(q, tracer)
    q.stop()
    val written = files.toSeq.flatMap { f =>
      val bytes = Files.readAllBytes(f.toPath)
      bytes.indices.collect { case i if bytes(i) == '\n' => Written(f.getName, i + 1L, t0) }
    }
    Run(dir.getPath, s"$base/kv", written, t0, end, progressOf(q, tracer), 0.0, cpuS, plan)
  }

  /** Outcome of the stream output check. `readStart`/`readEnd` bracket the
   * graft-kv read. */
  final case class Checked(replayKeys: Long, missing: Long, extra: Long,
      readStart: Double, readEnd: Double)

  /** The output check: verdict keys `(ip, window_start_s)` in graft-kv
   * against the batch replay `BotDetection.transformAndFilterBots` over the
   * same log files (read by Spark's own JSON reader, not graft-logs). */
  def check(spark: SparkSession, run: Run): Checked = {
    val replay = BotDetection.transformAndFilterBots(
      Ingest.toLogRecords(Ingest.jsonDirBatch(spark, run.dir)),
      BotDetection.referenceWindowing, BotConfig())
      .select("ip", "window_start_s").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val t0 = Session.nowMs()
    val stored = KvStore.read(spark, run.kvPath).select("ip", "window_start_s").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    Checked(replay.size.toLong, (replay -- stored).size.toLong, (stored -- replay).size.toLong,
      t0, Session.nowMs())
  }

  /** (segment files, segment bytes, other bytes) of a graft-kv store: the
   * row segments under `segments/` against manifests, schema and blooms. */
  def kvFootprint(path: String): (Long, Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(path)).filterNot(_.getName.endsWith(".crc"))
    val (data, meta) = files.partition(f =>
      f.getParentFile.getName == "segments" && f.getName.startsWith("seg-") &&
        !f.getName.endsWith(".bloom"))
    (data.size.toLong, data.map(_.length).sum, meta.map(_.length).sum)
  }
}
