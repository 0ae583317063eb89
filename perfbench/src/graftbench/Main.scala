package graftbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point. Usage (normally through `perfbench/run.py`):
 *
 *   graftbench.Main --workload <stream_paced|stream_drain|catalog> --seed <n>
 *     --seconds <s> --trace <0|1> --root <scratch dir> --data <sf dir>
 *     --expected <catalog expectation json> --cpus <n> --out <result json>
 *
 * With `--trace 0` it measures the end-to-end metrics with nothing attached.
 * With `--trace 1` it measures the same run untraced, then again with the
 * listeners attached, reports the per-layer metrics of the traced run and
 * the difference between the two as the tracing overhead, and writes the
 * span file `<root>/spans-<workload>.jsonl`.
 */
object Main {

  val SetupReps = 3
  val CatalogWarmupS = 10.0

  private val started = Session.nowMs()
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(Session.nowMs() - started) / 1000}%7.2fs] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(opts("root"), opts("data"), opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", opts("cpus").toInt)
    new java.io.File(ctx.root).mkdirs()
    var spark = Session.create(ctx)
    log("session ready")
    val res = new Result
    try {
      val sentinel0 = if (ctx.trace) Session.sentinelMs(spark) else 0.0
      spark = opts("workload") match {
        case "stream_paced" | "stream_drain" => stream(ctx, spark, opts("workload"), res)
        case "catalog" => catalog(ctx, spark, opts("expected"), res)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      if (ctx.trace) res("host.sentinel_ms") = (sentinel0 + Session.sentinelMs(spark)) / 2
      res("peak_rss_mb") = Session.peakRssMb()
      java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
        (res.toJson + "\n").getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def setSelfTimes(res: Result, tracer: Tracer, per: Double): Unit = {
    val self = tracer.selfTimes()
    Seq("sources", "plans", "exec", "ops", "stream", "kv").foreach { l =>
      res(s"self.${l}_ms") = self.getOrElse(l, 0.0) / per
    }
    res("trace.spans") = tracer.spans.size
  }

  private def setExec(res: Result, jobs: Seq[JobRec], gapMs: Double, per: Double): Unit = {
    res("exec.jobs") = jobs.size / per
    res("exec.stages") = jobs.map(_.stages).sum / per
    res("exec.tasks") = jobs.map(_.tasks).sum / per
    res("exec.driver_gap_ms") = gapMs / per
    res("exec.task_ms") = jobs.map(_.taskMs).sum / per
    res("exec.cpu_ms") = jobs.map(_.cpuMs).sum / per
    res("exec.gc_ms") = jobs.map(_.gcMs).sum / per
    res("exec.shuffle_read_bytes") = jobs.map(_.shuffleReadBytes).sum / per
    res("exec.shuffle_write_bytes") = jobs.map(_.shuffleWriteBytes).sum / per
    res("exec.spill_bytes") = jobs.map(_.spillBytes).sum / per
  }

  // ---------------------------------------------------------------- streams

  private def stream(ctx: Ctx, spark: SparkSession, workload: String, res: Result): SparkSession = {
    def once(tag: String, tracer: Option[Tracer]): Streams.Run =
      if (workload == "stream_paced") Streams.paced(ctx, spark, tag, tracer)
      else Streams.drain(ctx, spark, tag, tracer)

    def checked(run: Streams.Run): Streams.Checked = {
      val c = Streams.check(spark, run)
      val uncommitted = run.committedBy.count(_._2.isEmpty)
      res.attempted += c.replayKeys
      res.failed += c.missing + c.extra + uncommitted
      // a verdict the replay does not have, or an event no trigger took, is
      // a wrong output; a missing verdict is a failed operation (e.g. rows
      // the watermark dropped)
      if (c.extra > 0 || uncommitted > 0) res.correct = false
      log(s"$workload: ${run.events.size} events, ${run.triggers.size} triggers, " +
        s"replay keys ${c.replayKeys}, missing ${c.missing}, extra ${c.extra}, " +
        s"uncommitted events $uncommitted, " +
        s"dropped by watermark ${run.triggers.map(_.stateDropped).sum}")
      c
    }

    // Latency samples: events due in the measured window (in the open loop,
    // not those of its warm-up).
    def latencies(run: Streams.Run): Seq[Double] =
      run.committedBy.collect { case (w, Some(t)) if w.dueMs >= run.startMs => t.endMs - w.dueMs }

    def endToEnd(run: Streams.Run): Map[String, Double] = {
      val lat = latencies(run)
      // triggers of the measured window; the no-data triggers Spark runs to
      // advance the watermark are left out
      val measured = run.triggers.filter(t => t.rows > 0 && t.startMs >= run.startMs)
      val trig = measured.map(_.ms("triggerExecution").toDouble)
      val wallS = (run.endMs - run.startMs) / 1000.0
      Map(
        "verdict_p50_ms" -> Stats.quantile(lat, 0.50),
        "verdict_p95_ms" -> Stats.quantile(lat, 0.95),
        "drain_eps" ->
          (if (workload == "stream_drain") run.events.size / wallS
           else measured.map(_.rows).sum / math.max(1e-9, trig.sum / 1000.0)),
        "catalog_s" -> (if (workload == "stream_drain") wallS else run.cpuS),
        "catalog_geomean_ms" -> Stats.geomean(trig))
    }

    // the first set-up rep also pays the JVM's cold start for the chain
    val setups = (0 until SetupReps).map(i => Streams.setupOnce(ctx, spark, i))
    res("setup_s") = Stats.median(setups)
    log(s"set-up reps ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    if (workload == "stream_drain")
      Streams.drain(ctx, spark, "warmup", None, Streams.WarmupEventSeconds, Streams.WarmupCapTriggers)
    log("warm-up done")
    val run = once("run", None)
    log("measured run done; triggers (ms/rows): " +
      run.triggers.map(t => s"${t.ms("triggerExecution")}/${t.rows}").mkString(" "))
    checked(run)
    val e2e = endToEnd(run)
    e2e.foreach { case (k, v) => res(k) = v }
    res("stream.verdict_samples") = latencies(run).size
    log(s"$workload: " + e2e.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.2f" }
      .mkString(" "))

    if (ctx.trace) {
      val tracer = new Tracer(spark)
      tracer.attach()
      val traced = once("traced", Some(tracer))
      val c = checked(traced)
      tracer.span(-1, "check", "kv.read", "kv", c.readStart, c.readEnd)
      tracer.detach()
      val tracedE2e = endToEnd(traced)
      val key = if (workload == "stream_drain") "catalog_s" else "verdict_p50_ms"
      val scale = if (workload == "stream_drain") 1000.0 else 1.0
      res("trace.overhead_ms") = (tracedE2e(key) - e2e(key)) * scale
      res("trace.overhead_frac") = (tracedE2e(key) - e2e(key)) / e2e(key)
      streamLayers(ctx, res, traced, tracer, c.readEnd - c.readStart)
    }
    spark
  }

  private val phases = Seq("latestOffset" -> "sources", "walCommit" -> "stream",
    "getBatch" -> "sources", "queryPlanning" -> "plans", "addBatch" -> "stream",
    "commitOffsets" -> "stream")

  private def streamLayers(ctx: Ctx, res: Result, run: Streams.Run, tracer: Tracer,
      readMs: Double): Unit = {
    val trigs = run.triggers
    val jobs = tracer.jobs.filter(_.start <= run.endMs)
    var gap = 0.0
    trigs.foreach { t =>
      val trace = s"trigger:${t.batchId}"
      val root = tracer.span(-1, trace, "trigger", "stream", t.startMs, t.endMs)
      var at = t.startMs
      val mine = jobs.filter(j => j.start >= t.startMs && j.start <= t.endMs)
      phases.foreach { case (phase, layer) =>
        val d = t.ms(phase)
        val id = tracer.span(root, trace, phase, layer, at, at + d)
        if (phase == "addBatch") mine.foreach { j =>
          tracer.span(id, trace, s"job:${j.id}", "exec", j.start, if (j.end.isNaN) j.start else j.end)
        }
        at += d
      }
      gap += t.ms("triggerExecution") -
        Stats.unionLength(mine.map(j => (j.start, j.end)), t.startMs, t.endMs)
    }
    tracer.writeSpans(new java.io.File(ctx.root, "spans-stream.jsonl").getPath)
    val withRows = trigs.filter(_.rows > 0)
    def p50(f: Streams.Trigger => Double, ts: Seq[Streams.Trigger] = trigs) = Stats.median(ts.map(f))
    val queue = run.committedBy.collect { case (w, Some(t)) => t.startMs - w.dueMs }
    res("src.latest_offset_ms.p50") = p50(_.ms("latestOffset").toDouble)
    res("src.rows_per_trigger.p50") = p50(_.rows.toDouble, withRows)
    res("src.input_bytes") = new java.io.File(run.dir).listFiles().map(_.length).sum.toDouble
    res("gen.late_ms.max") = run.genLateMs
    res("plan.build_ms") = 0.0
    res("plan.optimize_ms") = 0.0
    res("plan.query_planning_ms.p50") = p50(_.ms("queryPlanning").toDouble)
    res("plan.exchanges") = run.plan._1
    res("plan.scans") = run.plan._2
    res("plan.broadcasts") = run.plan._3
    setExec(res, jobs, gap, 1.0)
    Catalog.Families.foreach(f => res(s"ops.${f}_s") = 0.0)
    res("stream.triggers") = trigs.size
    res("stream.queue_ms.p50") = Stats.median(queue)
    res("stream.add_batch_ms.p50") = p50(_.ms("addBatch").toDouble)
    res("stream.add_batch_ms.p95") = Stats.quantile(trigs.map(_.ms("addBatch").toDouble), 0.95)
    res("stream.wal_commit_ms.p50") = p50(_.ms("walCommit").toDouble)
    res("stream.commit_offsets_ms.p50") = p50(_.ms("commitOffsets").toDouble)
    res("stream.trigger_ms.slope") = Stats.slope(trigs.map(_.ms("triggerExecution").toDouble))
    res("state.rows_total") = trigs.lastOption.fold(0.0)(_.stateRowsTotal.toDouble)
    res("state.memory_bytes") = trigs.lastOption.fold(0.0)(_.stateMemBytes.toDouble)
    res("state.rows_updated") = trigs.map(_.stateUpdated).sum
    res("state.rows_removed") = trigs.map(_.stateRemoved).sum
    res("state.commit_ms.p50") = p50(_.stateCommitMs.toDouble)
    res("state.rows_dropped_by_watermark") = trigs.map(_.stateDropped).sum
    val (segs, dataB, metaB) = Streams.kvFootprint(run.kvPath)
    res("kv.rows_written") = trigs.map(_.sinkRows).sum
    res("kv.epochs") = graft.sinks.v2.KvStore.latestEpoch(run.kvPath).fold(0.0)(_ + 1.0)
    res("kv.segments") = segs
    res("kv.data_bytes") = dataB
    res("kv.meta_bytes") = metaB
    res("kv.read_ms") = readMs
    res("kv.segments_scanned") = 0.0
    setSelfTimes(res, tracer, 1.0)
    res("check.failed_frac") = res.failed.toDouble / math.max(1L, res.attempted)
  }

  // ---------------------------------------------------------------- catalog

  private def catalog(ctx: Ctx, spark0: SparkSession, expectedPath: String,
      res: Result): SparkSession = {
    var spark = spark0
    val expected = Catalog.loadExpected(expectedPath)
    val rng = new Random(ctx.seed)
    // the untimed check pass doubles as the warm-up
    val bad = Catalog.check(spark, ctx, rng.shuffle(expected))
    res.attempted += expected.size
    res.failed += bad.size
    if (bad.nonEmpty) res.correct = false
    log(s"catalog check pass done, ${bad.size} failed")

    type Timing = (String, Double, Double, Double)
    // Queries run one after another in a seeded order, cycling through the
    // set for `seconds`; every query runs at least once. `count` replays an
    // earlier run's number of executions instead.
    def timed(seconds: Double, count: Option[Int] = None): Seq[Timing] = {
      val order = rng.shuffle(expected.map(_._1))
      val until = Session.nowMs() + seconds * 1000.0
      val out = Seq.newBuilder[Timing]
      var i = 0
      while (count.fold(i < order.size || Session.nowMs() < until)(i < _)) {
        val name = order(i % order.size)
        res.attempted += 1
        Catalog.timeOnce(spark, ctx, name) match {
          case Some((a, b, c)) => out += ((name, a, b, c))
          case None => res.failed += 1; res.correct = false
        }
        i += 1
      }
      out.result()
    }
    def perQuery(ts: Seq[Timing]): Map[String, Double] =
      ts.groupBy(_._1).map { case (q, runs) => q -> Stats.median(runs.map(t => t._4 - t._2)) }

    // Spark's planner code keeps the JIT compilers busy for a minute or so
    // after the check pass: untimed passes until CatalogWarmupS, so that
    // timing starts near the steady state
    timed(CatalogWarmupS)
    log("catalog warm-up done")
    val untraced = timed(ctx.seconds)
    val med = perQuery(untraced)
    val rows = expected.map(_._2.rows).sum.toDouble
    val totalS = med.values.sum / 1000.0
    res("catalog_s") = totalS
    res("catalog_geomean_ms") = Stats.geomean(med.values.toSeq)
    res("verdict_p50_ms") = Stats.quantile(med.values.toSeq, 0.50)
    res("verdict_p95_ms") = Stats.quantile(med.values.toSeq, 0.95)
    res("drain_eps") = rows / totalS
    Catalog.Families.foreach { f =>
      res(s"ops.${f}_s") = med.collect { case (q, ms) if Catalog.family(q) == f => ms }.sum / 1000.0
    }
    log(f"catalog: ${expected.size} queries, ${untraced.size} timed executions, " +
      f"catalog_s=$totalS%.3f, check failures ${bad.size}")
    untraced.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (q, runs) =>
      log(s"  $q ms: " + runs.map(t => f"${t._4 - t._2}%.0f").mkString(" "))
    }

    if (ctx.trace) {
      val tracer = new Tracer(spark)
      tracer.attach()
      val traced = timed(ctx.seconds, Some(untraced.size))
      tracer.detach()
      val tracedS = perQuery(traced).values.sum / 1000.0
      res("trace.overhead_ms") = (tracedS - totalS) * 1000.0
      res("trace.overhead_frac") = (tracedS - totalS) / totalS
      catalogLayers(ctx, res, traced, tracer, traced.size.toDouble / expected.size)
    }
    // set-up is measured last, on a warm JVM: its cold start is paid by
    // the check pass instead
    val setups = (0 until SetupReps).map { _ =>
      val (s, t) = Catalog.setupOnce(ctx, spark)
      spark = s
      t
    }
    res("setup_s") = Stats.median(setups)
    log(s"set-up reps ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    spark
  }

  private def catalogLayers(ctx: Ctx, res: Result, timings: Seq[(String, Double, Double, Double)],
      tracer: Tracer, per: Double): Unit = {
    val jobs = tracer.jobs
    val plans = tracer.plans
    var gap = 0.0
    var buildMs = 0.0
    var optimizeMs = 0.0
    val writePlanMs = Seq.newBuilder[Double]
    var inWindow = Seq.empty[JobRec]
    var planCounts = (0, 0, 0, 0L)
    timings.zipWithIndex.foreach { case ((name, t0, t1, t2), i) =>
      val trace = s"query:$i:$name"
      val root = tracer.span(-1, trace, name, "ops", t0, t2)
      val build = tracer.span(root, trace, "build", "plans", t0, t1)
      val mine = jobs.filter(j => j.start >= t0 && j.start <= t2)
      inWindow ++= mine
      val myPlans = plans.filter(p => p.planStart >= t0 && p.planStart <= t2)
      val write = myPlans.filter(_.planStart >= t1).sortBy(_.planStart).headOption
      val execStart = write.fold(t1) { w =>
        tracer.span(root, trace, "plan", "plans", w.planStart, w.planEnd)
        writePlanMs += w.planEnd - w.planStart
        w.planEnd
      }
      val exec = tracer.span(root, trace, "exec", "exec", execStart, t2)
      mine.foreach { j =>
        val end = if (j.end.isNaN) j.start else j.end
        tracer.span(if (j.start < t1) build else exec, trace, s"job:${j.id}", "exec", j.start, end)
      }
      buildMs += t1 - t0
      optimizeMs += myPlans.map(p => p.planEnd - p.planStart).sum
      myPlans.foreach { p =>
        planCounts = (planCounts._1 + p.exchanges, planCounts._2 + p.scans,
          planCounts._3 + p.broadcasts, planCounts._4 + p.kvSegmentsScanned)
      }
      gap += (t2 - t0) - Stats.unionLength(mine.map(j => (j.start, j.end)), t0, t2)
    }
    tracer.writeSpans(new java.io.File(ctx.root, "spans-catalog.jsonl").getPath)
    res("src.latest_offset_ms.p50") = 0.0
    res("src.rows_per_trigger.p50") = 0.0
    res("src.input_bytes") = inWindow.map(_.inputBytes).sum / per
    res("gen.late_ms.max") = 0.0
    res("plan.build_ms") = buildMs / per
    res("plan.optimize_ms") = optimizeMs / per
    res("plan.query_planning_ms.p50") = Stats.median(writePlanMs.result())
    res("plan.exchanges") = planCounts._1 / per
    res("plan.scans") = planCounts._2 / per
    res("plan.broadcasts") = planCounts._3 / per
    setExec(res, inWindow, gap, per)
    Seq("stream.triggers", "stream.queue_ms.p50", "stream.add_batch_ms.p50",
      "stream.add_batch_ms.p95", "stream.wal_commit_ms.p50", "stream.commit_offsets_ms.p50",
      "stream.trigger_ms.slope", "stream.verdict_samples", "state.rows_total",
      "state.memory_bytes", "state.rows_updated", "state.rows_removed", "state.commit_ms.p50",
      "state.rows_dropped_by_watermark", "kv.rows_written", "kv.epochs", "kv.segments",
      "kv.data_bytes", "kv.meta_bytes", "kv.read_ms").foreach(res(_) = 0.0)
    res("kv.segments_scanned") = planCounts._4 / per
    setSelfTimes(res, tracer, per)
    res("check.failed_frac") = res.failed.toDouble / math.max(1L, res.attempted)
  }
}
