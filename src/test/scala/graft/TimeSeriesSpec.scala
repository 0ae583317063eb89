package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TimeSeries

class TimeSeriesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(daySec: Long): Timestamp = new Timestamp(daySec * 1000L)

  // entity 1: days 0, 3 (gap of 2 days); entity 2: single day 5
  private lazy val events = Seq(
    (1L, ts(0L * 86400 + 10), 100L, 1.0),
    (1L, ts(0L * 86400 + 20), 101L, 2.0), // later same day → day value
    (1L, ts(3L * 86400), 102L, 9.0),
    (2L, ts(5L * 86400), 103L, 7.0)
  ).toDF("user_id", "ts", "event_id", "value")

  test("decayedCounts halves weight per elapsed half-life") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val hl = 100L
    val t0 = 10000L // the max timestamp = reference (weight 1)
    val df = Seq(
      ("a", ts(t0), 10.0),
      ("a", ts(t0 - hl), 10.0),      // one half-life back → weight 0.5
      ("a", ts(t0 - 2 * hl), 10.0),  // two → 0.25
      ("b", ts(t0 - hl), 8.0)).toDF("k", "ts", "value")
    val out = operators.TimeSeries
      .decayedCounts(df, col("k"), "ts", col("value"), halfLifeS = hl)
      .collect().map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("decayed_n"),
          r.getAs[Double]("decayed_sum")))).toMap
    assert(out("a") === ((3L, 1.75, 17.5)))  // 1 + ½ + ¼ (exact dyadics)
    assert(out("b") === ((1L, 0.5, 4.0)))
    // a fresh burst outranks a larger stale count: 2 events now beat
    // 3 events from ≥ 3 half-lives ago
    val trend = Seq(("new", ts(t0), 1.0), ("new", ts(t0), 1.0),
      ("old", ts(t0 - 3 * hl), 1.0), ("old", ts(t0 - 3 * hl), 1.0),
      ("old", ts(t0 - 4 * hl), 1.0)).toDF("k", "ts", "value")
    val tr = operators.TimeSeries
      .decayedCounts(trend, col("k"), "ts", col("value"), halfLifeS = hl)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Double]("decayed_n")).toMap
    assert(tr("new") > tr("old") && tr("old") === 0.3125) // 2·⅛ + 1/16
    intercept[IllegalArgumentException](operators.TimeSeries
      .decayedCounts(df, col("k"), "ts", col("value"), halfLifeS = 0))
    // with a FIXED reference the statistic is shard-mergeable: the two
    // halves' decayed sums add exactly to the whole-corpus run (weights
    // here are dyadic, so even the 4dp rounds stay exact)
    val whole = operators.TimeSeries.decayedCounts(df, col("k"), "ts",
        col("value"), hl, tRefEpochS = Some(t0))
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Double]("decayed_n")).toMap
    val parts = Seq(df.limit(2), df.except(df.limit(2))).map(part =>
      operators.TimeSeries.decayedCounts(part, col("k"), "ts",
          col("value"), hl, tRefEpochS = Some(t0))
        .collect().map(r => r.getAs[String]("key") -> r.getAs[Double]("decayed_n")).toMap)
    val merged = (parts(0).keySet ++ parts(1).keySet).map(k =>
      k -> (parts(0).getOrElse(k, 0.0) + parts(1).getOrElse(k, 0.0))).toMap
    assert(merged === whole)
  }

  test("decayedCounts with fixed tRef streams: stream result equals batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val rows = (1L to 300L).map(i =>
      (if (i % 3 == 0) "a" else "b", ts(5000L + i * 7), (i % 11).toDouble))
    val input = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    input.addData(rows)
    val stream = operators.TimeSeries.decayedCounts(
      input.toDF().toDF("k", "ts", "value"), col("k"), "ts", col("value"),
      halfLifeS = 500L, tRefEpochS = Some(8000L))
    val q = stream.writeStream.outputMode("update")
      .format("memory").queryName("decay_mem").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("decay_mem").collect().map(_.toSeq).toSet
    val batch = operators.TimeSeries.decayedCounts(
        rows.toDF("k", "ts", "value"), col("k"), "ts", col("value"),
        halfLifeS = 500L, tRefEpochS = Some(8000L))
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("transitionMatrix counts adjacencies per entity and row-normalizes") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      (1L, 10L, ts(1), "A"), (1L, 11L, ts(2), "B"),
      (1L, 12L, ts(3), "A"), (1L, 13L, ts(4), "C"),
      (2L, 20L, ts(1), "A"), (2L, 21L, ts(2), "B"),
      (3L, 30L, ts(9), "Z")) // single event → no transition
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = operators.TimeSeries
      .transitionMatrix(ev, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("p")))).toMap
    assert(out === Map(
      ("A", "B") -> ((2L, 2.0 / 3.0)),
      ("A", "C") -> ((1L, 1.0 / 3.0)),
      ("B", "A") -> ((1L, 1.0))))
    // equal timestamps order by the id tiebreak, not arrival order
    val tied = Seq((9L, 2L, ts(5), "Y"), (9L, 1L, ts(5), "X"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val t = operators.TimeSeries
      .transitionMatrix(tied, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(t === Set(("X", "Y")))
  }

  test("gapFillDaily fills gaps forward and flags observed days") {
    val out = TimeSeries.gapFillDaily(events, "user_id", "ts", "event_id", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1) / 86400, r.getBoolean(2), r.getDouble(3)))
      .toSet
    assert(out === Set(
      (1L, 0L, true, 2.0),   // latest of the two day-0 events
      (1L, 1L, false, 2.0),  // gap: carried forward
      (1L, 2L, false, 2.0),
      (1L, 3L, true, 9.0),
      (2L, 5L, true, 7.0)))  // single-day span: no gaps
  }

  test("gapFillDaily breaks same-timestamp ties by id") {
    val sameTs = Seq(
      (1L, ts(100), 5L, 1.0),
      (1L, ts(100), 9L, 4.0) // same second, larger id wins
    ).toDF("user_id", "ts", "event_id", "value")
    val out = TimeSeries.gapFillDaily(sameTs, "user_id", "ts", "event_id", "value").collect()
    assert(out.length === 1 && out(0).getDouble(3) === 4.0)
  }

  test("scd2 collapses consecutive equal states and closes intervals with the next change") {
    val log = Seq(
      (1L, ts(10), 1L, "trial"),
      (1L, ts(20), 2L, "trial"),   // same state → same interval
      (1L, ts(30), 3L, "paid"),
      (1L, ts(40), 4L, "trial"),   // state can recur → new interval
      (2L, ts(15), 5L, "paid")
    ).toDF("user_id", "ts", "event_id", "state")
    val out = TimeSeries.scd2(log, "user_id", "ts", "event_id", "state")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(out === Set(
      (1L, "trial", 10L, 30L),
      (1L, "paid", 30L, 40L),
      (1L, "trial", 40L, -1L),   // open interval (current state)
      (2L, "paid", 15L, -1L)))
  }

  test("scd2 intervals tile each entity's timeline: from < to, no overlap") {
    val dir = "/root/testdata/sf0.001"
    val out = TimeSeries.scd2(
      graft.sources.Tables.load(spark, dir, "events").filter(col("user_id").isNotNull),
      "user_id", "ts", "event_id", "event_type")
    val bad = out.filter(col("valid_to_s").isNotNull && col("valid_to_s") < col("valid_from_s"))
    assert(bad.count() === 0)
    // per entity: exactly one open (NULL valid_to) interval — the current state
    val opens = out.groupBy(col("entity"))
      .agg(sum(when(col("valid_to_s").isNull, 1).otherwise(0)).as("n_open"))
      .filter(col("n_open") =!= 1)
    assert(opens.count() === 0)
  }

  test("funnel counts only in-order completions, first-touch, strictly after") {
    import spark.implicits._
    val ev = Seq(
      // u1 completes all three in order
      (1L, 10L, "signup"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // u2 clicked BEFORE signup — click must not count (nor the purchase after it)
      (2L, 5L, "click"), (2L, 10L, "signup"), (2L, 12L, "purchase"),
      // u3 signup + click only
      (3L, 10L, "signup"), (3L, 40L, "click"),
      // u4 purchase same second as click — strictly-after excludes it
      (4L, 10L, "signup"), (4L, 20L, "click"), (4L, 20L, "purchase"),
      // u5 never signed up
      (5L, 10L, "click"), (5L, 20L, "purchase"))
      .map { case (u, t, ty) => (u, new java.sql.Timestamp(t * 1000L), ty) }
      .toDF("user_id", "ts", "event_type")
    val out = TimeSeries.funnel(ev, "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out === Map(0L -> 4L, 1L -> 3L, 2L -> 1L))
  }

  test("retention cohorts: first week defines the cohort, offsets capped") {
    import spark.implicits._
    val week = 604800L
    val ev = Seq(
      (1L, 0L), (1L, week), (1L, 3 * week),        // cohort 0: active w0, w1, w3
      (2L, 0L), (2L, 2 * week),                    // cohort 0: active w0, w2
      (3L, week), (3L, week + 1), (3L, 2 * week),  // cohort 1: dup-active w0 counted once
      (4L, 20L * week))                            // beyond maxWeeks from others, own cohort
      .map { case (u, t) => (u, new java.sql.Timestamp(t * 1000L)) }
      .toDF("user_id", "ts")
    val out = TimeSeries.retentionCohorts(ev, "user_id", "ts", maxWeeks = 12)
      .collect().map(r => (r.getLong(0) / week, r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      (0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L,
      (20L, 0L) -> 1L))
  }

  test("topPaths counts first-k journeys, ranks by count then path") {
    import spark.implicits._
    // u1 and u2 both A>B(>A beyond k), u3 just B, u4 just C
    val ev = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "B"), (1L, 30L, 3L, "A"),
      (2L, 10L, 4L, "A"), (2L, 20L, 5L, "B"),
      (3L, 10L, 6L, "B"),
      (4L, 10L, 7L, "C"))
      .map { case (u, t, i, ty) => (u, new java.sql.Timestamp(t * 1000L), i, ty) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = TimeSeries.topPaths(ev, "user_id", "ts", "event_id", "event_type",
        k = 2, topN = 20)
      .collect().map(r => (r.getAs[String]("path"),
        r.getAs[Long]("n_entities"), r.getAs[Long]("rank")))
    assert(out.toSeq.sortBy(_._3) ===
      Seq(("A>B", 2L, 1L), ("B", 1L, 2L), ("C", 1L, 3L))) // tie B<C by path
    val top1 = TimeSeries.topPaths(ev, "user_id", "ts", "event_id", "event_type",
      k = 2, topN = 1).collect()
    assert(top1.map(_.getAs[String]("path")).toSeq === Seq("A>B"))
    // same-ts ordering falls back to event_id: id order decides the path
    val tie = Seq((9L, 10L, 1L, "X"), (9L, 10L, 2L, "Y"))
      .map { case (u, t, i, ty) => (u, new java.sql.Timestamp(t * 1000L), i, ty) }
      .toDF("user_id", "ts", "event_id", "event_type")
    assert(TimeSeries.topPaths(tie, "user_id", "ts", "event_id", "event_type")
      .collect().head.getAs[String]("path") === "X>Y")
  }

  test("sessionize splits on gaps strictly greater than gapS") {
    import spark.implicits._
    // u1: ts 0,50 | 200,250 | 600 with gap 100 (150 and 350 break; 50 doesn't)
    val ev = Seq((1L, 0L, 1L), (1L, 50L, 2L), (1L, 200L, 3L), (1L, 250L, 4L),
      (1L, 600L, 5L),
      // u2: gap exactly gapS does NOT split (strict >)
      (2L, 0L, 6L), (2L, 100L, 7L))
      .map { case (u, t, i) => (u, new java.sql.Timestamp(t * 1000L), i) }
      .toDF("user_id", "ts", "event_id")
    val out = TimeSeries.sessionize(ev, "user_id", "ts", "event_id", gapS = 100L)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("session_seq")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("start_s"),
          r.getAs[Long]("duration_s")))).toMap
    assert(out === Map(
      (1L, 1L) -> ((2L, 0L, 50L)),
      (1L, 2L) -> ((2L, 200L, 50L)),
      (1L, 3L) -> ((1L, 600L, 0L)),
      (2L, 1L) -> ((2L, 0L, 100L))))
    intercept[IllegalArgumentException](
      TimeSeries.sessionize(ev, "user_id", "ts", "event_id", gapS = 0L))
  }

  test("sessionizeTriaged equals sessionize: hot keys via the bucket scan, cold unchanged") {
    import spark.implicits._
    // adversarial hot stream engineered against the bucket decomposition
    // (bucketS = 100): a session SPANNING a bucket boundary (t=95,105), a
    // boundary gap EXACTLY gapS (t=195,295 — must NOT split), an EMPTY
    // bucket inside a session gap (t=310 → 520 skips bucket [400,500) and
    // MUST split), same-timestamp id tiebreaks (700,700), and a quiet
    // cold user riding the plain path
    val hotEvents = Seq(0L, 10L, 95L, 105L, 195L, 295L, 310L, 520L, 700L,
      700L, 850L, 1200L)
    val ev = (hotEvents.zipWithIndex.map { case (t, i) => (1L, t, i.toLong) } ++
      Seq((2L, 0L, 100L), (2L, 150L, 101L), (2L, 151L, 102L)))
      .map { case (u, t, i) => (u, new java.sql.Timestamp(t * 1000L), i) }
      .toDF("user_id", "ts", "event_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Long]("session_seq")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("start_s"),
          r.getAs[Long]("end_s"), r.getAs[Long]("duration_s")))).toMap
    val plain = rows(TimeSeries.sessionize(ev, "user_id", "ts", "event_id", 100L))
    // threshold 5 → user 1 (12 events) is hot, user 2 (3) is cold
    val triaged = rows(TimeSeries.sessionizeTriaged(ev, "user_id", "ts",
      "event_id", gapS = 100L, hotThreshold = 5L, bucketS = 100L))
    assert(triaged === plain)
    // sanity on the engineered cases, independent of the plain path
    // s1 = {0,10,95,105,195,295,310}: spans three buckets, fuses across
    // the exact-gapS boundary step (195→295) and the 295→310 step
    assert(plain((1L, 1L))._1 === 7L, "boundary-spanning + exact-gap events fused")
    assert(plain.keySet.count(_._1 == 1L) === 5,
      "hot user must have exactly 5 sessions")
    // degenerate thresholds: everything hot / everything cold — both equal
    assert(rows(TimeSeries.sessionizeTriaged(ev, "user_id", "ts", "event_id",
      100L, hotThreshold = 1L, bucketS = 100L)) === plain)
    assert(rows(TimeSeries.sessionizeTriaged(ev, "user_id", "ts", "event_id",
      100L, hotThreshold = 1000L, bucketS = 100L)) === plain)
  }

  test("sessionize auto-routes at the hotFraction boundary, output invariant") {
    import spark.implicits._
    // 20 events for user 1, 5 each for users 2..5 → user 1 owns 50%.
    val ev = ((0 until 20).map(i => (1L, i * 10L, i.toLong)) ++
      (for (u <- 2L to 5L; i <- 0 until 5)
        yield (u, i * 400L, 1000L + u * 10 + i)))
      .map { case (u, t, i) => (u, new java.sql.Timestamp(t * 1000L), i) }
      .toDF("user_id", "ts", "event_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Long]("session_seq")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("start_s"),
          r.getAs[Long]("duration_s")))).toMap
    val plain = rows(TimeSeries.sessionizePlain(ev, "user_id", "ts", "event_id", 100L))
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    // BELOW the boundary (user 1 at 50% > 40% fraction): routed — the
    // executed plan carries the triage union; output unchanged
    val routed = TimeSeries.sessionize(ev, "user_id", "ts", "event_id", 100L,
      hotFraction = 0.4, bucketS = 100L)
    assert(planOf(routed).contains("Union"), "50% key must trigger the triage route")
    assert(rows(routed) === plain)
    // ABOVE the boundary (no key over 60%): the PLAIN plan, no union
    val unrouted = TimeSeries.sessionize(ev, "user_id", "ts", "event_id", 100L,
      hotFraction = 0.6, bucketS = 100L)
    assert(!planOf(unrouted).contains("Union"), "no hot key → plain plan untouched")
    assert(rows(unrouted) === plain)
    // opt-out: exactly the plain plan regardless of skew
    val optout = TimeSeries.sessionize(ev, "user_id", "ts", "event_id", 100L,
      hotFraction = 0.0)
    assert(!planOf(optout).contains("Union"))
    assert(rows(optout) === plain)
    // empty input: no probe crash, empty output
    assert(TimeSeries.sessionize(ev.limit(0), "user_id", "ts", "event_id",
      100L).count() === 0L)
  }

  test("sessionize with threaded (nRows, maxKeyRows) routes with ZERO probe jobs") {
    import spark.implicits._
    // the hammingPairs nRows one-discipline rule (VERDICT r17 #4): a caller
    // that already knows its key distribution must not pay the eager
    // key-count scan — plan BUILDING schedules no Spark job at all, and the
    // route is decided from the threaded numbers alone.
    val ev = ((0 until 20).map(i => (1L, i * 10L, i.toLong)) ++
      (for (u <- 2L to 5L; i <- 0 until 5)
        yield (u, i * 400L, 1000L + u * 10 + i)))
      .map { case (u, t, i) => (u, new java.sql.Timestamp(t * 1000L), i) }
      .toDF("user_id", "ts", "event_id")
    def probeJobsWhileBuilding(f: => org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Int) = TestSpark.countJobs {
      val df = f
      df.queryExecution.executedPlan // force planning, still no action
      df
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Long]("session_seq")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("start_s"),
          r.getAs[Long]("duration_s")))).toMap
    val plain = rows(TimeSeries.sessionizePlain(ev, "user_id", "ts", "event_id", 100L))
    // threaded hot route (user 1: 20 of 40 rows > 40% threshold)
    val (hot, hotJobs) = probeJobsWhileBuilding(
      TimeSeries.sessionize(ev, "user_id", "ts", "event_id", 100L,
        hotFraction = 0.4, bucketS = 100L, nRows = 40L, maxKeyRows = 20L))
    assert(hotJobs === 0, "threaded counts must skip the probe job entirely")
    assert(hot.queryExecution.executedPlan.toString.contains("Union"),
      "threaded maxKeyRows above threshold must pick the triage route")
    assert(rows(hot) === plain)
    // threaded cold route (no key over 60%)
    val (cold, coldJobs) = probeJobsWhileBuilding(
      TimeSeries.sessionize(ev, "user_id", "ts", "event_id", 100L,
        hotFraction = 0.6, bucketS = 100L, nRows = 40L, maxKeyRows = 20L))
    assert(coldJobs === 0)
    assert(!cold.queryExecution.executedPlan.toString.contains("Union"))
    assert(rows(cold) === plain)
    // half-threaded (maxKeyRows unknown) falls back to the probe — the
    // route still lands where the data says, output invariant
    val probed = TimeSeries.sessionize(ev, "user_id", "ts", "event_id", 100L,
      hotFraction = 0.4, bucketS = 100L, nRows = 40L)
    assert(probed.queryExecution.executedPlan.toString.contains("Union"))
    assert(rows(probed) === plain)
    // threaded zero-row corpus: plain path, no crash
    assert(TimeSeries.sessionize(ev.limit(0), "user_id", "ts", "event_id",
      100L, nRows = 0L, maxKeyRows = 0L).count() === 0L)
  }

  test("sessionizeTriaged bounds the hot-key straggler task (shuffle-bytes pinned)") {
    import spark.implicits._
    // one user owns 80% of events (the zipf axis shape, concentrated):
    // under the plain operator every one of their events lands on ONE
    // window task, so that task's shuffle read is ~80% of the corpus and
    // grows ~f·P relative to the median (zipf1 measured 3.56x at 32
    // partitions, 15.1x at 200). The triaged path spreads the hot key
    // over time buckets down to the uniform-share floor (hot/P); pin the
    // property on task SHUFFLE BYTES (stable, unlike wall-clock):
    // triaged max-task bytes <= plain max / 2 (the expected gain at
    // TestSpark's 4 partitions is ~4x; 2x leaves payload-overhead slack).
    val n = 40000
    val ev = spark.range(n.toLong).selectExpr(
      "CASE WHEN id % 5 != 0 THEN 7777L ELSE id % 97 END AS user_id",
      "timestamp_seconds(1704067200 + (id % 20000) * 60) AS ts",
      "id AS event_id")
    class MaxTask extends org.apache.spark.scheduler.SparkListener {
      @volatile var maxBytes = 0L
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null)
          maxBytes = math.max(maxBytes, m.shuffleReadMetrics.totalBytesRead)
      }
    }
    def maxTaskBytes(f: => org.apache.spark.sql.DataFrame): Long = {
      val l = new MaxTask
      spark.sparkContext.addSparkListener(l)
      try { f.count(); Thread.sleep(300L); l.maxBytes }
      finally spark.sparkContext.removeSparkListener(l)
    }
    // AQE coalescing folds this toy-scale shuffle into ONE partition
    // (everything here is far under the 64 MB advisory size), which
    // re-serializes the hot set through a single task and hides exactly
    // the distribution this test measures — same reason SkewAudit runs
    // with it off. At real scale the advisory size keeps partitions
    // plural and the operator's spread intact.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      // sessionizePlain explicitly: the default sessionize() now auto-routes
      // this 80%-hot corpus to the triaged plan (pinned above), which would
      // make both arms of this comparison the same plan
      val plainMax = maxTaskBytes(
        TimeSeries.sessionizePlain(ev, "user_id", "ts", "event_id", 1800L))
      val triagedMax = maxTaskBytes(TimeSeries.sessionizeTriaged(
        ev, "user_id", "ts", "event_id", 1800L,
        hotThreshold = n / 10L, bucketS = 3600L))
      assert(triagedMax > 0 && plainMax > 0)
      assert(triagedMax <= plainMax / 2,
        s"triaged max-task shuffle bytes $triagedMax vs plain $plainMax — straggler not bounded")
    } finally prev match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
  }

  test("cusum closed form matches the textbook recursion") {
    import spark.implicits._
    // entity "e": daily x = 5 (2+3), 1, 9, 2; mu = 4.25, slack 0 →
    // recursion S = max(0, S_prev + (x - mu)): 0.75, 0, 4.75, 2.5
    val ev = Seq(
      ("e", 0L * 86400 + 10, 2.0), ("e", 0L * 86400 + 20, 3.0),
      ("e", 1L * 86400, 1.0), ("e", 2L * 86400, 9.0), ("e", 3L * 86400, 2.0),
      // constant entity: every deviation 0 → cusum identically 0
      ("f", 0L, 5.0), ("f", 86400L, 5.0))
      .map { case (k, t, v) => (k, new java.sql.Timestamp(t * 1000L), v) }
      .toDF("k", "ts", "value")
    val out = TimeSeries.cusum(ev, "k", "ts", "value",
        slack = 0.0, threshold = 4.0)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("day")) ->
        ((r.getAs[Double]("cusum"), r.getAs[Boolean]("changepoint")))).toMap
    assert(out(("e", 0L)) === ((0.75, false)))
    assert(out(("e", 1L)) === ((0.0, false)))
    assert(out(("e", 2L)) === ((4.75, true))) // the sustained shift day
    assert(out(("e", 3L)) === ((2.5, false))) // decays back under threshold
    assert(out(("f", 0L)) === ((0.0, false)))
    assert(out(("f", 1L)) === ((0.0, false)))
    intercept[IllegalArgumentException](
      TimeSeries.cusum(ev, "k", "ts", "value", slack = 0.0, threshold = 0.0))
  }

  test("seasonalNaiveBacktest scores calendar lags, skipping missing days") {
    import spark.implicits._
    // e: daily totals 1,2,3,4,5 on days 0..4 (day 0 split into two rows to
    // exercise the daily sum). season=2 → seasonal errors |3-1|,|4-2|,|5-3|
    // (MAE 2), naive-1 errors |2-1|..|5-4| (MAE 1) → mase 2.
    // g: days 0,1,3 — day 3's naive-1 lag (day 2) is MISSING, so it is
    //    excluded; the seasonal lag (day 1) exists and scores |9-2|.
    // c: constant series → both MAEs 0 → mase NULL (not a division blowup).
    val ev = (Seq(
      ("e", 0L * 86400 + 10, 0.4), ("e", 0L * 86400 + 20, 0.6),
      ("e", 1L * 86400, 2.0), ("e", 2L * 86400, 3.0),
      ("e", 3L * 86400, 4.0), ("e", 4L * 86400, 5.0),
      ("g", 0L, 1.0), ("g", 86400L, 2.0), ("g", 3L * 86400, 9.0)) ++
      Seq(0L, 86400L, 2L * 86400).map(t => ("c", t, 7.0)))
      .map { case (k, t, v) => (k, new Timestamp(t * 1000L), v) }
      .toDF("k", "ts", "value")
    val out = TimeSeries.seasonalNaiveBacktest(ev, "k", "ts", "value",
        seasonDays = 2)
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("n_days"), r.getAs[Long]("n_scored"),
          Option(r.getAs[java.lang.Double]("mae_seasonal")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("mae_naive1")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("mase")).map(_.doubleValue)))).toMap
    assert(out("e") === ((5L, 3L, Some(2.0), Some(1.0), Some(2.0))))
    assert(out("g") === ((3L, 1L, Some(7.0), Some(1.0), Some(7.0))))
    assert(out("c") === ((3L, 1L, Some(0.0), Some(0.0), None)))
    intercept[IllegalArgumentException](
      TimeSeries.seasonalNaiveBacktest(ev, "k", "ts", "value", seasonDays = 1))
  }
}
