package graft.sinks.v2

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Multi-writer replay idempotence across restatements: N concurrent
 * streaming writers (each with in-order batch ids, the Structured
 * Streaming contract) share one store while retention folds, compactions,
 * and overwrites restate history. Folded structured tags become
 * per-writer watermarks ([[KvStore.foldWriters]]) carried by the restated
 * epoch, and [[KvStore.tagCommitted]] absorbs any batch at or below its
 * writer's watermark — so a SLOW writer's replay after its tag's epoch
 * folded away can never double-commit (the r11 `keepLast >= 1` claim was
 * scoped to a single writer; this makes it true for N).
 */
class KvMultiWriterSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark
  private def conf: Configuration = spark.sessionState.newHadoopConf()

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("v", LongType, nullable = true)))

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_mw_").toFile
    d.delete()
    d.toString
  }

  private def stage(path: String, rows: Seq[(Long, Long)]): Seq[KvStore.StagedSeg] = {
    val w = new KvDataWriter(path, schema, conf, "mw")
    rows.foreach { case (id, v) => w.write(InternalRow.fromSeq(Seq(id, v))) }
    val m = w.commit().asInstanceOf[KvCommitMessage]
    Seq(KvStore.StagedSeg(m.stagedFile, m.statsJson, m.bloomFile))
  }

  /** one streaming micro-batch commit: writer `q`, batch `b` */
  private def commitBatch(path: String, q: String, b: Long,
      rows: Seq[(Long, Long)]): Unit =
    KvStore.commitEpochSegs(conf, path, schema, s"stream:$q:$b",
      stage(path, rows))

  private def upsertBatch(path: String, q: String, b: Long,
      rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    KvStore.upsert(spark, path, rows.toDF("id", "v"), Seq("id"),
      tag = Some(s"stream-upsert:$q:$b"))
  }

  private def state(path: String): Map[Long, Long] =
    KvStore.readCurrent(spark, path, Seq("id"))
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def manifest(path: String) = KvStore.readManifest(conf, path)

  test("retention fold absorbs a slow writer's replay of a folded batch") {
    val path = freshDir()
    // fast writer A races ahead; slow writer B committed batch 0 early
    commitBatch(path, "qB", 0L, Seq(100L -> 1L))
    (0L to 4L).foreach(b => commitBatch(path, "qA", b, Seq((b + 1) -> 10L)))
    KvStore.expireEpochs(spark, path, Seq("id"), keepLast = 1)
    val folded = manifest(path)
    assert(folded.length === 2, "base + survivor expected after keepLast=1")
    assert(folded.head.writers === Map("stream:qA" -> 3L, "stream:qB" -> 0L),
      "folded tags must become per-writer watermarks")
    val pre = state(path)
    // B crashes and REPLAYS batch 0 from its checkpoint — the tag's epoch
    // is gone, only the watermark can absorb it
    commitBatch(path, "qB", 0L, Seq(100L -> 1L))
    assert(manifest(path) === folded, "replay of a folded batch must be a no-op")
    assert(state(path) === pre)
    // but B's NEXT batch (above the watermark) must commit normally
    commitBatch(path, "qB", 1L, Seq(200L -> 2L))
    assert(state(path) === pre + (200L -> 2L))
  }

  test("compaction carries writer watermarks; replay after compact absorbs") {
    val path = freshDir()
    commitBatch(path, "q1", 0L, Seq(1L -> 10L))
    commitBatch(path, "q1", 1L, Seq(2L -> 20L))
    commitBatch(path, "q2", 7L, Seq(3L -> 30L))
    KvStore.compact(spark, path, Seq("id"), clusterByKey = true)
    val m = manifest(path)
    assert(m.length === 1)
    assert(m.head.writers === Map("stream:q1" -> 1L, "stream:q2" -> 7L))
    val pre = state(path)
    commitBatch(path, "q1", 1L, Seq(2L -> 20L)) // replay
    commitBatch(path, "q2", 7L, Seq(3L -> 30L)) // replay
    assert(manifest(path) === m, "replays after compact must absorb")
    assert(state(path) === pre)
  }

  test("INSERT OVERWRITE carries watermarks; a pre-overwrite replay cannot resurrect data") {
    val path = freshDir()
    commitBatch(path, "q1", 0L, Seq(1L -> 10L, 2L -> 20L))
    KvStore.commitEpochSegs(conf, path, schema, "batch:ow-1",
      stage(path, Seq(5L -> 50L)), overwrite = true)
    assert(state(path) === Map(5L -> 50L))
    commitBatch(path, "q1", 0L, Seq(1L -> 10L, 2L -> 20L)) // replay from before
    assert(state(path) === Map(5L -> 50L),
      "a replayed pre-overwrite batch must not resurrect replaced rows")
  }

  test("tagged upsert replay absorbs after its epoch folds away") {
    val path = freshDir()
    commitBatch(path, "q1", 0L, Seq(1L -> 10L, 2L -> 20L))
    upsertBatch(path, "uq", 0L, Seq(2L -> 222L))
    (1L to 3L).foreach(b => commitBatch(path, "q1", b, Seq((b + 10) -> 1L)))
    KvStore.expireEpochs(spark, path, Seq("id"), keepLast = 1)
    val pre = state(path)
    assert(pre(2L) === 222L)
    upsertBatch(path, "uq", 0L, Seq(2L -> 222L)) // replay: absorbed BEFORE any work
    assert(state(path) === pre)
    assert(manifest(path).length === 2)
    // the next CDC batch applies
    upsertBatch(path, "uq", 1L, Seq(2L -> 333L))
    assert(state(path)(2L) === 333L)
  }

  test("fold of a fold merges watermark maps") {
    val path = freshDir()
    (0L to 2L).foreach(b => commitBatch(path, "qA", b, Seq((b + 1) -> 1L)))
    KvStore.expireEpochs(spark, path, Seq("id"), keepLast = 1)
    (10L to 12L).foreach(b => commitBatch(path, "qB", b, Seq((b + 100) -> 2L)))
    KvStore.expireEpochs(spark, path, Seq("id"), keepLast = 1)
    val w = manifest(path).head.writers
    // the second fold folds the first base (watermark qA->1) AND qA's
    // surviving batch 2 — the merge takes the max per writer
    assert(w === Map("stream:qA" -> 2L, "stream:qB" -> 11L),
      s"second fold must merge the first fold's map, got $w")
    val pre = state(path)
    commitBatch(path, "qA", 0L, Seq(1L -> 1L)) // deep-history replay
    assert(state(path) === pre)
  }

  test("caller tags outside reserved prefixes never absorb: a folded colon-numeric tag cannot swallow a NEW lower-suffixed statement") {
    val path = freshDir()
    // a date-stamped caller tag that merely LOOKS like a structured
    // stream tag — it must dedupe by exact match only
    KvStore.commitEpochSegs(conf, path, schema, "load:20260815",
      stage(path, Seq(1L -> 1L)))
    (0L to 3L).foreach(b => commitBatch(path, "qA", b, Seq((b + 10) -> 1L)))
    KvStore.expireEpochs(spark, path, Seq("id"), keepLast = 1)
    val w = manifest(path).head.writers
    assert(w === Map("stream:qA" -> 2L),
      s"non-reserved tags must not become fold watermarks, got $w")
    // a BACKFILL with a lower numeric suffix is a brand-new statement:
    // under suffix-as-watermark parsing it would be silently dropped
    val pre = state(path)
    KvStore.commitEpochSegs(conf, path, schema, "load:20260101",
      stage(path, Seq(2L -> 2L)))
    assert(state(path) === pre + (2L -> 2L),
      "backfilled load tag must commit, not be absorbed as a replay")
    // exact-tag dedupe still applies while the epoch is live
    val m = manifest(path)
    KvStore.commitEpochSegs(conf, path, schema, "load:20260101",
      stage(path, Seq(3L -> 3L)))
    assert(manifest(path) === m, "exact live-tag replay is still a no-op")
  }

  test("two concurrent streaming writers with forced replays and folds: exactly-once") {
    val seeds = Seq(5L, 29L)
    for (seed <- seeds) {
      val rng = new scala.util.Random(seed)
      val path = freshDir()
      var model = Map.empty[Long, Long]
      // writer → next batch id; keys are namespaced per writer so appends
      // never collide and every committed row is observable exactly once
      val next = scala.collection.mutable.Map("w1" -> 0L, "w2" -> 0L)
      val history = scala.collection.mutable.Map.empty[(String, Long), Seq[(Long, Long)]]
      for (step <- 1 to 30) {
        val q = if (rng.nextBoolean()) "w1" else "w2"
        val replay = rng.nextInt(10) < 3 && next(q) > 0
        if (replay) {
          // replay a RANDOM earlier batch (a restarted query re-running
          // from an old checkpoint) — must be absorbed whether its tag is
          // live or folded
          val b = rng.nextLong(next(q))
          commitBatch(path, q, b, history((q, b)))
        } else {
          val b = next(q)
          val base = (if (q == "w1") 0L else 1000000L) + b * 10
          val rows = (0 until 1 + rng.nextInt(3)).map(i => (base + i) -> rng.nextLong(100L))
          history((q, b)) = rows
          commitBatch(path, q, b, rows)
          next(q) = b + 1
          model = rows.foldLeft(model) { case (m, (k, v)) =>
            if (m.contains(k)) m else m.updated(k, v)
          }
        }
        if (rng.nextInt(10) < 3)
          KvStore.expireEpochs(spark, path, Seq("id"), keepLast = 1 + rng.nextInt(3))
        assert(state(path) === model, s"seed=$seed step=$step diverged")
        // exactly-once at the ROW level, not just the resolved view: every
        // committed row appears exactly once in the raw (pre-resolution) read
        val raw = KvStore.read(spark, path).groupBy("id").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(raw.values.forall(_ == 1L),
          s"seed=$seed step=$step: duplicate raw rows — a replay double-committed")
      }
    }
  }
}
