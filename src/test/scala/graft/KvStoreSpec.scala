package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.v2.KvStore

/** `graft-kv` DSv2 keyed store: two-phase commit, manifest visibility,
 * streaming epoch idempotence, first-write-wins + TTL read semantics
 * (Cassandra `ifNotExists`+TTL parity, `cassandra/init.cql:5-7`). */
class KvStoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-kv-spec").resolve("store").toString

  test("batch write + read round trip, all supported types and nulls") {
    val p = tmp()
    val df = Seq(
      (1L, "a", 1.5, true, Some(10)),
      (2L, "b", -0.25, false, None),
      (3L, null.asInstanceOf[String], 0.0, true, Some(-7))
    ).toDF("id", "s", "d", "b", "i")
    df.write.format("graft-kv").option("path", p).mode("append").save()
    val back = KvStore.read(spark, p)
    assert(back.columns.toSeq === Seq("id", "s", "d", "b", "i", "_epoch"))
    assert(back.count() === 3)
    val r2 = back.where(col("id") === 2L).collect()(0)
    assert(r2.getString(1) === "b" && r2.getDouble(2) === -0.25 && !r2.getBoolean(3)
      && r2.isNullAt(4) && r2.getLong(5) === 0L)
    assert(back.where(col("s").isNull).count() === 1)
  }

  test("appends become ordered epochs; readCurrent keeps the FIRST write per key") {
    val p = tmp()
    def w(rows: (String, Long)*): Unit =
      rows.toDF("ip", "clicks").write.format("graft-kv").option("path", p)
        .mode("append").save()
    w(("a", 1L), ("b", 2L))
    w(("a", 99L), ("c", 3L)) // "a" re-written: ifNotExists must keep clicks=1
    val raw = KvStore.read(spark, p)
    assert(raw.select("_epoch").distinct().collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L))
    val cur = KvStore.readCurrent(spark, p, Seq("ip"))
    assert(cur.columns.toSeq === Seq("ip", "clicks"))
    assert(cur.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      === Seq(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("TTL expiry on read, like the Cassandra 10-minute TTL") {
    val p = tmp()
    Seq(("a", 100L), ("b", 2000L)).toDF("ip", "expires_at_s")
      .write.format("graft-kv").option("path", p).mode("append").save()
    assert(KvStore.readCurrent(spark, p, Seq("ip"), nowS = Some(500L))
      .collect().map(_.getString(0)).toSeq === Seq("b"))
    assert(KvStore.readCurrent(spark, p, Seq("ip"), nowS = Some(5000L)).count() === 0)
  }

  test("schema evolves by widening only: adds backfill null, drops and retypes fail") {
    val p = tmp()
    Seq((1L, "x")).toDF("id", "s").write.format("graft-kv").option("path", p)
      .mode("append").save()
    // dropping a stored column is rejected
    val eDrop = intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "other").write.format("graft-kv").option("path", p)
        .mode("append").save()
    }
    assert((eDrop.getMessage + Option(eDrop.getCause).map(_.getMessage).getOrElse(""))
      .contains("omits stored columns"))
    // retyping a stored column is rejected
    val eType = intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "s").write.format("graft-kv").option("path", p)
        .mode("append").save()
    }
    assert((eType.getMessage + Option(eType.getCause).map(_.getMessage).getOrElse(""))
      .contains("changes stored column types"))
    // ADDING a nullable column widens the store; old rows read as null
    Seq((2L, "y", 3.5)).toDF("id", "s", "score").write.format("graft-kv")
      .option("path", p).mode("append").save()
    val rows = KvStore.read(spark, p).orderBy("id").collect()
    assert(rows.map(_.schema.fieldNames.toSeq).head === Seq("id", "s", "score", "_epoch"))
    assert(rows(0).isNullAt(2)) // pre-evolution row backfills null
    assert(rows(1).getDouble(2) === 3.5)
    // and the widened store keeps accepting the ORIGINAL narrower frame? No:
    // once widened, the store schema includes the new column — narrower
    // writes must select it (the drop rule, applied to the widened schema)
    val eNarrow = intercept[Exception] {
      Seq((3L, "z")).toDF("id", "s").write.format("graft-kv").option("path", p)
        .mode("append").save()
    }
    assert((eNarrow.getMessage + Option(eNarrow.getCause).map(_.getMessage).getOrElse(""))
      .contains("omits stored columns"))
  }

  test("unsupported column types are rejected with a clear message") {
    val p = tmp()
    val e = intercept[Exception] {
      Seq((1L, Seq(1, 2))).toDF("id", "arr").write.format("graft-kv")
        .option("path", p).mode("append").save()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("graft-kv supports"))
  }

  test("uncommitted staging is invisible to readers") {
    val p = tmp()
    Seq((1L, "a")).toDF("id", "s").write.format("graft-kv").option("path", p)
      .mode("append").save()
    // hand-plant a staged file (a crashed writer's leftovers)
    val staging = new java.io.File(p, "_staging")
    staging.mkdirs()
    java.nio.file.Files.write(staging.toPath.resolve("stage-zombie.jsonl"),
      "{\"id\":999,\"s\":\"ghost\"}\n".getBytes("UTF-8"))
    assert(KvStore.read(spark, p).count() === 1)
    assert(KvStore.read(spark, p).where(col("id") === 999L).count() === 0)
  }

  test("streaming writes commit per epoch and survive restart without dups") {
    val p = tmp()
    val ckpt = Files.createTempDirectory("graft-kv-ckpt").toString
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    def start() = mem.toDF().toDF("ip", "clicks")
      .writeStream.format("graft-kv").option("path", p)
      .option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      mem.addData(("a", 1L), ("b", 2L))
      q.processAllAvailable()
      mem.addData(("c", 3L))
      q.processAllAvailable()
      assert(KvStore.read(spark, p).count() === 3)
      assert(KvStore.read(spark, p).select("_epoch").distinct().count() >= 2)
    } finally q.stop()
    // restart on the same checkpoint: nothing replays into the store
    val q2 = start()
    try {
      mem.addData(("d", 4L))
      q2.processAllAvailable()
      val rows = KvStore.readCurrent(spark, p, Seq("ip")).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(rows === Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)))
    } finally q2.stop()
  }

  test("a replayed streaming epoch is discarded, not double-committed") {
    val p = tmp()
    // drive the idempotence contract directly: same (queryId, epochId)
    // committed twice with fresh staged files must publish exactly once
    val conf = spark.sessionState.newHadoopConf()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def stage(content: String): String = {
      val d = new java.io.File(p, "_staging"); d.mkdirs()
      val f = java.io.File.createTempFile("stage-", ".jsonl", d)
      java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
      f.toString
    }
    KvStore.commitEpoch(conf, p, schema, "stream:q1:7", Seq(stage("{\"id\":1}\n")))
    KvStore.commitEpoch(conf, p, schema, "stream:q1:7", Seq(stage("{\"id\":1}\n")))
    KvStore.commitEpoch(conf, p, schema, "stream:q1:8", Seq(stage("{\"id\":2}\n")))
    val ids = KvStore.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 2L))
    // and the replayed epoch's staged file was cleaned up
    val leftovers = Option(new java.io.File(p, "_staging").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".jsonl"))
    assert(leftovers.isEmpty)
  }

  test("compaction collapses epochs, preserves first-write-wins, purges TTL") {
    val p = tmp()
    def w(rows: (String, Long, Long)*): Unit =
      rows.toDF("ip", "clicks", "expires_at_s").write.format("graft-kv")
        .option("path", p).mode("append").save()
    w(("a", 1L, 10000L), ("b", 2L, 100L)) // b expires at 100
    w(("a", 99L, 10000L), ("c", 3L, 10000L))
    w(("d", 4L, 10000L))
    val before = KvStore.readCurrent(spark, p, Seq("ip"), nowS = Some(500L))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    KvStore.compact(spark, p, Seq("ip"), nowS = Some(500L))
    // read-equivalent after compaction
    val after = KvStore.readCurrent(spark, p, Seq("ip"), nowS = Some(500L))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(after === before)
    assert(after === Seq(("a", 1L), ("c", 3L), ("d", 4L)))
    // physically one epoch now; the loser row ("a",99) and expired "b" are GONE
    val raw = KvStore.read(spark, p)
    assert(raw.select("_epoch").distinct().count() === 1)
    assert(raw.count() === 3)
    // future writes still epoch-order correctly against the compacted state
    w(("a", 123L, 10000L), ("e", 5L, 10000L))
    val later = KvStore.readCurrent(spark, p, Seq("ip"), nowS = Some(500L))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(later === Seq(("a", 1L), ("c", 3L), ("d", 4L), ("e", 5L)))
  }

  test("the reserved _epoch column is rejected at write (store-to-store copies)") {
    val p1 = tmp()
    val p2 = tmp()
    Seq(("a", 1L)).toDF("ip", "clicks").write.format("graft-kv").option("path", p1)
      .mode("append").save()
    val e = intercept[Exception] {
      KvStore.read(spark, p1) // includes _epoch
        .write.format("graft-kv").option("path", p2).mode("append").save()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("reserved"))
    // the documented fix works
    KvStore.read(spark, p1).drop("_epoch").write.format("graft-kv")
      .option("path", p2).mode("append").save()
    assert(KvStore.readCurrent(spark, p2, Seq("ip")).count() === 1)
  }

  test("within-epoch same-key rows are a set: both survive (documented contract)") {
    val p = tmp()
    Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("ip", "clicks")
      .write.format("graft-kv").option("path", p).mode("append").save()
    // no defined intra-epoch winner — both 'a' rows persist, deterministically
    val rows = KvStore.readCurrent(spark, p, Seq("ip")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq
    assert(rows === Seq(("a", 1L), ("a", 2L), ("b", 3L)))
  }

  test("time travel: atEpoch reads the store as of a committed snapshot") {
    val p = tmp()
    def w(rows: (String, Long)*): Unit =
      rows.toDF("ip", "clicks").write.format("graft-kv").option("path", p)
        .mode("append").save()
    w(("a", 1L))
    w(("b", 2L))
    w(("c", 3L))
    def at(e: Long): Set[String] =
      spark.read.format("graft-kv").option("path", p).option("atEpoch", e.toString)
        .load().collect().map(_.getString(0)).toSet
    assert(at(0L) === Set("a"))
    assert(at(1L) === Set("a", "b"))
    assert(at(99L) === Set("a", "b", "c")) // future epoch = latest
    assert(KvStore.read(spark, p).count() === 3) // un-travel read unchanged
    // DSv2 options are case-insensitive: any casing selects the snapshot
    assert(spark.read.format("graft-kv").option("path", p).option("ATEPOCH", "0")
      .load().collect().map(_.getString(0)).toSet === Set("a"))
    // travel to vacuumed history fails loudly, never returns a silent empty
    KvStore.compact(spark, p, Seq("ip"))
    val e = intercept[Exception] {
      spark.read.format("graft-kv").option("path", p).option("atEpoch", "1").load().collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("compacted away"))
  }

  test("kv round trip preserves the verdict pipeline's results exactly") {
    val p = tmp()
    val verdicts = Seq(("172.20.0.1", 0L, "requests"), ("172.20.0.2", 0L, "categories"))
      .toDF("ip", "window_start_s", "reason")
    verdicts.write.format("graft-kv").option("path", p).mode("append").save()
    val back = KvStore.readCurrent(spark, p, Seq("ip", "window_start_s"))
    assert(back.collect().map(_.toSeq).toSet === verdicts.collect().map(_.toSeq).toSet)
  }

  test("optimistic concurrency: parallel commits all land, none lost") {
    import org.apache.spark.sql.types._
    val p = tmp()
    val schema = StructType(Seq(StructField("id", LongType)))
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
    def stage(content: String): String = {
      val f = new org.apache.hadoop.fs.Path(p,
        s"_staging/stage-t-${java.util.UUID.randomUUID()}.jsonl")
      fs.mkdirs(f.getParent)
      val out = fs.create(f, true)
      out.write(content.getBytes("UTF-8")); out.close()
      f.toString
    }
    // 16 concurrent writers race the commit CAS; under the old
    // last-writer-wins manifest rewrite most of these epochs vanished
    val threads = (0 until 16).map { i =>
      new Thread(() => KvStore.commitEpoch(conf, p, schema, s"writer:$i",
        Seq(stage(s"""{"id":$i}\n"""))))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val back = KvStore.read(spark, p)
    assert(back.count() === 16)
    // all 16 epochs committed, ordinals contiguous, one per writer
    val epochs = back.select("_epoch").collect().map(_.getLong(0)).sorted
    assert(epochs.toSeq === (0L until 16L))
    // replayed tags are still absorbed exactly-once under concurrency
    val replays = (0 until 16).map { i =>
      new Thread(() => KvStore.commitEpoch(conf, p, schema, s"writer:$i",
        Seq(stage(s"""{"id":$i}\n"""))))
    }
    replays.foreach(_.start()); replays.foreach(_.join())
    assert(KvStore.read(spark, p).count() === 16)
  }

  test("optimistic concurrency: compaction aborts instead of erasing a concurrent write") {
    import org.apache.spark.sql.types._
    val p = tmp()
    Seq((1L, "a")).toDF("k", "v").write.format("graft-kv").option("path", p).mode("append").save()
    Seq((2L, "b")).toDF("k", "v").write.format("graft-kv").option("path", p).mode("append").save()
    // simulate the race: a write lands AFTER compact resolved its input but
    // BEFORE its manifest commit — we can't pause compact mid-flight, so
    // drive the conflict check directly: compact against a manifest
    // snapshot that a concurrent commit then invalidates
    val before = KvStore.latestEpoch(p)
    Seq((3L, "c")).toDF("k", "v").write.format("graft-kv").option("path", p).mode("append").save()
    val after = KvStore.latestEpoch(p)
    assert(before !== after) // the manifest change compact's conflict check detects
    // normal (unraced) compaction still works and preserves every row
    KvStore.compact(spark, p, Seq("k"))
    val rows = KvStore.readCurrent(spark, p, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // compacted to ONE epoch
    assert(KvStore.read(spark, p).select("_epoch").distinct().count() === 1)
  }

  test("epoch changefeed: readStream tails committed epochs exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val p = tmp()
    val outDir = Files.createTempDirectory("graft-kv-feed-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-kv-feed-ck").toString
    Seq((1L, "a")).toDF("k", "v").write.format("graft-kv").option("path", p).mode("append").save()
    Seq((2L, "b")).toDF("k", "v").write.format("graft-kv").option("path", p).mode("append").save()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-kv").option("path", p).load()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    drain() // epochs 0 and 1
    assert(spark.read.parquet(outDir).count() === 2)
    // a new epoch lands; the next drain emits ONLY it (offsets from the
    // checkpoint), and already-fed epochs never re-emit
    Seq((3L, "c")).toDF("k", "v").write.format("graft-kv").option("path", p).mode("append").save()
    drain()
    val rows = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows === Set((1L, "a", 0L), (2L, "b", 1L), (3L, "c", 2L)))
    // idle drain: nothing new, nothing duplicated
    drain()
    assert(spark.read.parquet(outDir).count() === 3)
  }

  test("changefeed catch-up pacing: maxEpochsPerTrigger bounds each micro-batch") {
    import org.apache.spark.sql.streaming.Trigger
    val p = tmp()
    for (i <- 0 until 5)
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("path", p).mode("append").save()
    val outDir = Files.createTempDirectory("graft-kv-pace-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-kv-pace-ck").toString
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-kv").option("path", p)
      .option("maxEpochsPerTrigger", "2").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += b.count() }
        b.write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // 5 epochs drained in paced steps of <= 2 epochs (1 row each here),
    // reaching the AvailableNow frontier completely
    assert(spark.read.parquet(outDir).count() === 5)
    assert(batchSizes.forall(_ <= 2), batchSizes.toString)
    assert(batchSizes.length >= 3, batchSizes.toString)
  }

  test("changefeed after epoch rollback skips the yanked epoch") {
    import org.apache.spark.sql.streaming.Trigger
    val p = tmp()
    for (i <- 0 to 2)
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
        .write.format("graft-kv").option("path", p).mode("append").save()
    // roll back the poisoned middle epoch via the catalog DELETE machinery
    val conf = spark.sessionState.newHadoopConf()
    val table = new graft.sinks.v2.KvCatalogTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("t"), "t"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))),
      p, None)
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("_epoch", 1L)))
    val outDir = Files.createTempDirectory("graft-kv-rb-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-kv-rb-ck").toString
    val q = spark.readStream.format("graft-kv").option("path", p).load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // the rolled-back epoch has no segments to emit; neighbors unaffected
    assert(spark.read.parquet(outDir).collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(0L, 2L))
  }

  test("expireEpochs: retention folds old epochs, read-equivalent, floor errors, changefeed restates") {
    import org.apache.spark.sql.streaming.Trigger
    val p = tmp()
    // 5 epochs; keys overlap so first-write-wins crosses the future floor:
    // k=1 first lands in epoch 0 (folded) and again in epoch 4 (survivor);
    // k=10 only in folded history; k=3/4 only in survivors
    Seq((1L, "e0"), (10L, "old")).toDF("k", "v").coalesce(1)
      .write.format("graft-kv").option("path", p).mode("append").save()
    Seq((2L, "e1")).toDF("k", "v").coalesce(1)
      .write.format("graft-kv").option("path", p).mode("append").save()
    Seq((2L, "dup-e2")).toDF("k", "v").coalesce(1)
      .write.format("graft-kv").option("path", p).mode("append").save()
    Seq((3L, "e3")).toDF("k", "v").coalesce(1)
      .write.format("graft-kv").option("path", p).mode("append").save()
    Seq((1L, "dup-e4"), (4L, "e4")).toDF("k", "v").coalesce(1)
      .write.format("graft-kv").option("path", p).mode("append").save()
    // a changefeed consumer checkpoints after epoch 0, BEFORE retention
    val outDir = Files.createTempDirectory("graft-kv-ret-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-kv-ret-ck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-kv").option("path", p)
        .option("maxEpochsPerTrigger", "1").load()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    locally {
      val q = spark.readStream.format("graft-kv").option("path", p)
        .option("maxEpochsPerTrigger", "1").load()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).trigger(Trigger.Once()).start()
      q.awaitTermination(60000)
    }
    val preSnapshot = KvStore.readCurrent(spark, p, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val preAt2 = KvStore.readCurrent(spark, p, Seq("k"), atEpoch = Some(2L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // retention: keep the last 2 epochs -> floor 3, epochs 0..2 fold into
    // a restated base epoch 2
    KvStore.expireEpochs(spark, p, Seq("k"), keepLast = 2)
    val epochs = KvStore.read(spark, p).select("_epoch").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(epochs === Set(2L, 3L, 4L), s"expected folded base + survivors, got $epochs")
    // read-equivalence: current snapshot identical (k=1 keeps its epoch-0
    // value against the epoch-4 duplicate; k=10 survives the fold)
    val post = KvStore.readCurrent(spark, p, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(post === preSnapshot)
    assert(post.contains((1L, "e0")) && post.contains((10L, "old")))
    // time travel AT the floor reads the restated snapshot...
    val at2 = KvStore.readCurrent(spark, p, Seq("k"), atEpoch = Some(2L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(at2 === preAt2)
    // ...and BELOW the floor raises the named no-committed-state error
    val e = intercept[Exception](KvStore.readAt(spark, p, 1L).collect())
    assert(e.getMessage.contains("no committed state"), e.getMessage)
    // changefeed from the pre-retention checkpoint: the base epoch arrives
    // as ONE compacted restatement, survivors exactly-once, no crash
    drain()
    val fed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(fed.filter(_._3 == 2L).map(t => (t._1, t._2)) === preAt2,
      "base epoch must restate the folded history")
    assert(fed.contains((3L, "e3", 3L)) && fed.contains((4L, "e4", 4L)))
    // a second expire with nothing new to fold is a no-op
    KvStore.expireEpochs(spark, p, Seq("k"), keepLast = 2)
    assert(KvStore.read(spark, p).select("_epoch").distinct().count() === 3)
    // vacuum after the fold: folded segment files were deleted inline, so
    // only sweep-clean state remains and listed segments are untouched
    assert(KvStore.vacuum(p, graceMs = 0L) === 0L)
    assert(KvStore.readCurrent(spark, p, Seq("k")).count() === preSnapshot.size)
  }

  test("expireEpochs folds with nowS=None: an expired folded winner keeps shadowing later epochs") {
    val p = tmp()
    // epoch 0: k=1 already TTL-expired at read time; k=7 alive forever.
    // epoch 1: unrelated key (so the folded prefix has > 1 epoch).
    // epoch 2 (survivor): a LATER write to k=1 that first-write-wins must
    // keep shadowed even though the winner is expired — TTL is a read-time
    // filter, not a tombstone.
    Seq((1L, "expired-winner", 100L), (7L, "alive", 999999L))
      .toDF("k", "v", "expires_at_s").coalesce(1)
      .write.format("graft-kv").option("path", p).mode("append").save()
    Seq((2L, "e1", 999999L)).toDF("k", "v", "expires_at_s").coalesce(1)
      .write.format("graft-kv").option("path", p).mode("append").save()
    Seq((1L, "late-loser", 999999L)).toDF("k", "v", "expires_at_s").coalesce(1)
      .write.format("graft-kv").option("path", p).mode("append").save()
    def visible(): Set[(Long, String)] =
      KvStore.readCurrent(spark, p, Seq("k"), nowS = Some(500L)).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val pre = visible()
    assert(!pre.exists(_._1 == 1L), "expired winner must hide k=1 pre-fold")
    // fold epochs 0..1 into the base; the expired k=1 winner must SURVIVE
    // the fold (nowS=None semantics) so k=1 stays invisible after it
    KvStore.expireEpochs(spark, p, Seq("k"), keepLast = 1)
    assert(visible() === pre,
      "retention must be read-equivalent under TTL: folding away an " +
        "expired winner would un-shadow the later epoch's row")
    // the expired row itself is still in the store (visible with no TTL cut)
    assert(KvStore.readCurrent(spark, p, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      .contains((1L, "expired-winner")))
  }

  test("vacuum sweeps crash-leaked _commits versions past the keep tail") {
    val p = tmp()
    // 12 commits -> versions 1..12; mutateManifest's O(1) trim keeps 3..12
    (1 to 12).foreach(i => Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
      .write.format("graft-kv").option("path", p).mode("append").save())
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
    val commits = new org.apache.hadoop.fs.Path(p, "_commits")
    def versions(): Set[Long] = fs.listStatus(commits).map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json").toLong).toSet
    assert(versions() === (3L to 12L).toSet)
    // simulate the crash leak: a version file below the tail that the
    // crashed commit never deleted (plant it aged past any grace window)
    val leaked = new org.apache.hadoop.fs.Path(commits, f"${1L}%020d.json")
    val out = fs.create(leaked, true)
    out.write(fs.open(new org.apache.hadoop.fs.Path(commits, f"${3L}%020d.json"))
      .readAllBytes())
    out.close()
    fs.setTimes(leaked, System.currentTimeMillis() - 7200L * 1000, -1)
    assert(versions() === Set(1L) ++ (3L to 12L).toSet)
    // vacuum sweeps the leaked version (past the keep floor AND the grace
    // window) but never the live tail
    assert(KvStore.vacuum(p) === 1L)
    assert(versions() === (3L to 12L).toSet)
    assert(KvStore.readCurrent(spark, p, Seq("k")).count() === 12)
    // a second vacuum finds nothing; young files in the tail are untouched
    assert(KvStore.vacuum(p) === 0L)
  }

  test("vacuum sweeps aged orphans, never listed segments or young files") {
    val p = tmp()
    Seq((1L, "a")).toDF("k", "v").write.format("graft-kv").option("path", p).mode("append").save()
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(conf)
    def plant(name: String, ageMs: Long): org.apache.hadoop.fs.Path = {
      val f = new org.apache.hadoop.fs.Path(p, name)
      fs.mkdirs(f.getParent)
      val out = fs.create(f, true); out.write("{}".getBytes); out.close()
      fs.setTimes(f, System.currentTimeMillis() - ageMs, -1)
      f
    }
    val oldOrphan = plant("segments/seg-orphan-old.jsonl", 7200L * 1000)
    val youngOrphan = plant("segments/seg-orphan-new.jsonl", 60L * 1000)
    val oldStage = plant("_staging/stage-dead.jsonl", 7200L * 1000)
    // a CAS attempt that crashed between tmp-write and publish leaves its
    // temp in _commits/ forever (readers ignore dot-files) — vacuum's third
    // sweep reclaims aged ones, protects young ones, keeps version files
    val oldTmp = plant("_commits/.tmp-dead-cas-attempt", 7200L * 1000)
    val youngTmp = plant("_commits/.tmp-inflight-cas", 60L * 1000)
    assert(KvStore.vacuum(p) === 3L) // old orphan + old staging + old CAS tmp
    assert(!fs.exists(oldOrphan) && !fs.exists(oldStage) && !fs.exists(oldTmp))
    assert(fs.exists(youngOrphan), "grace window must protect in-flight files")
    assert(fs.exists(youngTmp), "grace window must protect in-flight CAS temps")
    // the committed row is untouched — listed segments are never swept
    assert(KvStore.read(spark, p).count() === 1)
    assert(KvStore.vacuum(p, graceMs = 0L) === 2L) // young files now aged out
    assert(KvStore.read(spark, p).count() === 1)
    // real (non-dot) version files survive even a zero-grace vacuum
    assert(KvStore.read(spark, p).count() === 1)
  }

  test("kv scans read through the columnar path (ColumnarToRow over BatchScan)") {
    val p = tmp()
    Seq((1L, "a", 1.5, true), (2L, null.asInstanceOf[String], -0.25, false))
      .toDF("k", "s", "d", "b")
      .write.format("graft-kv").option("path", p).mode("append").save()
    val df = KvStore.read(spark, p).select("k", "s", "d", "b")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    // values (incl. nulls and every supported type) survive the batch copy
    val rows = df.collect().sortBy(_.getLong(0))
    assert(rows(0).getLong(0) === 1L && rows(0).getString(1) === "a" &&
      rows(0).getDouble(2) === 1.5 && rows(0).getBoolean(3))
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) === -0.25 && !rows(1).getBoolean(3))
  }

  test("runtime filter injection prunes segments at execution (DPP contract)") {
    import org.apache.spark.sql.sources.{In, StringContains}
    val p = tmp()
    // three epochs with disjoint key ranges, one single-task segment each
    for (base <- Seq(0L, 100L, 200L))
      (base until base + 10L).map(k => (k, s"v$k")).toDF("k", "v")
        .coalesce(1).write.format("graft-kv").option("path", p).mode("append").save()
    val conf = spark.sessionState.newHadoopConf()
    val scan = new graft.sinks.v2.KvScan(p, conf)
    // the scan advertises every stored column (+ _epoch) as filterable
    val attrs = scan.filterAttributes().map(_.describe()).toSet
    assert(attrs === Set("k", "v", "_epoch"))
    assert(scan.toBatch.planInputPartitions().length === 3)
    // a join hands the scan its needed key set after the build side runs:
    // planInputPartitions — re-invoked by Spark post-filter — must shrink
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("k", Array(105L))))
    assert(scan.toBatch.planInputPartitions().length === 1)
    // an unsupported runtime filter is ignored (optimization contract:
    // absorbing nothing is always safe), restoring the full split set
    scan.filter(Array[org.apache.spark.sql.sources.Filter](StringContains("v", "x")))
    assert(scan.toBatch.planInputPartitions().length === 3)
    // end to end: a broadcast equi-join over the store stays correct with
    // runtime filtering available (whether or not Spark chooses to inject)
    val dim = Seq(105L, 205L).toDF("k")
    val joined = KvStore.read(spark, p).join(broadcast(dim), "k")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(joined === Set((105L, "v105"), (205L, "v205")))
  }
}
