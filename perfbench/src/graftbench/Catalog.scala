package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/**
 * The catalog workload: `SparkEntry.queries` over the committed sf0.01
 * tables, one query at a time from a single client. Each timed result is
 * fully materialized by writing every column to Spark's `noop` sink, so no
 * output column can be pruned away (a `count()` lets Catalyst drop the
 * columns an operator exists to compute).
 */
object Catalog {

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Query family by name prefix, for the per-family wall-time split. */
  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    p match {
      case "k" => "kv"
      case "embed" => "embed"
      case "multimodal" | "image" | "audio" => "media"
      case "pipeline" => "pipeline"
      case "text" | "dedup" | "doc" | "ngram" | "c4" => "text_dedup"
      case _ => "relational"
    }
  }
  val Families: Seq[String] = Seq("relational", "text_dedup", "embed", "media", "pipeline", "kv")

  final case class Expect(rows: Long, fingerprint: String, stable: Boolean)

  def loadExpected(path: String): Seq[(String, Expect)] = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    root.get("queries").properties().asScala.toSeq.map { e =>
      val v = e.getValue
      e.getKey -> Expect(v.get("rows").asLong(), v.get("fingerprint").asText(),
        v.get("stable").asBoolean())
    }
  }

  /** Order-insensitive fingerprint of a result: a 64-bit sum of per-row
   * hashes over a canonical rendering, doubles rounded to 6 significant
   * digits so summation order cannot change it. */
  def fingerprint(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => canonDouble(d)
      case f: Float => canonDouble(f.toDouble)
      case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case o => o.toString
    }
    def canonDouble(d: Double): String =
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else if (d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros()
        .toString
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9a17)
      sum += (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
    }
    f"$sum%016x"
  }

  /** Set-up: a fresh session with graft's extensions, every table loaded
   * through `Tables.load` and scanned once. */
  def setupOnce(ctx: Ctx, old: SparkSession): (SparkSession, Double) = {
    val t0 = Session.nowMs()
    old.stop()
    val spark = Session.create(ctx)
    TableNames.foreach(t => Tables.load(spark, ctx.dataDir, t).count())
    (spark, (Session.nowMs() - t0) / 1000.0)
  }

  /** The untimed pass: each query's rows collected and compared with the
   * expectation (row count always; fingerprint when it repeats run to run).
   * Returns the names that failed. */
  def check(spark: SparkSession, ctx: Ctx, expected: Seq[(String, Expect)]): Seq[String] =
    expected.flatMap { case (name, exp) =>
      val ok = scala.util.Try {
        val rows = SparkEntry.queries(name)(spark, ctx.dataDir).collect()
        rows.length == exp.rows && (!exp.stable || fingerprint(rows) == exp.fingerprint)
      }.getOrElse(false)
      spark.catalog.clearCache()
      if (ok) None else { Main.log(s"catalog check failed: $name"); Some(name) }
    }

  /** One timed query as (start, build end, end) in epoch ms, or None when
   * it throws. The build is the call into the SparkEntry query function
   * (which runs any driver-route collects); the rest is the noop write of
   * every column, planning included. */
  def timeOnce(spark: SparkSession, ctx: Ctx, name: String): Option[(Double, Double, Double)] = {
    val t0 = Session.nowMs()
    val out = scala.util.Try {
      val df: DataFrame = SparkEntry.queries(name)(spark, ctx.dataDir)
      val t1 = Session.nowMs()
      df.write.format("noop").mode("overwrite").save()
      (t0, t1, Session.nowMs())
    }
    spark.catalog.clearCache()
    out.toOption
  }
}
