package graftbench

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Everything a workload needs to know about its run. `root` is the
 * benchmark's scratch directory inside the checkout. */
final case class Ctx(root: String, dataDir: String, seed: Long, seconds: Int,
    trace: Boolean, cpus: Int) {
  def tmp(name: String): String = {
    val d = new java.io.File(root, name)
    if (d.exists()) Session.deleteRecursively(d)
    d.mkdirs()
    d.getAbsolutePath
  }
}

object Session {

  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  /** Wall clock in epoch milliseconds with nanoTime resolution, comparable
   * with the millisecond timestamps Spark's listener events carry. */
  def nowMs(): Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  def create(ctx: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(ctx.root, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(ctx.root, "warehouse").getAbsolutePath)
      // every trigger of a run stays readable through recentProgress
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // the generated-code cache holds every class the catalog's query set
      // compiles (about 130), so a query that runs again reuses its classes
      // instead of compiling them anew each time the set cycles past
      // Spark's default of 100 entries
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // the catalog's grouped collects are small bounded sets (as in graft.Bench)
      .config("spark.graft.objectHashFallbackThreshold", (1 << 22).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    spark
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MiB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** The fixed synthetic aggregate `graft.Bench` probes host speed with: a
   * 20M-row hash aggregate that touches no benchmark input. */
  def sentinelMs(spark: SparkSession): Double = {
    val t0 = nowMs()
    spark.range(0, 20000000L, 1, 32)
      .selectExpr("id", "xxhash64(id) h", "cast(id % 97 as string) k")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("h"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .count()
    nowMs() - t0
  }
}
