package graftbench

/**
 * The run the build makes once to record the JVM's class-data sharing
 * archive (`-XX:ArchiveClassesAtExit`): it loads the classes the workloads
 * use by bringing the streaming chain up once and collecting every catalog
 * query in the expectation file. Later runs map the archive instead of
 * loading and verifying those classes again.
 *
 *   graftbench.Train --root <scratch> --data <sf dir> --expected <json> --cpus <n>
 */
object Train {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(opts("root"), opts("data"), 0L, 1, trace = false, opts("cpus").toInt)
    val spark = Session.create(ctx)
    try {
      Streams.setupOnce(ctx, spark, 0)
      Catalog.check(spark, ctx, Catalog.loadExpected(opts("expected")))
    } finally spark.stop()
  }
}
