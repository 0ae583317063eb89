package graftbench

import graft.SparkEntry

/**
 * Records the catalog expectation file the catalog workload checks against:
 * per query, the row count and result fingerprint, each collected in two
 * separate sessions. A query whose fingerprint differs between the two is
 * marked unstable and is checked by row count only. Also records one
 * materialized (noop write) time per query, for choosing the query set.
 *
 *   graftbench.Record --root <scratch> --data <sf dir> --cpus <n> --out <json>
 *     --queries <all | name,name,...>
 */
object Record {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(opts("root"), opts("data"), 0L, 0, trace = false, opts("cpus").toInt)
    val names =
      if (opts("queries") == "all") SparkEntry.queries.keys.toSeq.sorted
      else opts("queries").split(",").map(_.trim).toSeq
    def collectAll(spark: org.apache.spark.sql.SparkSession): Map[String, (Long, String)] =
      names.map { n =>
        val rows = SparkEntry.queries(n)(spark, ctx.dataDir).collect()
        spark.catalog.clearCache()
        n -> (rows.length.toLong, Catalog.fingerprint(rows))
      }.toMap
    var spark = Session.create(ctx)
    val first = collectAll(spark)
    spark.stop()
    spark = Session.create(ctx)
    val second = collectAll(spark)
    val ms = names.map(n => n -> Catalog.timeOnce(spark, ctx, n).fold(-1.0)(t => t._3 - t._1)).toMap
    spark.stop()
    val body = names.map { n =>
      val (rows, fp) = first(n)
      val stable = second(n) == first(n)
      s"""    ${Stats.jsonString(n)}: {"rows": $rows, "fingerprint": "$fp", "stable": $stable, """ +
        f""""ms": ${ms(n)}%.1f}"""
    }.mkString(",\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
      s"""{\n  "queries": {\n$body\n  }\n}\n""".getBytes("UTF-8"))
  }
}
