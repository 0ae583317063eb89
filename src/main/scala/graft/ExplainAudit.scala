package graft

import org.apache.spark.sql.SparkSession

/**
 * Plan audit: dump formatted physical plans of selected queries so shuffle
 * count, pushdown, broadcast choice and whole-stage-codegen spans can be
 * reviewed (run: tools/run.sh graft.ExplainAudit [queryName ...]).
 */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_NO_BROADCAST=1: disable auto-broadcast to preview the
    // AT-SCALE plan shape (what a join degrades to when its build side no
    // longer fits the broadcast threshold at 100× the data)
    val bcast =
      if (sys.env.get("SPARK_GRAFT_NO_BROADCAST").contains("1")) "-1" else "10485760"
    // the session Bench and Verify run: SPARK_GRAFT_CPUS cores (and
    // SPARK_GRAFT_MASTER) through ClusterMode, the catalog's object-hash
    // threshold and the engine's functions and optimizer rules
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = ClusterMode.configure(SparkSession.builder(), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", bcast)
      .config("spark.ui.enabled", "false")
      .config("spark.graft.objectHashFallbackThreshold", (1 << 22).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
    }
    spark.stop()
  }
}
