package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM (Test/fork := true). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 2]: maxFailures=2 — task retry ON, as on any real cluster
      // (plain local[4] aborts the job on the first task failure, which
      // would make executor-side retry paths untestable; a deterministic
      // task bug still fails the job — it just fails twice)
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s) // engine-on config: functions + optimizer rules
    s
  }

  /** `f`'s result and the number of Spark jobs it started. Jobs are told
   * apart by a job group set for `f` (inherited by the threads Spark SQL
   * submits from), so stray events of earlier actions are not counted. */
  def countJobs[A](f: => A): (A, Int) = {
    val group = s"count-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val r = f
      Thread.sleep(500L) // settle the async listener bus (SkewAudit idiom)
      (r, n.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** Runs `f` with session conf `key` set to `value`, then unsets it. */
  def withConf[A](key: String, value: String)(f: => A): A = {
    spark.conf.set(key, value)
    try f finally spark.conf.unset(key)
  }
}
