package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DriverRoute

/** Both branches of every size-gated route, catalog-wide: each catalog
 * query that reaches [[DriverRoute.boundedCollect]] runs at sf0.001 once
 * with the default bound (every one of them takes the driver-local branch
 * there) and once with the bound at 0 (distributed), and must return the
 * same rows. */
class DriverRouteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  // the smoke corpus (sf0.001) that SparkEntry.entry reads
  private lazy val sfDir = new java.io.File(
    new java.net.URI(SparkEntry.entry(spark).inputFiles.head).getPath).getParent

  // every catalog query whose plan building calls DriverRoute.boundedCollect
  private val routed = Seq(
    "q_pagerank",                                      // LinkAnalysis.pageRank
    "q_bpe_encode", "q_bpe_merges",                    // Tokenize.bpeTrain
    "dedup_clusters", "image_dedup_canonical",         // Dedup.clusterPairs
    "pipeline_image_curate",
    "embed_ivf_stats", "embed_celldup",                // Similarity.seedFarthestFirst
    "embed_decontaminate")

  /** The rows as the oracle compare sees them: columns in name order, rows
   * sorted, values exact. */
  private def rowSet(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq

  routed.foreach { name =>
    test(s"$name: the distributed branch returns the driver-local branch's rows") {
      val query = SparkEntry.queries(name)
      try {
        val (local, localJobs) = TestSpark.countJobs(rowSet(query(spark, sfDir)))
        spark.catalog.clearCache()
        val (dist, distJobs) = TestSpark.withConf(DriverRoute.maxRowsKey, "0")(
          TestSpark.countJobs(rowSet(query(spark, sfDir))))
        assert(local.nonEmpty, s"$name returned no rows")
        assert(dist === local)
        // the distributed rounds are jobs the one-collect local branch does
        // not schedule: equal counts would mean the bound changed nothing
        assert(distJobs > localJobs,
          s"$name: distributed branch did not run ($distJobs jobs vs $localJobs local)")
      } finally spark.catalog.clearCache()
    }
  }
}
