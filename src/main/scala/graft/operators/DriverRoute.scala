package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * The driver-local route shared by the size-gated operators
 * ([[Dedup.clusterPairs]], [[LinkAnalysis.pageRank]], [[Tokenize.bpeTrain]],
 * [[Similarity.seedFarthestFirst]]). Each runs k synchronized rounds; on a
 * small input every round is a scheduler round-trip whose fixed
 * coordination cost dwarfs its compute (Drizzle, SOSP'17), so below one
 * session bound the input is collected ONCE and the rounds run on the
 * driver. The distributed rounds stay the route for everything else, and
 * the two routes are output-identical: which one ran is invisible in the
 * result.
 *
 * The bound is `spark.graft.driverRouteMaxRows` (default 2^20 rows). 0
 * forces every size-gated route distributed; like any `spark.*` key it can
 * also be set as a JVM system property
 * (`-Dspark.graft.driverRouteMaxRows=0`).
 */
object DriverRoute {
  val maxRowsKey = "spark.graft.driverRouteMaxRows"

  /** `df`'s rows when it has at most `maxRows` of them and at most the
   * session bound, and no null in any column (each caller projects exactly
   * its key columns, and its local route cannot place a null key where the
   * distributed joins would drop it). One probe: `limit(max + 1).collect()`
   * — a count-first probe would cost every small input a second job. None
   * on overflow, on a null, or when the bound is 0: take the distributed
   * route. */
  def boundedCollect(df: DataFrame, maxRows: Long = Long.MaxValue): Option[Array[Row]] = {
    // clamped so `max + 1` cannot overflow limit's Int
    val max = Seq(maxRows, Int.MaxValue - 1L, df.sparkSession.conf.getOption(maxRowsKey)
      .map(_.toLong).getOrElse(1L << 20)).min
    if (max <= 0) None
    else {
      val rows = df.limit(max.toInt + 1).collect()
      if (rows.length > max || rows.exists(r => (0 until r.length).exists(r.isNullAt))) None
      else Some(rows)
    }
  }

  /** A driver-computed result re-entered as a `LocalRelation`: the
   * optimizer knows its size, and broadcasting it to a downstream join
   * needs no job (an RDD re-entry costs one). */
  def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
