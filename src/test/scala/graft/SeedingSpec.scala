package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SeedingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def seedsOf(df: org.apache.spark.sql.DataFrame, nCells: Int): Seq[Any] =
    Similarity.seedFarthestFirst(df, "vec_id", "embedding", nCells)
      .orderBy("cell_id").collect().map(_.get(0)).toSeq

  /** Seeds from the driver-local route (default bound) and from the
   * distributed rounds (bound 0). The distributed rounds must really run:
   * each seed they elect costs at least one job that the local route's
   * single collect does not schedule. */
  private def bothRoutes(df: org.apache.spark.sql.DataFrame,
      nCells: Int): (Seq[Any], Seq[Any]) = {
    val (local, localJobs) = TestSpark.countJobs(seedsOf(df, nCells))
    val (dist, distJobs) = TestSpark.withConf("spark.graft.driverRouteMaxRows", "0")(
      TestSpark.countJobs(seedsOf(df, nCells)))
    assert(distJobs >= localJobs + dist.size,
      s"distributed rounds did not run: $distJobs jobs vs $localJobs local")
    (local, dist)
  }

  test("driver-local fast path elects the same seeds as the distributed rounds") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    for (nCells <- Seq(4, 16)) {
      val (local, dist) = bothRoutes(e, nCells)
      assert(local === dist, s"seed divergence at nCells=$nCells")
    }
  }

  test("path equality holds with ties and zero-norm vectors") {
    // v4/v5 are identical (tie on similarity -> id break), v6 is zero-norm
    // (NaN cosine poisons the max exactly like the codegen'd expression)
    val df = Seq(
      (10L, Seq(1f, 0f)), (11L, Seq(0f, 1f)), (12L, Seq(-1f, 0f)),
      (13L, Seq(0.6f, 0.8f)), (14L, Seq(0.6f, 0.8f)), (15L, Seq(0f, 0f))
    ).toDF("vec_id", "embedding")
    val (local, dist) = bothRoutes(df, 4)
    assert(local === dist)
  }

  test("sample smaller than nCells returns every candidate once, both paths") {
    val df = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val (local, dist) = bothRoutes(df, 8)
    assert(local === Seq(1L, 2L))
    assert(dist === Seq(1L, 2L))
  }

  test("string ids order by UTF-8 bytes on both paths") {
    val df = Seq(
      ("b", Seq(1f, 0f)), ("a", Seq(0f, 1f)), ("c", Seq(-1f, 0f))
    ).toDF("vec_id", "embedding")
    val (local, dist) = bothRoutes(df, 2)
    assert(local === dist)
  }
}
