package graft

import org.apache.spark.sql.Row

import graft.pipeline.Pipeline

/** Golden semantics of A8 subtile aggregation
  * (reference: tests/unit/test_subtile_aggregation.py:19-52 — same input
  * lat/lng rows, same expected zoom-14 subtiles and sums). */
class SubtileSpec extends SparkSpec {

  test("zoom-14 subtile aggregation golden values") {
    val in = df(
      "timestamp LONG, country STRING, lat DOUBLE, lng DOUBLE, feature STRING, " +
        "t_sum DOUBLE, t_mean DOUBLE", Seq(
        Row(0L, "Ethiopia", 10.168, 40.646, "feature1", 4.0, 2.0),
        Row(0L, "Ethiopia", 10.167, 40.645, "feature1", 12.0, 6.0),
        Row(0L, "Ethiopia", 10.166, 40.644, "feature1", 80.0, 40.0),
        Row(0L, "South Sudan", 9.55, 31.65, "feature1", 60.0, 30.0),
        Row(0L, "South Sudan", 9.555, 31.655, "feature1", 60.0, 30.0),
        Row(1L, "Ethiopia", 10.168, 40.646, "feature1", 6.0, 3.0),
        Row(1L, "Ethiopia", 10.167, 40.645, "feature1", 14.0, 7.0),
        Row(1L, "Ethiopia", 10.166, 40.644, "feature1", 60.0, 30.0),
        Row(1L, "South Sudan", 9.55, 31.65, "feature1", 80.0, 0.8),
        Row(1L, "South Sudan", 9.555, 31.655, "feature1", 10.0, 1.0),
        Row(1L, "South Sudan", 9.55, 31.65, "feature2", 180.0, 1.8)))

    val out = Pipeline.subtileAgg(in)
      .selectExpr("feature", "timestamp", "z", "x", "y",
        "round(s_sum_t_sum, 6)", "round(s_sum_t_mean, 6)", "s_count")
    assert(rowSet(out) === Set(
      Seq("feature1", 0L, 14, 10041, 7726, 96.0, 48.0, 3L),
      Seq("feature1", 0L, 14, 9632, 7755, 120.0, 60.0, 2L),
      Seq("feature1", 1L, 14, 10041, 7726, 80.0, 40.0, 3L),
      Seq("feature1", 1L, 14, 9632, 7755, 90.0, 1.8, 2L),
      Seq("feature2", 1L, 14, 9632, 7755, 180.0, 1.8, 1L)))
  }

  test("grid stats CSVs are byte-identical to the compute_stats goldens") {
    // reference: tests/unit/test_compute_stats.py:24-97 — same 8 subtile
    // rows, same expected per-(feature, timestamp) stats/grid CSVs
    val subtiles = df(
      "feature STRING, timestamp LONG, z INT, x INT, y INT, " +
        "s_sum_t_sum DOUBLE, s_sum_t_mean DOUBLE, s_count LONG", Seq(
        Row("F1", 0L, 14, 10041, 7726, 96.0, 48.0, 3L),
        Row("F1", 0L, 14, 9632, 7755, 120.0, 60.0, 2L),
        Row("F1", 1L, 14, 10041, 7726, 80.0, 40.0, 3L),
        Row("F1", 1L, 14, 9632, 7755, 90.0, 1.8, 2L),
        Row("F2", 0L, 14, 10041, 7726, 96.0, 48.0, 3L),
        Row("F2", 0L, 14, 9632, 7755, 120.0, 60.0, 2L),
        Row("F2", 1L, 14, 10041, 7726, 80.0, 40.0, 3L),
        Row("F2", 1L, 14, 9632, 7755, 90.0, 1.8, 2L)))
    val dir = SparkSpec.tempDir("graftgrid").toString
    val n = Pipeline.gridStats(subtiles,
      graft.pipeline.PipelineConfig("model-id-1", "run-id-1", Seq("unused")),
      "month", graft.io.FileWriter(dir))
    assert(n === 4) // (F1, F2) x (0, 1)

    val header = "zoom,min_s_sum_t_sum,max_s_sum_t_sum,min_s_sum_t_mean," +
      "max_s_sum_t_mean,min_s_mean_t_sum,max_s_mean_t_sum,min_s_mean_t_mean,max_s_mean_t_mean"
    def csv(rel: String): String =
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, rel))
    def expected(rows: Int => String): String =
      (header +: (6 to 14).map(rows)).mkString("", "\n", "\n")
    val ts0 = expected(z => s"$z,96.0,120.0,48.0,60.0,32.0,60.0,16.0,30.0")
    val ts1 = expected(z =>
      s"$z,80.0,90.0,1.8,40.0,26.666666666666668,45.0,0.9,13.333333333333334")
    assert(csv("model-id-1/run-id-1/month/F1/stats/grid/0.csv") === ts0)
    assert(csv("model-id-1/run-id-1/month/F1/stats/grid/1.csv") === ts1)
    assert(csv("model-id-1/run-id-1/month/F2/stats/grid/0.csv") === ts0)
    assert(csv("model-id-1/run-id-1/month/F2/stats/grid/1.csv") === ts1)
  }
}
