package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.io.FileWriter
import graft.operators.Qualifiers
import graft.pipeline.{Pipeline, PipelineConfig}

/** Golden semantics of the pipeline output stages against the reference's
  * expected artifacts (tests/unit/test_compute_regional_timeseries.py:31-120,
  * test_compute_regional_stats.py:28-169). */
class PipelineStagesSpec extends SparkSpec {

  private val schema =
    "timestamp LONG, country STRING, admin1 STRING, admin2 STRING, admin3 STRING, " +
      "feature STRING, t_sum DOUBLE, t_mean DOUBLE"

  private def fixture = df(schema, Seq(
    Row(0L, "A", "AA", "AAA", "AAAA", "F1", 4.0, 2.0),
    Row(0L, "A", "AA", "AAA", "AAAA", "F1", 10.0, 5.0),
    Row(0L, "A", "AA", "AAB", "AABD", "F1", 8.0, 4.0),
    Row(0L, "A", "AA", "AAB", "AABE", "F1", 3.0, 1.0),
    Row(0L, "B", "BA", "BAB", "BABB", "F1", 60.0, 30.0),
    Row(0L, "B", "BB", "BBB", "BBBB", "F1", 10.0, 2.0),
    Row(1L, "A", "AA", "AAA", "AAAA", "F1", 2.0, 1.0),
    Row(1L, "A", "AA", "AAA", "AAAA", "F1", 4.0, 1.0),
    Row(1L, "A", "AA", "AAB", "AABD", "F1", 8.0, 2.0),
    Row(1L, "A", "AA", "AAB", "AABE", "F1", 10.0, 2.0),
    Row(1L, "B", "BA", "BAB", "BABB", "F1", 90.0, 30.0),
    Row(1L, "B", "BB", "BBB", "BBBB", "F1", 80.0, 20.0),
    Row(1L, "A", "AA", "AAA", "AAAA", "F2", 4.0, 2.0),
    Row(1L, "A", "AA", "AAA", "AAAA", "F2", 10.0, 5.0)))

  private val regionCols = Seq("country", "admin1", "admin2", "admin3")
  private def cfg = PipelineConfig("model-id-1", "run-id-1", Seq("unused"))

  test("regional timeseries: one CSV per (feature, region) with golden values") {
    val dir = SparkSpec.tempDir("graftrts").toString
    Pipeline.regionalTimeseries(fixture, regionCols, Seq.empty, Map.empty,
      Map.empty, "", cfg, "month", FileWriter(dir))

    def read(rel: String) = Files.readString(Paths.get(dir, rel))
    assert(read("model-id-1/run-id-1/month/F1/regional/country/timeseries/default/A.csv") ===
      "timestamp,s_sum_t_sum,s_mean_t_sum,s_sum_t_mean,s_mean_t_mean,s_count\n" +
        "0,25.0,6.25,12.0,3.0,4\n" +
        "1,24.0,6.0,6.0,1.5,4\n")
    assert(read("model-id-1/run-id-1/month/F1/regional/country/timeseries/default/B.csv") ===
      "timestamp,s_sum_t_sum,s_mean_t_sum,s_sum_t_mean,s_mean_t_mean,s_count\n" +
        "0,70.0,35.0,32.0,16.0,2\n" +
        "1,170.0,85.0,50.0,25.0,2\n")
    assert(read("model-id-1/run-id-1/month/F2/regional/country/timeseries/default/A.csv") ===
      "timestamp,s_sum_t_sum,s_mean_t_sum,s_sum_t_mean,s_mean_t_mean,s_count\n" +
        "1,14.0,7.0,7.0,3.5,2\n")
    assert(read("model-id-1/run-id-1/month/F1/regional/admin1/timeseries/default/B__BB.csv") ===
      "timestamp,s_sum_t_sum,s_mean_t_sum,s_sum_t_mean,s_mean_t_mean,s_count\n" +
        "0,10.0,10.0,2.0,2.0,1\n" +
        "1,80.0,80.0,20.0,20.0,1\n")
    assert(read("model-id-1/run-id-1/month/F1/regional/admin3/timeseries/default/A__AA__AAA__AAAA.csv") ===
      "timestamp,s_sum_t_sum,s_mean_t_sum,s_sum_t_mean,s_mean_t_mean,s_count\n" +
        "0,14.0,7.0,7.0,3.5,2\n" +
        "1,6.0,3.0,2.0,1.0,2\n")
  }

  test("regional stats: extrema entries match the reference goldens") {
    val dir = SparkSpec.tempDir("graftstats").toString
    // extended fixture with a third timestamp, as in the reference test
    val in = df(schema, fixture.collect().toSeq ++ Seq(
      Row(2L, "A", "AA", "AAA", "AAAA", "F1", 20.0, 10.0),
      Row(2L, "A", "AA", "AAA", "AAAA", "F1", 40.0, 20.0),
      Row(2L, "A", "AA", "AAB", "AABD", "F1", 4.0, 2.0),
      Row(2L, "A", "AA", "AAB", "AABE", "F1", 6.0, 2.0),
      Row(2L, "B", "BA", "BAB", "BABB", "F1", 40.0, 10.0),
      Row(2L, "B", "BB", "BBB", "BBBB", "F1", 300.0, 10.0)))
      // drop the F2 rows (the reference stats fixture has different F2 data)
      .filter("feature = 'F1'")
    Pipeline.regionalStats(in, regionCols, "", cfg, "month", FileWriter(dir))

    def entries(rel: String, kind: String, aggCol: String): Set[(String, Long, Double)] = {
      val json = Files.readString(Paths.get(dir, rel))
      // minimal extraction: the renderer writes deterministic key order
      val section = json.split("\"" + kind + "\": ")(1)
      val arr = section.split("\"" + aggCol + "\": \\[")(1).split("\\]")(0)
      if (arr.trim.isEmpty) Set.empty
      else "\\{[^}]*\\}".r.findAllIn(arr).map { obj =>
        val rid = "\"region_id\": \"([^\"]+)\"".r.findFirstMatchIn(obj).get.group(1)
        val ts = "\"timestamp\": (\\d+)".r.findFirstMatchIn(obj).get.group(1).toLong
        val v = "\"value\": ([-0-9.E]+)".r.findFirstMatchIn(obj).get.group(1).toDouble
        (rid, ts, v)
      }.toSet
    }
    val countryFile = "model-id-1/run-id-1/month/F1/regional/country/stats/default/extrema.json"
    // reference golden (test_compute_regional_stats.py:66-72)
    assert(entries(countryFile, "min", "s_sum_t_sum") === Set(("A", 1L, 24.0)))
    assert(entries(countryFile, "min", "s_mean_t_mean") === Set(("A", 1L, 1.5)))
    assert(entries(countryFile, "max", "s_sum_t_sum") === Set(("B", 2L, 340.0)))
    assert(entries(countryFile, "max", "s_sum_t_mean") === Set(("B", 1L, 50.0)))

    val admin1File = "model-id-1/run-id-1/month/F1/regional/admin1/stats/default/extrema.json"
    assert(entries(admin1File, "min", "s_sum_t_sum") === Set(("B__BB", 0L, 10.0)))
    assert(entries(admin1File, "max", "s_mean_t_mean") ===
      Set(("B__BA", 1L, 30.0), ("B__BA", 0L, 30.0)))
  }

  test("regional stats: extrema lists are capped at 20 rows") {
    val dir = SparkSpec.tempDir("graftcap").toString
    val rows = (1 to 22).map(t =>
      Row(t.toLong, "A", "AA", "AAA", "AAAA", "F2", 10.0, 2.0))
    Pipeline.regionalStats(df(schema, rows), regionCols, "", cfg, "year", FileWriter(dir))
    val json = Files.readString(Paths.get(dir,
      "model-id-1/run-id-1/year/F2/regional/country/stats/default/extrema.json"))
    val nMin = "\\{\"region_id\"".r.findAllIn(json).length
    // 4 agg columns x {min,max} x 20 cap = 160 entries, not 4 x 2 x 22
    assert(nMin === 160)
  }

  test("regional timeseries qualifier suppression above max level") {
    val dir = SparkSpec.tempDir("graftsupp").toString
    val in = fixture.withColumn("qual1", org.apache.spark.sql.functions.lit("qx"))
    Pipeline.regionalTimeseries(in, regionCols, Seq("qual1"),
      Map("F1" -> Seq("qual1"), "F2" -> Seq("qual1")),
      Map("F1" -> Map("qual1" -> 1L), "F2" -> Map("qual1" -> 1L)), "",
      cfg, "month",
      FileWriter(dir))
    // qualifier breakdowns exist at country (level 0) and admin1 (level 1)...
    assert(Files.exists(Paths.get(dir,
      "model-id-1/run-id-1/month/F1/regional/country/timeseries/qualifiers/qual1/qx/A.csv")))
    assert(Files.exists(Paths.get(dir,
      "model-id-1/run-id-1/month/F1/regional/admin1/timeseries/qualifiers/qual1/qx/A__AA.csv")))
    // ...but are suppressed at admin2+ (regional_timeseries_max_level = 1)
    assert(!Files.exists(Paths.get(dir,
      "model-id-1/run-id-1/month/F1/regional/admin2/timeseries/qualifiers/qual1/qx/A__AA__AAA.csv")))
    // default timeseries still present at admin2
    assert(Files.exists(Paths.get(dir,
      "model-id-1/run-id-1/month/F1/regional/admin2/timeseries/default/A__AA__AAA.csv")))
  }
}
