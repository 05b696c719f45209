package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row

import graft.operators.Qualifiers
import graft.pipeline.{OutputTask, Pipeline, PipelineConfig}

/** The reference's curated local parameter matrix, ported end-to-end
  * (flows/run_flow_local.py:9-213 — 13 parameter sets whose REMOTE inputs
  * are unreachable here, so each case reproduces the config + data SHAPE
  * on a synthetic fixture and asserts the output tree against
  * doc/minio-folder-structure.md):
  *
  *  - set 0  geo tiling data, all five output tasks selected
  *  - set 2  indicator with a multi-qualifier map → indicator bucket
  *  - sets 3/4  multi-file ingest with column drift + qualifier
  *    thresholds + unit-bracket feature names with empty qualifier lists
  *  - sets 5/9/10  invalid / missing timestamps with fill_timestamp
  *  - sets 6/7/8  weight column with tiles deselected
  *  - set 11  raw_count_threshold gating with no weight column
  *  - set 12  dataset with no region columns at all
  */
class ParameterMatrixSpec extends SparkSpec {

  private def tmp(tag: String): String =
    SparkSpec.tempDir(s"graftpm$tag").toString

  private def p(parts: String*): Path = Paths.get(parts.head, parts.tail: _*)

  private def geoRows: Seq[Row] = Seq(
    Row(ts("2022-01-01"), "A", "AA", 10.1, 40.6, "F1", 1.0, "qa"),
    Row(ts("2022-01-15"), "A", "AA", 10.1, 40.6, "F1", 3.0, "qb"),
    Row(ts("2022-02-02"), "A", "AB", 9.5, 31.6, "F1", 5.0, "qa"),
    Row(ts("2022-02-02"), "B", "BA", -9.5, -31.6, "F1", 7.0, "qa"),
    Row(ts("2023-03-05"), "B", "BB", 0.5, 0.5, "F2", 4.0, "qb"))

  private val geoSchema =
    "timestamp LONG, country STRING, admin1 STRING, lat DOUBLE, lng DOUBLE, " +
      "feature STRING, value DOUBLE, qual1 STRING"

  /** Set 0's input, written under `out`, and its config. */
  private def geoConfig(out: String): PipelineConfig = {
    val input = s"$out/input"
    df(geoSchema, geoRows).write.parquet(input)
    PipelineConfig("geo-test-data", "test-run-1", Seq(input),
      qualifierMap = Map("F1" -> Seq("qual1")),
      selectedOutputTasks = OutputTask.All,
      destType = "file", modelBucket = s"$out/bucket")
  }

  test("set 0: geo tiling data with all output tasks selected") {
    val out = tmp("geo")
    val r = Pipeline.run(spark, geoConfig(out))
    assert(r.numRows === 5)
    val b = s"$out/bucket/geo-test-data/test-run-1"
    assert(Files.exists(p(b, "month/F1/timeseries/global/global.csv")))
    assert(Files.exists(p(b, "month/F1/regional/country/stats/default/extrema.json")))
    assert(Files.exists(p(b, "month/F1/regional/admin1/timeseries/default/A__AA.csv")))
    val tiles = p(b, "month/F1/tiles")
    assert(Files.exists(tiles) && Files.list(tiles).count() > 0)
    // an explicit all-five selection still records results (the skip matrix
    // treats it as "everything", reference configure_pipeline)
    assert(Files.exists(p(b, "results/results.json")))
  }

  test("set 0: results.json is byte-identical at 1 and 7 shuffle partitions") {
    // AQE would coalesce the 7 partitions of these few rows back to one
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    def results(partitions: Int): String = {
      spark.conf.set(keys(0), partitions.toLong)
      spark.conf.set(keys(1), false)
      val out = tmp(s"geo$partitions")
      Pipeline.run(spark, geoConfig(out))
      Files.readString(p(s"$out/bucket/geo-test-data/test-run-1", "results/results.json"))
    }
    try assert(results(1) === results(7))
    finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("set 2: indicator with multi-qualifier map lands in the indicator bucket") {
    val out = tmp("ind")
    val input = s"$out/input"
    df(
      "timestamp LONG, country STRING, feature STRING, value DOUBLE, " +
        "event_type STRING, source_scale STRING",
      Seq(
        Row(ts("2022-01-01"), "A", "fatalities", 1.0, "riot", "local"),
        Row(ts("2022-01-02"), "A", "fatalities", 2.0, "battle", "national"),
        Row(ts("2022-02-01"), "B", "fatalities", 3.0, "riot", "local")))
      .write.parquet(input)
    val cfg = PipelineConfig("_qualifier-test", "indicator", Seq(input),
      isIndicator = true,
      qualifierMap = Map("fatalities" -> Seq("event_type", "source_scale")),
      destType = "file",
      modelBucket = s"$out/models", indicatorBucket = s"$out/indicators")
    Pipeline.run(spark, cfg)
    val b = s"$out/indicators/_qualifier-test/indicator"
    assert(!Files.exists(Paths.get(s"$out/models")), "indicator must not write to the model bucket")
    for (q <- Seq("event_type", "source_scale")) {
      assert(Files.exists(p(b, s"month/fatalities/timeseries/qualifiers/$q/s_sum_t_sum.csv")))
      assert(Files.exists(p(b, s"raw/fatalities/info/qualifiers/$q.json")))
    }
    // indicator runs skip the output summary (compute_summary = !is_indicator)
    val results = Files.readString(p(b, "results/results.json"))
    assert(!results.contains("output_agg_values"))
    assert(results.contains("\"num_rows\": 3"))
  }

  test("sets 3/4: multi-file column drift, qualifier thresholds, unit-bracket features") {
    val out = tmp("drift")
    val (in1, in2) = (s"$out/in1", s"$out/in2")
    // file 1 carries qual "Year"; file 2 lacks it (schema drift across parts)
    df(
      "timestamp LONG, country STRING, feature STRING, value DOUBLE, Year STRING",
      Seq(
        Row(ts("2022-01-01"), "A", "Production [mt]", 10.0, "2022"),
        Row(ts("2022-01-02"), "A", "Production [mt]", 11.0, "2023"),
        Row(ts("2022-01-03"), "B", "export [kcal]", 5.0, "2022")))
      .write.parquet(in1)
    df(
      "timestamp LONG, country STRING, feature STRING, value DOUBLE",
      Seq(Row(ts("2022-02-01"), "B", "export [kcal]", 7.0)))
      .write.parquet(in2)
    val cfg = PipelineConfig("84fd427f", "f2818712", Seq(in1, in2),
      qualifierMap = Map(
        "Production [mt]" -> Seq("Year"),
        "export [kcal]" -> Seq.empty), // empty list = no breakdowns (set 4)
      thresholds = Qualifiers.Thresholds(
        maxCount = 10000, regionalTimeseriesCount = 100,
        regionalTimeseriesMaxLevel = 1),
      destType = "file", modelBucket = s"$out/bucket")
    val r = Pipeline.run(spark, cfg)
    assert(r.numRows === 4)
    assert(r.features === Seq("Production [mt]", "export [kcal]"))
    val b = s"$out/bucket/84fd427f/f2818712"
    assert(Files.exists(p(b, "month/Production [mt]/timeseries/qualifiers/Year/s_sum_t_sum.csv")))
    // the empty qualifier list suppresses breakdowns for export [kcal]
    assert(!Files.exists(p(b, "month/export [kcal]/timeseries/qualifiers")))
    assert(Files.exists(p(b, "month/export [kcal]/timeseries/global/global.csv")))
  }

  test("sets 3/4: max_count threshold prunes a high-cardinality qualifier") {
    val out = tmp("prune")
    val input = s"$out/input"
    // qhi has 3 distinct values per feature, qlo has 1 — maxCount = 2 keeps
    // only qlo (reference qualifier_thresholds.max_count)
    df(
      "timestamp LONG, country STRING, feature STRING, value DOUBLE, " +
        "qhi STRING, qlo STRING",
      Seq(
        Row(ts("2022-01-01"), "A", "F1", 1.0, "a", "x"),
        Row(ts("2022-01-02"), "A", "F1", 2.0, "b", "x"),
        Row(ts("2022-01-03"), "A", "F1", 3.0, "c", "x")))
      .write.parquet(input)
    val cfg = PipelineConfig("m", "r", Seq(input),
      qualifierMap = Map("F1" -> Seq("qhi", "qlo")),
      thresholds = Qualifiers.Thresholds(maxCount = 2),
      destType = "file", modelBucket = s"$out/bucket")
    Pipeline.run(spark, cfg)
    val b = s"$out/bucket/m/r"
    assert(Files.exists(p(b, "month/F1/timeseries/qualifiers/qlo/s_sum_t_sum.csv")))
    assert(!Files.exists(p(b, "month/F1/timeseries/qualifiers/qhi")))
    // the info lists still record BOTH (pruning gates breakdowns, not metadata)
    assert(Files.exists(p(b, "raw/F1/info/qualifiers/qhi.json")))
  }

  test("sets 5/9/10: invalid and missing timestamps are counted then filled") {
    val out = tmp("ts")
    val input = s"$out/input"
    // string timestamp column: one valid, one unparseable and one null
    // (both MISSING — try_cast nulls, counted, then filled with
    // fill_timestamp), one beyond the max-timestamp horizon (INVALID —
    // counted, then dropped; reference sets 5/9/10's fill_timestamp=0)
    df(
      "timestamp STRING, country STRING, feature STRING, value DOUBLE",
      Seq(
        Row(ts("2022-01-01").toString, "A", "F1", 1.0),
        Row("not-a-time", "A", "F1", 2.0),
        Row(null, "B", "F1", 3.0),
        Row("99999999999999999", "B", "F1", 4.0)))
      .write.parquet(input)
    val cfg = PipelineConfig("087c3e5a", "9e1100d5", Seq(input),
      fillTimestamp = 0L, destType = "file", modelBucket = s"$out/bucket")
    val r = Pipeline.run(spark, cfg)
    assert(r.numRows === 3, "the invalid-horizon row is dropped before counting")
    val results = Files.readString(
      p(s"$out/bucket/087c3e5a/9e1100d5", "results/results.json"))
    assert(results.contains("\"num_invalid_ts\": 1"))
    assert(results.contains("\"num_missing_ts\": 2"))
    // filled rows land in the epoch-0 bucket of the monthly series
    val csv = Files.readString(
      p(s"$out/bucket/087c3e5a/9e1100d5", "month/F1/timeseries/global/global.csv"))
    assert(csv.linesIterator.drop(1).next().startsWith("0,"))
  }

  test("sets 6/7/8: weight column with tiles deselected") {
    val out = tmp("wt")
    val input = s"$out/input"
    df(
      "timestamp LONG, country STRING, lat DOUBLE, lng DOUBLE, " +
        "feature STRING, value DOUBLE, qual_1 STRING, weights DOUBLE",
      Seq(
        Row(ts("2022-01-01"), "A", 10.0, 40.0, "sam_rate", 1.0, "u", 2.0),
        Row(ts("2022-01-15"), "A", 10.0, 40.0, "sam_rate", 3.0, "v", 1.0),
        Row(ts("2022-02-01"), "B", -9.0, -31.0, "gam_rate", 5.0, "u", 4.0)))
      .write.parquet(input)
    val cfg = PipelineConfig("_weight-test-small", "test-run-1", Seq(input),
      weightColumn = "weights",
      qualifierMap = Map("sam_rate" -> Seq("qual_1"), "gam_rate" -> Seq("qual_1")),
      selectedOutputTasks = Seq(
        OutputTask.GlobalTimeseries, OutputTask.RegionalStats,
        OutputTask.RegionalTimeseries, OutputTask.RegionalAggregation),
      destType = "file", modelBucket = s"$out/bucket")
    Pipeline.run(spark, cfg)
    val b = s"$out/bucket/_weight-test-small/test-run-1"
    val csv = Files.readString(p(b, "month/sam_rate/timeseries/global/global.csv"))
    assert(csv.startsWith("timestamp,") && csv.contains("s_wavg_t_wavg"),
      "weighted agg columns must be present")
    // tiles deselected: no tile output even though lat/lng exist, and a
    // partial task selection skips record_results (reference skip matrix)
    assert(!Files.exists(p(b, "month/sam_rate/tiles")))
    assert(!Files.exists(p(b, "results/results.json")))
  }

  test("set 11: raw_count_threshold gates per-feature raw dumps") {
    val out = tmp("raw")
    val input = s"$out/input"
    // Fsmall: 2 rows (<= threshold), Fbig: 4 rows (> threshold)
    val rows = Seq(
      Row(ts("2022-01-01"), "A", "Fsmall", 1.0),
      Row(ts("2022-01-02"), "A", "Fsmall", 2.0)) ++
      (1 to 4).map(i => Row(ts("2022-01-01") + i, "A", "Fbig", i.toDouble))
    df("timestamp LONG, country STRING, feature STRING, value DOUBLE", rows)
      .write.parquet(input)
    val cfg = PipelineConfig("76b6ec52", "indicator", Seq(input),
      isIndicator = true, rawCountThreshold = 3L, weightColumn = "",
      destType = "file",
      modelBucket = s"$out/models", indicatorBucket = s"$out/indicators")
    Pipeline.run(spark, cfg)
    val b = s"$out/indicators/76b6ec52/indicator"
    assert(Files.exists(p(b, "raw/Fsmall/raw/raw.csv")))
    assert(!Files.exists(p(b, "raw/Fbig/raw/raw.csv")))
    val results = Files.readString(p(b, "results/results.json"))
    assert(results.contains("\"raw_count_threshold\": 3"))
    assert(results.contains("\"has_weights\": false"))
  }

  test("set 12: dataset with no region columns still produces global outputs") {
    val out = tmp("noreg")
    val input = s"$out/input"
    df(
      "timestamp LONG, feature STRING, value DOUBLE",
      Seq(
        Row(ts("2022-01-01"), "F1", 1.0),
        Row(ts("2022-02-01"), "F1", 2.0)))
      .write.parquet(input)
    val cfg = PipelineConfig("test_indicator", "indicator", Seq(input),
      isIndicator = true, fillTimestamp = 0L, weightColumn = "",
      destType = "file",
      modelBucket = s"$out/models", indicatorBucket = s"$out/indicators")
    val r = Pipeline.run(spark, cfg)
    assert(r.regionColumns.isEmpty)
    val b = s"$out/indicators/test_indicator/indicator"
    assert(Files.exists(p(b, "month/F1/timeseries/global/global.csv")))
    assert(Files.exists(p(b, "year/F1/timeseries/global/global.csv")))
    // no admin hierarchy and no lat/lng: no regional tree, no tiles,
    // region_levels empty in results.json (reference issue #45 behavior)
    assert(!Files.exists(p(b, "month/F1/regional")))
    assert(!Files.exists(p(b, "month/F1/tiles")))
    val results = Files.readString(p(b, "results/results.json"))
    assert(results.contains("\"region_levels\": []"))
    assert(results.contains("\"has_tiles\": false"))
  }
}
