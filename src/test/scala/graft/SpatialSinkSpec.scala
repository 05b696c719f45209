package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.io.{FileWriter, GroupSink}
import graft.operators.Spatial

/** Golden semantics of A2/A4 spatial aggregation and the one-object-per-
  * group CSV sink (reference: tests/unit/test_compute_global_timeseries.py:
  * 30-149 — same input rows and expected CSV bytes). */
class SpatialSinkSpec extends SparkSpec {

  private def input = df(
    "timestamp LONG, country STRING, feature STRING, t_sum DOUBLE, t_mean DOUBLE", Seq(
      Row(0L, "Ethiopia", "feature1", 4.0, 2.0),
      Row(0L, "South Sudan", "feature1", 60.0, 30.0),
      Row(1L, "Ethiopia", "feature1", 6.0, 3.0),
      Row(1L, "South Sudan", "feature1", 80.0, 0.8),
      Row(1L, "Ethiopia", "feature2", 6.0, 3.0),
      Row(1L, "South Sudan", "feature2", 180.0, 1.8)))

  test("global timeseries agg values and s_{agg}_t_{tagg} naming") {
    val (agg, aggCols) = Spatial.aggregate(input, Seq("feature", "timestamp"), Seq("sum", "mean"))
    assert(aggCols === Seq("s_sum_t_sum", "s_mean_t_sum", "s_sum_t_mean", "s_mean_t_mean", "s_count"))
    val out = agg.select("feature", "timestamp", "s_sum_t_sum", "s_mean_t_sum",
      "s_sum_t_mean", "s_mean_t_mean", "s_count")
    assert(rowSet(out) === Set(
      Seq("feature1", 0L, 64.0, 32.0, 32.0, 16.0, 2L),
      Seq("feature1", 1L, 86.0, 43.0, 3.8, 1.9, 2L),
      Seq("feature2", 1L, 186.0, 93.0, 4.8, 2.4, 2L)))
  }

  test("aggregateLevels (one grouping-sets shuffle) equals the per-level loop") {
    val t = df(
      "feature STRING, timestamp LONG, country STRING, admin1 STRING, admin2 STRING, " +
        "t_sum DOUBLE, t_mean DOUBLE, t_wavg DOUBLE, w DOUBLE", Seq(
        Row("F1", 0L, "A", "AA", "AAA", 4.0, 2.0, 2.5, 1.0),
        Row("F1", 0L, "A", "AA", "AAB", 6.0, 3.0, 3.5, 2.0),
        Row("F1", 0L, "A", "AB", "ABA", 8.0, 4.0, 4.5, 1.0),
        Row("F1", 0L, "B", "BA", "BAA", 10.0, 5.0, 5.5, 3.0),
        Row("F2", 1L, "A", "AA", "AAA", 12.0, 6.0, 6.5, 1.0),
        Row("F2", 1L, "B", "BA", "BAA", 14.0, 7.0, 7.5, 2.0),
        // region values containing the "__" delimiter must collapse by the
        // RENDERED region id, exactly like the per-level loop
        Row("F3", 0L, "X__Y", "Z", "ZZ", 2.0, 1.0, 1.5, 1.0),
        Row("F3", 0L, "X", "Y__Z", "ZZ", 4.0, 2.0, 2.5, 1.0)))
    val regionCols = Seq("country", "admin1", "admin2")
    val (lv, aggCols) = graft.operators.Spatial.aggregateLevels(
      t, Seq("feature", "timestamp"), regionCols, 0 until 3, Seq("sum", "mean"), "w")
    def round4(d: org.apache.spark.sql.DataFrame) =
      aggCols.foldLeft(d)((x, c) => x.withColumn(c, org.apache.spark.sql.functions.round(col(c), 4)))
    for (level <- 0 until 3) {
      val withR = t.withColumn("region_id",
        graft.operators.Regions.joinRegionColumns(regionCols, level))
      val (agg, _) = Spatial.aggregate(withR,
        Seq("feature", "timestamp", "region_id"), Seq("sum", "mean"), "w")
      val outCols = (Seq("feature", "timestamp", "region_id") ++ aggCols).map(col)
      val expected = rowSet(round4(agg).select(outCols: _*))
      val got = rowSet(round4(lv.filter(col("level") === level)).select(outCols: _*))
      assert(got === expected, s"level $level mismatch")
    }
  }

  test("one global.csv object per feature with pandas-compatible bytes") {
    val dir = SparkSpec.tempDir("graftsink").toString
    val (agg, aggCols) = Spatial.aggregate(input, Seq("feature", "timestamp"), Seq("sum", "mean"))
    val header = "timestamp" +: aggCols
    val idx = header.map(agg.schema.fieldIndex)
    val n = GroupSink.writeGroups(agg, Seq("feature"), Seq("timestamp"),
      (key, rows) => (
        s"m1/r1/month/${key.getString(key.fieldIndex("feature"))}/timeseries/global/global.csv",
        GroupSink.renderCsv(header, idx, rows)),
      FileWriter(dir))
    assert(n === 2)
    val f1 = Files.readString(Paths.get(dir, "m1/r1/month/feature1/timeseries/global/global.csv"))
    assert(f1 ===
      "timestamp,s_sum_t_sum,s_mean_t_sum,s_sum_t_mean,s_mean_t_mean,s_count\n" +
        "0,64.0,32.0,32.0,16.0,2\n" +
        "1,86.0,43.0,3.8,1.9,2\n")
    val f2 = Files.readString(Paths.get(dir, "m1/r1/month/feature2/timeseries/global/global.csv"))
    assert(f2 ===
      "timestamp,s_sum_t_sum,s_mean_t_sum,s_sum_t_mean,s_mean_t_mean,s_count\n" +
        "1,186.0,93.0,4.8,2.4,2\n")
  }

  test("sink runs split on null keys and on a change in the last key column only") {
    val dir = SparkSpec.tempDir("graftsinkkeys").toString
    val in = df("k1 STRING, k2 STRING, v INT", Seq(
      Row("a", "x", 1), Row("a", "x", 2), Row("a", "y", 3), Row("a", null, 4),
      Row(null, "x", 5), Row(null, null, 6), Row(null, null, 7), Row("b", "y", 8)))
    // one partition, so adjacent groups meet inside one sorted run
    val conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val n = try GroupSink.writeGroups(in, Seq("k1", "k2"), Seq("v"),
      (key, rows) => (s"${key.getString(0)}_${key.getString(1)}.csv",
        rows.map(_.getInt(2)).mkString(",").getBytes("UTF-8")),
      FileWriter(dir))
    finally spark.conf.set("spark.sql.shuffle.partitions", conf)
    val got = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => p.getFileName.toString -> Files.readString(p)).toMap
    assert(got === Map("a_x.csv" -> "1,2", "a_y.csv" -> "3", "a_null.csv" -> "4",
      "null_x.csv" -> "5", "null_null.csv" -> "6,7", "b_y.csv" -> "8"))
    assert(n === 6L)
  }

  test("csv header cells escape data-derived names like body cells") {
    // pivoted qualifier VALUES become column names — a comma in one must
    // quote, or the header has more columns than every data row
    val bytes = graft.io.GroupSink.renderCsv(
      Seq("plain", "Washington, DC", "quo\"te"), Seq(0, 1, 2),
      Iterator(Row("x", 1.0, "y")))
    val lines = new String(bytes, java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
    assert(lines.head === "plain,\"Washington, DC\",\"quo\"\"te\"")
    assert(lines(1) === "x,1.0,y")
  }

  test("qualifier pivot timeseries values (A10)") {
    val in = df(
      "timestamp LONG, country STRING, feature STRING, qual1 STRING, t_sum DOUBLE, t_mean DOUBLE", Seq(
        Row(0L, "Ethiopia", "feature1", "qa", 4.0, 2.0),
        Row(0L, "South Sudan", "feature1", "qa", 60.0, 30.0),
        Row(0L, "South Sudan", "feature1", "qb", 60.0, 30.0),
        Row(1L, "Ethiopia", "feature1", "qa", 6.0, 3.0),
        Row(1L, "South Sudan", "feature1", "qb", 80.0, 0.8)))
    val (agg, _) = Spatial.aggregate(in, Seq("feature", "timestamp", "qual1"), Seq("sum", "mean"))
    // reference golden: s_mean_t_mean per qualifier value
    val wide = agg.groupBy("timestamp").pivot("qual1", Seq("qa", "qb"))
      .agg(first(col("s_mean_t_mean"))).orderBy("timestamp")
    assert(wide.collect().map(_.toSeq).toSeq === Seq(
      Seq(0L, 16.0, 30.0),
      Seq(1L, 3.0, 0.8)))
  }

  test("weighted spatial aggregation: s_wavg ratios") {
    val in = df(
      "timestamp LONG, feature STRING, t_sum DOUBLE, t_mean DOUBLE, t_wavg DOUBLE, w DOUBLE", Seq(
        Row(0L, "F", 10.0, 5.0, 5.0, 1.0),
        Row(0L, "F", 30.0, 15.0, 15.0, 3.0)))
    val (agg, aggCols) = Spatial.aggregate(in, Seq("feature", "timestamp"), Seq("sum"), "w")
    assert(aggCols.contains("s_wavg_t_sum"))
    val r = agg.select("s_sum_t_sum", "s_wavg_t_sum", "s_wavg_t_mean").head()
    assert(r.getDouble(0) === 40.0)
    assert(r.getDouble(1) === (10.0 * 1 + 30.0 * 3) / 4.0)
    assert(r.getDouble(2) === (5.0 * 1 + 15.0 * 3) / 4.0)
  }
}
