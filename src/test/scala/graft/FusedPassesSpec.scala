package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.json4s.{JInt, JObject, JValue}
import org.json4s.jackson.JsonMethods.parse

import graft.io.{FileWriter, Json}
import graft.model.Schema
import graft.operators.{Regions, Spatial, Temporal, Validate}
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.sources.Ingest

/** The pipeline's fused passes against the separate passes they replace:
  * validation's one aggregate against its P1 scan plus its counter scan,
  * the one per-feature metadata aggregate against the feature count, the
  * region- and qualifier-list collects and the global timeseries sizes,
  * and the shared regional aggregate against each regional task's own.
  * The input hits every counter: a feature whose values are all null, an
  * unparseable and a null timestamp (both filled), a timestamp at
  * `MaxTimestampMs` (dropped), an all-blank string column (dropped) and
  * ±Infinity values. */
class FusedPassesSpec extends SparkSpec {

  private val fill = ts("2021-06-15")

  private def input: DataFrame = df(
    "timestamp STRING, country STRING, admin1 STRING, feature STRING, value DOUBLE, " +
      "qual1 STRING, blank STRING, w DOUBLE",
    Seq(
      Row(ts("2022-01-03").toString, "A", "AA", "F1", 1.0, "qa", "  ", 1.0),
      Row(ts("2022-02-03").toString, "A", "AB", "F1", 2.0, "qb", null, 2.0),
      Row(ts("2023-02-03").toString, "B", "BA", "F1", Double.PositiveInfinity, "qa", "", 1.0),
      Row("not a time", "B", "BA", "F1", 4.0, null, " ", 1.0),
      Row(Schema.MaxTimestampMs.toString, "A", "AA", "F1", 5.0, "qc", null, 1.0),
      Row(ts("2022-01-20").toString, "A", "AA", "F2", null, "qa", null, 1.0),
      Row(ts("2022-03-20").toString, "B", "BB", "F2", null, "qb", null, 3.0),
      Row(null, "B", "BB", "F2", null, "qb", null, 3.0),
      Row(ts("2022-03-21").toString, "B", "BA", "F3", Double.NegativeInfinity, "qa", null, 1.0),
      Row(ts("2024-07-01").toString, "A", "AB", "F3", 8.0, "qb", "   ", 2.0)))

  test("validation's one pass gives the two-scan dropped columns and counters") {
    val in = input
    val vr = Validate(in, "w", fill)
    // P1's own scan: a column is dropped when no row is non-blank
    val blank = in.columns.toSeq.filterNot(Set("timestamp", "feature", "value")).filter { c =>
      in.filter(col(c).isNotNull && trim(col(c).cast("string")) =!= "").count() == 0L
    }
    assert(vr.droppedColumns === blank)
    assert(vr.droppedColumns === Seq("blank"))
    // the counter scan over the coerced frame
    val cast = in
      .withColumn("timestamp", expr("try_cast(`timestamp` AS BIGINT)"))
      .withColumn("value", expr("try_cast(`value` AS DOUBLE)"))
    def rows(cond: org.apache.spark.sql.Column) = cast.filter(cond).count()
    assert(vr.numMissingTs === rows(col("timestamp").isNull))
    assert(vr.numInvalidTs === rows(col("timestamp") >= Schema.MaxTimestampMs))
    assert(vr.numMissingVal === rows(col("value").isNull))
    assert((vr.numMissingTs, vr.numInvalidTs, vr.numMissingVal) === ((2L, 1L, 3L)))
    // the two missing timestamps are filled, the invalid one dropped
    assert(vr.df.filter(col("timestamp") === fill).count() === 2L)
    assert(vr.df.count() === 9L)
  }

  test("results.json sizes and the metadata lists equal the per-pass values") {
    val out = SparkSpec.tempDir("graftfp").toString
    input.write.parquet(s"$out/input")
    // an indicator run: the output summary is not computed
    Pipeline.run(spark, PipelineConfig("m", "r", Seq(s"$out/input"), isIndicator = true,
      fillTimestamp = fill, weightColumn = "w", destType = "file", indicatorBucket = s"$out/bucket"))
    def read(rel: String): String = Files.readString(Paths.get(out, "bucket/m/r", rel))

    // the validated frame the run works on, and the passes it used to make
    val vdf = Validate(Ingest.readData(spark, Seq(s"$out/input")), "w", fill).df
    def perFeature(d: DataFrame): Map[String, Long] =
      d.groupBy("feature").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def longs(v: JValue): Map[String, Long] =
      v.asInstanceOf[JObject].obj.map { case (k, n: JInt) => k -> n.num.toLong; case kv => fail(kv.toString) }.toMap

    val info = parse(read("results/results.json")) \ "data_info"
    assert(longs(info \ "num_rows_per_feature") === perFeature(vdf))
    assert(longs(info \ "num_rows_per_feature") === Map("F1" -> 4L, "F2" -> 3L, "F3" -> 2L))
    for (res <- Seq("month", "year")) {
      val (agg, _) = Spatial.aggregate(Temporal.aggregate(vdf, res, "w"),
        Seq("feature", "timestamp"), Seq("sum", "mean"), "w")
      val sizes = longs(info \ s"${res}_timeseries_size")
      assert(sizes === perFeature(agg), res)
      // each size is the number of rows of the feature's global CSV
      for ((f, n) <- sizes)
        assert(read(s"$res/$f/timeseries/global/global.csv").linesIterator.size - 1 === n, s"$res $f")
    }
    assert(longs(info \ "month_timeseries_size") === Map("F1" -> 4L, "F2" -> 3L, "F3" -> 2L))

    // region lists: one collect per level of the joined region ids
    val regionCols = Regions.extractRegionColumns(vdf)
    assert(regionCols === Seq("country", "admin1"))
    val levels = regionCols.indices.map(l => sort_array(collect_set(Regions.joinRegionColumns(regionCols, l))))
    val regionRows = vdf.groupBy("feature").agg(levels.head, levels.tail: _*).collect()
    assert(regionRows.length === 3)
    for (r <- regionRows) {
      val expected = Json.JObj(Schema.RegionLevels.zipWithIndex.map { case (name, l) =>
        name -> (if (l < regionCols.length) Json.of(r.getSeq[String](l + 1)) else Json.JArr(Nil))
      }).render
      assert(read(s"raw/${r.getString(0)}/info/region_lists.json") === expected)
    }
    // qualifier lists: one collect per qualifier column
    assert(Validate.qualifierColumns(vdf, "w") === Seq("qual1"))
    for (r <- vdf.groupBy("feature").agg(sort_array(collect_set(col("qual1")))).collect()) {
      val values = r.getSeq[String](1)
      assert(read(s"raw/${r.getString(0)}/info/qualifiers/qual1.json") === Json.of(values).render)
      assert(read(s"raw/${r.getString(0)}/info/qualifier_counts.json")
        .contains(s""""counts": {"qual1": ${values.size}}"""))
    }
  }

  test("a model run writes results.json with NaN for the all-null feature's aggregates") {
    val out = SparkSpec.tempDir("graftfpm").toString
    input.write.parquet(s"$out/input")
    Pipeline.run(spark, PipelineConfig("m", "r", Seq(s"$out/input"),
      fillTimestamp = fill, weightColumn = "w", destType = "file", modelBucket = s"$out/bucket"))
    val results = Files.readString(Paths.get(out, "bucket/m/r/results/results.json"))
    def summary(feature: String): Seq[String] =
      s"""\\{"name": "$feature", ([^}]*)\\}""".r.findFirstMatchIn(results)
        .getOrElse(fail(results)).group(1).split(", ").toSeq.map(_.split(": ")(1))
    assert(summary("F2").nonEmpty && summary("F2").forall(_ == "NaN"), results)
    assert(summary("F1").forall(_ != "NaN"), results)
  }

  test("the shared regional aggregate writes what each regional task's own pass writes") {
    val vr = Validate(input, "w", fill)
    val t = Temporal.aggregate(vr.df, "month", vr.weightColumn).cache()
    try {
      val regionCols = Regions.extractRegionColumns(vr.df)
      val cfg = PipelineConfig("m", "r", Nil)
      def writeAll(dir: String, shared: Option[(DataFrame, Seq[String])]): Long = {
        val w = FileWriter(dir)
        Pipeline.regionalStats(t, regionCols, "w", cfg, "month", w, shared) +
          Pipeline.regionalTimeseries(t, regionCols, Nil, Map.empty, Map.empty, "w", cfg, "month", w, shared) +
          Pipeline.regionalAggregation(t, regionCols, Nil, Map.empty, "w", cfg, "month", w, shared)
      }
      val (own, fused) = (SparkSpec.tempDir("graftfo"), SparkSpec.tempDir("graftff"))
      val ownN = writeAll(own.toString, None)
      val (agg, aggCols) = Pipeline.regionalLevels(t, regionCols, "w")
      val fusedN = try writeAll(fused.toString, Some((agg.cache(), aggCols))) finally agg.unpersist()
      assert(fusedN === ownN)
      assert(ownN > 0L)
      val (a, b) = (tree(own), tree(fused))
      assert(a.keySet === b.keySet)
      for ((k, bytes) <- a) assert(java.util.Arrays.equals(bytes, b(k)), s"byte mismatch: $k")
    } finally t.unpersist()
  }

  private def tree(root: Path): Map[String, Array[Byte]] = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p)).toMap
    finally s.close()
  }
}
