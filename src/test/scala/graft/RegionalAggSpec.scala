package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.io.FileWriter
import graft.operators.Regions
import graft.pipeline.{Pipeline, PipelineConfig}

/** Golden semantics of compute_regional_aggregation (reference:
  * tests/unit/test_compute_regional_aggregation.py:30-268 — same inputs,
  * same expected per-(feature, timestamp, level) aggs CSVs, including the
  * literal "qualifier" column name and the qualifier-map gating). The
  * reference compares CSVs order-insensitively, so rows are compared as
  * sets under the exact header. */
class RegionalAggSpec extends SparkSpec {

  private def csvSet(dir: String, rel: String, expectedHeader: String): Set[String] = {
    val p = Paths.get(dir, rel)
    assert(Files.exists(p), s"missing $rel")
    val lines = Files.readString(p).split("\n").filter(_.nonEmpty).toSeq
    assert(lines.head === expectedHeader, s"header mismatch in $rel")
    lines.tail.toSet
  }
  private val defHeader = "id,s_sum_t_sum,s_mean_t_sum,s_sum_t_mean,s_mean_t_mean,s_count"
  private val quaHeader = "id,qualifier,s_sum_t_sum,s_mean_t_sum,s_sum_t_mean,s_mean_t_mean,s_count"

  private def run(t: org.apache.spark.sql.DataFrame, timeRes: String,
                  qualifierCols: Seq[String], qualifierMap: Map[String, Seq[String]],
                  modelId: String): String = {
    val dir = SparkSpec.tempDir("graftral").toString
    Pipeline.regionalAggregation(t, Regions.extractRegionColumns(t), qualifierCols,
      qualifierMap, "", PipelineConfig(modelId, "r", Seq("unused")), timeRes, FileWriter(dir))
    dir
  }

  test("default aggs CSVs match the reference goldens at every admin level") {
    val t = df(
      "timestamp LONG, country STRING, admin1 STRING, admin2 STRING, admin3 STRING, " +
        "feature STRING, t_sum DOUBLE, t_mean DOUBLE", Seq(
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
    val dir = run(t, "month", Seq.empty, Map.empty, "model-id-1")
    def at(rel: String) = csvSet(dir, s"model-id-1/r/month/$rel", defHeader)

    assert(at("F1/regional/country/aggs/0/default/default.csv") === Set(
      "A,25.0,6.25,12.0,3.0,4", "B,70.0,35.0,32.0,16.0,2"))
    assert(at("F1/regional/country/aggs/1/default/default.csv") === Set(
      "A,24.0,6.0,6.0,1.5,4", "B,170.0,85.0,50.0,25.0,2"))
    assert(at("F2/regional/country/aggs/1/default/default.csv") === Set(
      "A,14.0,7.0,7.0,3.5,2"))
    assert(at("F1/regional/admin1/aggs/1/default/default.csv") === Set(
      "A__AA,24.0,6.0,6.0,1.5,4", "B__BA,90.0,90.0,30.0,30.0,1", "B__BB,80.0,80.0,20.0,20.0,1"))
    assert(at("F1/regional/admin1/aggs/0/default/default.csv") === Set(
      "A__AA,25.0,6.25,12.0,3.0,4", "B__BA,60.0,60.0,30.0,30.0,1", "B__BB,10.0,10.0,2.0,2.0,1"))
    assert(at("F1/regional/admin2/aggs/1/default/default.csv") === Set(
      "A__AA__AAB,18.0,9.0,4.0,2.0,2", "B__BA__BAB,90.0,90.0,30.0,30.0,1",
      "A__AA__AAA,6.0,3.0,2.0,1.0,2", "B__BB__BBB,80.0,80.0,20.0,20.0,1"))
    assert(at("F1/regional/admin3/aggs/0/default/default.csv") === Set(
      "A__AA__AAB__AABD,8.0,8.0,4.0,4.0,1", "A__AA__AAA__AAAA,14.0,7.0,7.0,3.5,2",
      "B__BA__BAB__BABB,60.0,60.0,30.0,30.0,1", "A__AA__AAB__AABE,3.0,3.0,1.0,1.0,1",
      "B__BB__BBB__BBBB,10.0,10.0,2.0,2.0,1"))
  }

  test("qualifier aggs CSVs use the literal 'qualifier' column and reference values") {
    val t = df(
      "timestamp LONG, country STRING, admin1 STRING, qual1 STRING, qual2 STRING, " +
        "feature STRING, t_sum DOUBLE, t_mean DOUBLE", Seq(
        Row(0L, "A", "AA", "qa", "q1", "F1", 4.0, 2.0),
        Row(0L, "A", "AB", "qa", "q1", "F1", 10.0, 5.0),
        Row(0L, "A", "AA", "qa", "q2", "F1", 4.0, 2.0),
        Row(0L, "A", "AB", "qa", "q2", "F1", 10.0, 5.0),
        Row(1L, "A", "AA", "qa", "q1", "F1", 8.0, 2.0),
        Row(1L, "A", "AB", "qa", "q1", "F1", 20.0, 10.0),
        Row(1L, "A", "AA", "qa", "q2", "F1", 16.0, 4.0),
        Row(1L, "A", "AB", "qa", "q2", "F1", 30.0, 15.0),
        Row(1L, "A", "AB", "qa", "q2", "F2", 30.0, 15.0)))
    val qmap = Map("F1" -> Seq("qual1", "qual2"), "F2" -> Seq("qual1", "qual2"))
    val dir = run(t, "year", Seq("qual1", "qual2"), qmap, "model-id-q")
    def at(rel: String, h: String) = csvSet(dir, s"model-id-q/r/year/$rel", h)

    // default pass still produced alongside the qualifier breakdowns
    assert(at("F1/regional/admin1/aggs/1/default/default.csv", defHeader) === Set(
      "A__AA,24.0,12.0,6.0,3.0,2", "A__AB,50.0,25.0,25.0,12.5,2"))
    assert(at("F1/regional/country/aggs/0/qualifiers/qual1.csv", quaHeader) === Set(
      "A,qa,28.0,7.0,14.0,3.5,4"))
    assert(at("F1/regional/country/aggs/1/qualifiers/qual1.csv", quaHeader) === Set(
      "A,qa,74.0,18.5,31.0,7.75,4"))
    assert(at("F1/regional/country/aggs/0/qualifiers/qual2.csv", quaHeader) === Set(
      "A,q1,14.0,7.0,7.0,3.5,2", "A,q2,14.0,7.0,7.0,3.5,2"))
    assert(at("F1/regional/admin1/aggs/0/qualifiers/qual1.csv", quaHeader) === Set(
      "A__AA,qa,8.0,4.0,4.0,2.0,2", "A__AB,qa,20.0,10.0,10.0,5.0,2"))
    assert(at("F1/regional/admin1/aggs/1/qualifiers/qual2.csv", quaHeader) === Set(
      "A__AA,q1,8.0,8.0,2.0,2.0,1", "A__AA,q2,16.0,16.0,4.0,4.0,1",
      "A__AB,q2,30.0,30.0,15.0,15.0,1", "A__AB,q1,20.0,20.0,10.0,10.0,1"))
    assert(at("F2/regional/country/aggs/1/qualifiers/qual1.csv", quaHeader) === Set(
      "A,qa,30.0,30.0,15.0,15.0,1"))
  }

  test("qualifier map gates which qualifier files are produced") {
    val t = df(
      "timestamp LONG, country STRING, qual1 STRING, qual2 STRING, qual3 STRING, " +
        "feature STRING, t_sum DOUBLE, t_mean DOUBLE", Seq(
        Row(1L, "A", "qa", "q1", "qq", "F1", 8.0, 2.0),
        Row(1L, "A", "qa", "q1", "qq", "F1", 20.0, 10.0),
        Row(1L, "A", "qa", "q2", "qq", "F1", 16.0, 4.0),
        Row(1L, "A", "qa", "q2", "qq", "F1", 30.0, 15.0),
        Row(1L, "A", "qa", "q2", "qq", "F1", 30.0, 15.0)))
    val dir = run(t, "year", Seq("qual1", "qual2"), Map("F1" -> Seq("qual1")), "model-id-q")
    def rel(q: String) = s"model-id-q/r/year/F1/regional/country/aggs/1/qualifiers/$q.csv"

    assert(csvSet(dir, "model-id-q/r/year/F1/regional/country/aggs/1/default/default.csv",
      defHeader) === Set("A,104.0,20.8,46.0,9.2,5"))
    assert(csvSet(dir, rel("qual1"), quaHeader) === Set("A,qa,104.0,20.8,46.0,9.2,5"))
    assert(!Files.exists(Paths.get(dir, rel("qual2"))))
    assert(!Files.exists(Paths.get(dir, rel("qual3"))))
  }
}
