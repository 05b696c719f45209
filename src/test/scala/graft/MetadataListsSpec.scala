package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.io.FileWriter
import graft.operators.{Regions, Validate}
import graft.pipeline.{Pipeline, PipelineConfig}

/** Golden semantics of record_region_lists / record_qualifier_lists
  * (reference: tests/unit/test_record_region_lists.py:25-50,
  * tests/unit/test_record_qualifier_lists.py:25-52). The reference compares
  * the JSON lists order-insensitively (`assert_json_equal(..., True)`), so
  * lists are compared as sets here; the engine emits them sorted. */
class MetadataListsSpec extends SparkSpec {

  private val base = df(
    "timestamp LONG, country STRING, admin1 STRING, admin2 STRING, admin3 STRING, " +
      "lat DOUBLE, lng DOUBLE, feature STRING, value DOUBLE, qual1 STRING, qual2 STRING", Seq(
      Row(4L, "United States", "New York", "nyadmi2", "nyadmin3", 1.1, 3.3, "A", 6.2, "d", "q2a"),
      Row(5L, "Canada", "Ontario", "onadmin2", "onadmin3", 2.2, 2.2, "A", 7.1, "e", "q2a"),
      Row(6L, "Canada", "Quebec", "qadmin2", "qadmin3", 3.2, 1.1, "B", 9.2, "f", "q2b")))

  private def readJson(dir: String, rel: String): String = {
    val p = Paths.get(dir, rel)
    assert(Files.exists(p), s"missing $rel")
    Files.readString(p)
  }
  private def strSet(json: String, key: String): Set[String] = {
    // pull the `"key": [ ... ]` array items out of the flat JSON
    val arr = s""""$key": \\[([^\\]]*)\\]""".r.findFirstMatchIn(json)
      .getOrElse(fail(s"no $key in $json")).group(1)
    arr.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSet
  }

  test("region_lists.json carries all four levels with __-joined ancestor chains") {
    val dir = SparkSpec.tempDir("graftml").toString
    Pipeline.writeRegionLists(base, Regions.extractRegionColumns(base), Seq("A", "B"),
      PipelineConfig("mid-1", "rid-1", Seq("unused")), FileWriter(dir))

    val a = readJson(dir, "mid-1/rid-1/raw/A/info/region_lists.json")
    assert(strSet(a, "country") === Set("United States", "Canada"))
    assert(strSet(a, "admin1") === Set("United States__New York", "Canada__Ontario"))
    assert(strSet(a, "admin2") ===
      Set("United States__New York__nyadmi2", "Canada__Ontario__onadmin2"))
    assert(strSet(a, "admin3") ===
      Set("United States__New York__nyadmi2__nyadmin3", "Canada__Ontario__onadmin2__onadmin3"))

    val b = readJson(dir, "mid-1/rid-1/raw/B/info/region_lists.json")
    assert(strSet(b, "country") === Set("Canada"))
    assert(strSet(b, "admin3") === Set("Canada__Quebec__qadmin2__qadmin3"))
  }

  test("qualifier lists, counts file, and returned counts match the reference") {
    val dir = SparkSpec.tempDir("graftml").toString
    val counts = Pipeline.writeQualifierLists(base,
      Validate.qualifierColumns(base, ""), Seq("A", "B"),
      PipelineConfig("mid-1", "rid-1", Seq("unused")), FileWriter(dir))
    assert(counts === Map(
      "A" -> Map("qual1" -> 2L, "qual2" -> 1L),
      "B" -> Map("qual1" -> 1L, "qual2" -> 1L)))

    def list(rel: String): Set[String] =
      readJson(dir, rel).stripPrefix("[").stripSuffix("]")
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSet
    assert(list("mid-1/rid-1/raw/A/info/qualifiers/qual1.json") === Set("d", "e"))
    assert(list("mid-1/rid-1/raw/B/info/qualifiers/qual1.json") === Set("f"))
    assert(list("mid-1/rid-1/raw/A/info/qualifiers/qual2.json") === Set("q2a"))
    assert(list("mid-1/rid-1/raw/B/info/qualifiers/qual2.json") === Set("q2b"))

    // counts file: per-feature distinct counts + the full thresholds object
    // (the flow passes the whole qualifier_thresholds dict,
    // flows/data_pipeline.py:945-952,992-994)
    val ac = readJson(dir, "mid-1/rid-1/raw/A/info/qualifier_counts.json")
    assert(ac.contains(""""counts": {"qual1": 2, "qual2": 1}"""))
    assert(ac.contains(""""max_count": 10000"""))
    assert(ac.contains(""""regional_timeseries_count": 100"""))
    assert(ac.contains(""""regional_timeseries_max_level": 1"""))
    val bc = readJson(dir, "mid-1/rid-1/raw/B/info/qualifier_counts.json")
    assert(bc.contains(""""counts": {"qual1": 1, "qual2": 1}"""))
  }
}
