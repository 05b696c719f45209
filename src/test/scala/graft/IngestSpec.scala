package graft

import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.sources.Ingest

/** Ingest semantics S1-S5 (reference: flows/data_pipeline.py:150-235,
  * tests/unit/test_read_data.py:53-96). */
class IngestSpec extends SparkSpec {

  test("string-typed parquet files are filtered by name (S3)") {
    assert(Ingest.isStringTypedFile("/data/run1/output_str.parquet.gzip"))
    assert(Ingest.isStringTypedFile("/data/run1/output_str.1.parquet.gzip"))
    assert(Ingest.isStringTypedFile("output_str.parquet"))
    assert(!Ingest.isStringTypedFile("/data/run1/output.parquet.gzip"))
    assert(!Ingest.isStringTypedFile("/data/run1/output_str_x.parquet"))
  }

  test("empty path list and all-string file lists fail fast (S5)") {
    intercept[IllegalArgumentException] {
      Ingest.readData(spark, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Ingest.readData(spark, Seq("a_str.parquet.gzip"))
    }
  }

  test("schema unification fills missing columns with empty strings (S4)") {
    val a = df("timestamp LONG, feature STRING, value DOUBLE, qual1 STRING", Seq(
      Row(1L, "F", 1.0, "x")))
    val b = df("timestamp LONG, feature STRING, value DOUBLE", Seq(
      Row(2L, "F", 2.0)))
    val u = Ingest.unifySchemas(Seq(a, b))
    assert(u.columns.toSeq === Seq("timestamp", "feature", "value", "qual1"))
    assert(rowSet(u) === Set(
      Seq(1L, "F", 1.0, "x"),
      Seq(2L, "F", 2.0, "")))
  }

  test("a column missing from one file coerces to string everywhere (S4)") {
    // 'score' is double in a, absent in b: the ''-fill for b means the
    // union must be string-typed in a too, or ANSI casting '' to double
    // fails at runtime
    val a = df("timestamp LONG, feature STRING, value DOUBLE, score DOUBLE", Seq(
      Row(1L, "F", 1.0, 0.5)))
    val b = df("timestamp LONG, feature STRING, value DOUBLE", Seq(
      Row(2L, "F", 2.0)))
    val u = Ingest.unifySchemas(Seq(a, b))
    assert(u.schema("score").dataType.typeName === "string")
    assert(rowSet(u.select("timestamp", "score")) === Set(
      Seq(1L, "0.5"), Seq(2L, "")))
  }

  test("a raw '/' inside a URL query does not defeat the basename (S2/S3)") {
    assert(Ingest.isStringTypedFile("https://h/data_str.parquet?redirect=/tmp/x"))
    assert(!Ingest.isStringTypedFile("https://h/data.parquet?path=/a_str.parquet"))
  }

  test("conflicting dtypes coerce to string instead of failing (S4)") {
    val a = df("timestamp LONG, feature STRING, value DOUBLE, admin1 STRING", Seq(
      Row(1L, "F", 1.0, "X")))
    val b = df("timestamp LONG, feature STRING, value DOUBLE, admin1 LONG", Seq(
      Row(2L, "F", 2.0, 7L)))
    val u = Ingest.unifySchemas(Seq(a, b))
    assert(u.schema("admin1").dataType.typeName === "string")
    assert(rowSet(u.select("timestamp", "admin1")) === Set(
      Seq(1L, "X"), Seq(2L, "7")))
  }

  test("URL ingest downloads to temp before reading; _str filter sees URL basenames (S2)") {
    // presigned-style URLs: the query string must not defeat the _str filter
    assert(Ingest.isStringTypedFile("https://host/run/out_str.parquet.gzip?X-Sig=abc"))
    assert(!Ingest.isStringTypedFile("https://host/run/out.parquet?X-Sig=abc"))
    assert(Ingest.isDownloadUrl("https://host/x.parquet") &&
      Ingest.isDownloadUrl("http://host/x.parquet") &&
      !Ingest.isDownloadUrl("/data/x.parquet") && !Ingest.isDownloadUrl("s3a://b/x.parquet"))

    // full readData through the download machinery, with file:// URLs
    // standing in for http(s) (zero-egress test environment)
    val dir = SparkSpec.tempDir("graftdl")
    val a = df("timestamp LONG, feature STRING, value DOUBLE", Seq(Row(1L, "F", 4.5)))
    a.coalesce(1).write.parquet(s"$dir/remote.parquet")
    val onePart = Files.list(java.nio.file.Paths.get(s"$dir/remote.parquet"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    val url = onePart.toUri.toString // file:///...part-0000....parquet
    val u = Ingest.readData(spark, Seq(url), needsDownload = _.startsWith("file:"))
    assert(rowSet(u) === Set(Seq(1L, "F", 4.5)))
  }

  test("round-trip through parquet files (S1)") {
    val dir = SparkSpec.tempDir("graftingest").toString
    val a = df("timestamp LONG, feature STRING, value DOUBLE", Seq(Row(1L, "F", 1.0)))
    a.write.parquet(s"$dir/part1.parquet")
    a.write.parquet(s"$dir/part2.parquet")
    val u = Ingest.readData(spark, Seq(s"$dir/part1.parquet", s"$dir/part2.parquet"))
    assert(u.count() === 2)
  }
}
