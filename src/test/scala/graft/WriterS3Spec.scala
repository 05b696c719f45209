package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.pipeline.{Pipeline, PipelineConfig}

/** S6 against an actual `s3a://` scheme: the pipeline writes through
  * Writer.forDest("s3", ...) → HadoopFsWriter with `fs.s3a.impl` pointed at
  * [[FakeS3FileSystem]] — the in-JVM stand-in for the reference's
  * moto-mocked S3 tests (tests/unit/test_compute_regional_timeseries.py:31).
  * This covers what the file:/-URI test cannot: scheme+authority handling in
  * the executor-side FileSystem resolution, the `s3Conf` override plumbing,
  * and object keys with path-hostile characters. */
class WriterS3Spec extends SparkSpec {

  private val s3Conf = Map(
    "fs.s3a.impl" -> classOf[FakeS3FileSystem].getName,
    "fs.s3a.impl.disable.cache" -> "true")

  test("pipeline output family lands the reference tree through s3a://") {
    val outDir = SparkSpec.tempDir("grafts3").toString
    val input = s"$outDir/input"
    df(
      "timestamp LONG, country STRING, admin1 STRING, lat DOUBLE, lng DOUBLE, " +
        "feature STRING, value DOUBLE, qual1 STRING",
      Seq(
        Row(ts("2022-01-01"), "A", "AA", 10.168, 40.646, "F1", 1.0, "qa"),
        Row(ts("2022-01-15"), "A", "A B", 10.168, 40.646, "F1", 3.0, "qb"),
        Row(ts("2022-02-02"), "A", "AB", 9.55, 31.65, "F1", 5.0, "qa"),
        Row(ts("2022-02-02"), "B", "BA", -9.55, -31.65, "F1", 7.0, "qa")))
      .write.parquet(input)

    def run(destType: String, bucket: String): Unit =
      Pipeline.run(spark, PipelineConfig("m1", "r1", Seq(input),
        qualifierMap = Map("F1" -> Seq("qual1")),
        destType = destType, modelBucket = bucket, s3Conf = s3Conf))

    run("file", s"$outDir/bucketFile")
    // objects land at the local path of the key; the bucket authority is
    // carried by the s3a URI exactly as a real bucket would be
    run("s3", s"s3a://test-bucket$outDir/bucketS3")

    val b = s"$outDir/bucketS3"
    // reference tree spots (doc/minio-folder-structure.md)
    assert(Files.exists(Paths.get(b, "m1/r1/month/F1/timeseries/global/global.csv")))
    assert(Files.exists(Paths.get(b, "m1/r1/year/F1/timeseries/global/global.csv")))
    assert(Files.exists(Paths.get(b, "m1/r1/month/F1/regional/country/stats/default/extrema.json")))
    assert(Files.exists(Paths.get(b, "m1/r1/month/F1/regional/admin1/timeseries/default/A__AA.csv")))
    // a region name with a space must produce the same key an object store
    // would receive (no URI-encoding mangling in the writer)
    assert(Files.exists(Paths.get(b, "m1/r1/month/F1/regional/admin1/timeseries/default/A__A B.csv")))
    assert(Files.exists(Paths.get(b, "m1/r1/month/F1/regional/country/timeseries/qualifiers/qual1/qa/A.csv")))
    assert(Files.exists(Paths.get(b, "m1/r1/raw/F1/info/region_lists.json")))
    assert(Files.exists(Paths.get(b, "m1/r1/results/results.json")))

    // byte-identical to the file-writer tree: the s3a path adds scheme and
    // FileSystem indirection, never content differences
    def tree(root: String): Map[String, Array[Byte]] = {
      val r = Paths.get(root)
      val s = Files.walk(r)
      try s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => r.relativize(p).toString -> Files.readAllBytes(p)).toMap
      finally s.close()
    }
    val (fileTree, s3Tree) = (tree(s"$outDir/bucketFile"), tree(b))
    assert(fileTree.keySet === s3Tree.keySet)
    for ((k, bytes) <- fileTree)
      assert(java.util.Arrays.equals(bytes, s3Tree(k)), s"byte mismatch: $k")
  }

  test("s3Conf overrides reach the executor-side FileSystem resolution") {
    // without the fs.s3a.impl override there is no s3a connector on this
    // classpath at all — a successful write IS the proof the conf landed
    val outDir = SparkSpec.tempDir("grafts3conf").toString
    val w = graft.io.Writer.forDest("s3", s"s3a://bkt$outDir", s3Conf)
    w.write("hello", "a/b/c.txt")
    assert(Files.readString(Paths.get(s"$outDir/a/b/c.txt")) === "hello")
    // and the un-overridden form must fail (no s3a impl available)
    val bare = graft.io.Writer.forDest("s3", s"s3a://bkt$outDir")
    intercept[Exception] { bare.write("x", "d.txt") }
  }
}
