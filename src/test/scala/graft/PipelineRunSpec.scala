package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.pipeline.{Pipeline, PipelineConfig}

/** Full end-to-end pipeline run on a tiny fixture: every stage executes,
  * the output tree matches the reference layout, and results.json carries
  * the reference's data_info contract (tests/unit/test_record_results.py
  * semantics). */
class PipelineRunSpec extends SparkSpec {

  test("end-to-end run materializes the reference tree and results.json") {
    val outDir = SparkSpec.tempDir("grafte2e").toString
    val input = s"$outDir/input"
    df(
      "timestamp LONG, country STRING, admin1 STRING, lat DOUBLE, lng DOUBLE, " +
        "feature STRING, value DOUBLE, qual1 STRING, w DOUBLE",
      Seq(
        Row(ts("2022-01-01"), "A", "AA", 10.168, 40.646, "F1", 1.0, "qa", 1.0),
        Row(ts("2022-01-15"), "A", "AA", 10.168, 40.646, "F1", 3.0, "qb", 2.0),
        Row(ts("2022-02-02"), "A", "AB", 9.55, 31.65, "F1", 5.0, "qa", 1.0),
        Row(ts("2022-02-02"), "B", "BA", -9.55, -31.65, "F1", 7.0, "qa", 1.0),
        Row(ts("2022-01-01"), "B", "BA", -9.55, -31.65, "F2", 2.0, "qb", 3.0),
        Row(ts("2023-03-05"), "B", "BB", 0.5, 0.5, "F2", 4.0, "qa", 1.0)))
      .write.parquet(input)

    val cfg = PipelineConfig("m1", "r1", Seq(input),
      weightColumn = "w",
      qualifierMap = Map("F1" -> Seq("qual1"), "F2" -> Seq("qual1")),
      destType = "file", modelBucket = s"$outDir/bucket")
    val result = Pipeline.run(spark, cfg)

    assert(result.numRows === 6)
    assert(result.features === Seq("F1", "F2"))
    assert(result.regionColumns === Seq("country", "admin1"))
    assert(result.objectsWritten > 50)

    val b = s"$outDir/bucket"
    // reference tree spots (doc/minio-folder-structure.md)
    assert(Files.exists(Paths.get(b, "m1/r1/month/F1/timeseries/global/global.csv")))
    assert(Files.exists(Paths.get(b, "m1/r1/year/F1/timeseries/global/global.csv")))
    assert(Files.exists(Paths.get(b, "m1/r1/month/F1/regional/country/stats/default/extrema.json")))
    assert(Files.exists(Paths.get(b, "m1/r1/month/F1/regional/admin1/timeseries/default/A__AA.csv")))
    // qualifier breakdowns present because cfg.qualifierMap requested qual1
    assert(Files.exists(Paths.get(b, "m1/r1/month/F1/timeseries/qualifiers/qual1/s_sum_t_sum.csv")))
    assert(Files.exists(Paths.get(b, "m1/r1/month/F1/regional/country/timeseries/qualifiers/qual1/qa/A.csv")))
    assert(Files.exists(Paths.get(b, "m1/r1/raw/F1/info/region_lists.json")))
    assert(Files.exists(Paths.get(b, "m1/r1/raw/F1/info/qualifiers/qual1.json")))
    assert(Files.exists(Paths.get(b, "m1/r1/raw/F1/info/qualifier_counts.json")))
    assert(Files.exists(Paths.get(b, "m1/r1/raw/F1/raw/raw.csv")))
    assert(Files.exists(Paths.get(b, "m1/r1/results/results.json")))
    // tiles present for a geo dataset
    val tileDir = Paths.get(b, "m1/r1/month/F1/tiles")
    assert(Files.exists(tileDir) && Files.list(tileDir).count() > 0)

    // results.json data_info contract
    val results = Files.readString(Paths.get(b, "m1/r1/results/results.json"))
    for (key <- Seq("\"num_rows\": 6", "\"num_missing_ts\": 0", "\"num_invalid_ts\": 0",
        "\"num_missing_val\": 0", "\"has_tiles\": true", "\"has_monthly\": true",
        "\"has_annual\": true", "\"has_weights\": true", "\"grid data\"",
        "\"output_agg_values\"")) {
      assert(results.contains(key), s"results.json missing $key")
    }

    // global.csv for F1 month: weighted agg columns present, header first
    val csv = Files.readString(Paths.get(b, "m1/r1/month/F1/timeseries/global/global.csv"))
    assert(csv.startsWith("timestamp,s_sum_t_sum,s_mean_t_sum,s_sum_t_mean,s_mean_t_mean,s_count," +
      "s_sum_t_wavg,s_mean_t_wavg,s_wavg_t_sum,s_wavg_t_mean,s_wavg_t_wavg\n"))
  }

  test("object-store sink (S6): Hadoop FS path produces a byte-identical tree") {
    // file:/ through HadoopFsWriter exercises the same FileSystem code path
    // a real s3a:// destination takes (create/close per object)
    val outDir = SparkSpec.tempDir("grafts6").toString
    val input = s"$outDir/input"
    df(
      "timestamp LONG, country STRING, admin1 STRING, feature STRING, value DOUBLE",
      Seq(
        Row(ts("2022-01-01"), "A", "AA", "F1", 1.0),
        Row(ts("2022-02-02"), "A", "AB", "F1", 5.0),
        Row(ts("2022-02-02"), "B", "BA", "F1", 7.0)))
      .write.parquet(input)

    def run(destType: String, bucket: String): Unit =
      Pipeline.run(spark, PipelineConfig("m3", "r3", Seq(input),
        destType = destType, modelBucket = bucket))
    run("file", s"$outDir/bucketA")
    run("s3", Paths.get(s"$outDir/bucketB").toUri.toString)

    def tree(root: String): Map[String, Array[Byte]] = {
      val r = Paths.get(root)
      val s = Files.walk(r)
      try s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => r.relativize(p).toString -> Files.readAllBytes(p)).toMap
      finally s.close()
    }
    val (a, b) = (tree(s"$outDir/bucketA"), tree(s"$outDir/bucketB"))
    assert(a.keySet === b.keySet)
    assert(a.keySet.exists(_.endsWith("results/results.json")))
    for ((k, bytes) <- a) assert(java.util.Arrays.equals(bytes, b(k)), s"byte mismatch: $k")
  }

  test("s3 destination URIs are validated and s3:// is normalized to s3a://") {
    import graft.io.{HadoopFsWriter, Writer}
    assert(Writer.forDest("s3", "s3://bkt") === HadoopFsWriter("s3a://bkt"))
    assert(Writer.forDest("s3", "s3a://bkt") === HadoopFsWriter("s3a://bkt"))
    intercept[IllegalArgumentException] { Writer.forDest("s3", "just-a-bucket-name") }
    intercept[IllegalArgumentException] { Writer.forDest("gcs", "gs://bkt") }
  }

  test("a run that fails after caching its input releases the cache") {
    val outDir = SparkSpec.tempDir("grafte2f").toString
    val input = s"$outDir/input"
    df("timestamp LONG, country STRING, feature STRING, value DOUBLE",
      Seq(Row(0L, "A", "F1", 1.0), Row(86400000L, "B", "F1", 2.0)))
      .write.parquet(input)
    // the validated frame is cached and counted (so its cache-manager
    // entry holds a persisted RDD) before the writer is built and throws
    def cached = spark.sparkContext.getPersistentRDDs.size
    val before = cached
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, PipelineConfig("m5", "r5", Seq(input),
        destType = "bogus", modelBucket = s"$outDir/bucket"))
    }
    assert(cached <= before)
  }

  /** Weighted regional input without lat/lng: four admin levels, two
    * qualifier columns, two features over two years. */
  private def writeRegionalInput(input: String): Unit =
    df("timestamp LONG, country STRING, admin1 STRING, admin2 STRING, admin3 STRING, " +
        "feature STRING, value DOUBLE, qa STRING, qb STRING, w DOUBLE",
      for {
        (date, i) <- Seq("2022-01-03", "2022-02-10", "2022-02-20", "2023-05-01").zipWithIndex
        (leaf, j) <- Seq(("A", "AA", "AAA", "AAAA"), ("A", "AA", "AAB", "AABA"),
          ("A", "AB", "ABA", "ABAA"), ("B", "BA", "BAA", "BAAA")).zipWithIndex
        feature <- Seq("F1", "F2")
      } yield Row(ts(date), leaf._1, leaf._2, leaf._3, leaf._4, feature,
        (i * 4 + j).toDouble, s"a${j % 2}", s"b${i % 3}", 1.0 + j))
      .write.parquet(input)

  test("a run with regions and qualifiers releases every cache it makes") {
    val outDir = SparkSpec.tempDir("grafte2r").toString
    val input = s"$outDir/input"
    writeRegionalInput(input)
    def cached = spark.sparkContext.getPersistentRDDs.size
    val before = cached
    val result = Pipeline.run(spark, PipelineConfig("m6", "r6", Seq(input),
      weightColumn = "w", qualifierMap = Map("F1" -> Seq("qa"), "F2" -> Seq("qa", "qb")),
      destType = "file", modelBucket = s"$outDir/bucket"))
    assert(result.regionColumns === Seq("country", "admin1", "admin2", "admin3"))
    assert(Files.exists(Paths.get(outDir,
      "bucket/m6/r6/year/F2/regional/admin3/aggs/1640995200000/default/default.csv")))
    assert(cached === before)
  }

  test("a weighted regional run issues at most 45 Spark jobs") {
    // the shape of the regional fan-out benchmark: an indicator run with
    // every task selected, four admin levels, qualifier columns but no
    // breakdown, no lat/lng. It took 63 jobs before the run shared one
    // regional aggregate per resolution and made one metadata and one
    // validation pass.
    val outDir = SparkSpec.tempDir("grafte2j").toString
    val input = s"$outDir/input"
    writeRegionalInput(input)
    val cfg = PipelineConfig("m7", "r7", Seq(input), isIndicator = true,
      weightColumn = "w", destType = "none")
    val sc = spark.sparkContext
    val drains = new graft.obs.Metrics
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (!Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("graft.obs.drain."))) jobs.incrementAndGet()
    }
    sc.addSparkListener(drains)
    sc.addSparkListener(counter)
    try {
      drains.drain(sc)
      jobs.set(0)
      Pipeline.run(spark, cfg)
      drains.drain(sc) // every job start of the run has reached the bus
    } finally {
      sc.removeSparkListener(counter)
      sc.removeSparkListener(drains)
    }
    info(s"${jobs.get} jobs")
    assert(jobs.get <= 45)
  }

  test("run with no region columns completes and skips regional outputs") {
    val outDir = SparkSpec.tempDir("grafte2c").toString
    val input = s"$outDir/input"
    df("timestamp LONG, lat DOUBLE, lng DOUBLE, feature STRING, value DOUBLE",
      Seq(
        Row(ts("2022-01-01"), 10.1, 40.6, "F1", 1.0),
        Row(ts("2022-02-02"), 9.5, 31.6, "F1", 5.0)))
      .write.parquet(input)
    val cfg = PipelineConfig("m4", "r4", Seq(input),
      destType = "file", modelBucket = s"$outDir/bucket")
    val result = Pipeline.run(spark, cfg)
    assert(result.numRows === 2)
    assert(result.regionColumns === Seq.empty)
    val b = s"$outDir/bucket"
    assert(Files.exists(Paths.get(b, "m4/r4/month/F1/timeseries/global/global.csv")))
    assert(!Files.exists(Paths.get(b, "m4/r4/month/F1/regional"))) // no admin cols
    assert(Files.exists(Paths.get(b, "m4/r4/results/results.json"))) // still a full run
    // tiles present: lat/lng exist even without an admin hierarchy
    assert(Files.list(Paths.get(b, "m4/r4/month/F1/tiles")).count() > 0)
  }

  test("indicator run with selected tasks skips summary, tiles and results") {
    val outDir = SparkSpec.tempDir("grafte2b").toString
    val input = s"$outDir/input"
    df("timestamp LONG, country STRING, feature STRING, value DOUBLE",
      Seq(Row(0L, "A", "F1", 1.0), Row(86400000L, "B", "F1", 2.0)))
      .write.parquet(input)
    val cfg = PipelineConfig("m2", "r2", Seq(input), isIndicator = true,
      selectedOutputTasks = Seq("compute_global_timeseries"),
      destType = "file", indicatorBucket = s"$outDir/ind")
    Pipeline.run(spark, cfg)
    val b = s"$outDir/ind"
    assert(Files.exists(Paths.get(b, "m2/r2/month/F1/timeseries/global/global.csv")))
    // skipped: regional outputs, tiles (no lat/lng anyway), results.json
    assert(!Files.exists(Paths.get(b, "m2/r2/month/F1/regional")))
    assert(!Files.exists(Paths.get(b, "m2/r2/results/results.json")))
  }
}
