package graft.pipeline

import graft.testbed.Datacube

/** Local end-to-end smoke run: materializes the TPC-H-ish datacube mapping
  * as a parquet input, then runs the full pipeline with the file writer.
  *
  * Usage: runMain graft.pipeline.RunLocal [sfDir] [outDir]
  */
object RunLocal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_pipeline_out")
    val spark = graft.Session.local()

    val input = s"$outDir/input"
    val cube = Datacube(spark, sfDir)
    cube.write.mode("overwrite").parquet(input)
    // breakdowns are opt-in (reference: empty map = none); request qual1 for
    // every feature ACTUALLY PRESENT so the qualifier paths stay exercised
    // even if the generated features change
    val features = cube.select("feature").distinct()
      .collect().map(_.getString(0)).toSeq

    val cfg = PipelineConfig(
      modelId = "testmodel",
      runId = "testrun",
      dataPaths = Seq(input),
      weightColumn = "weight",
      qualifierMap = features.map(_ -> Seq("qual1")).toMap,
      destType = "file",
      modelBucket = s"$outDir/bucket")
    val t0 = System.nanoTime()
    val result = Pipeline.run(spark, cfg)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"pipeline done in $secs%.1f s: rows=${result.numRows} " +
      s"features=${result.features.mkString(",")} objects=${result.objectsWritten}")
    spark.stop()
  }
}
