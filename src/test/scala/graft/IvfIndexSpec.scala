package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** [[Similarity.ivfIndexWrite]] / [[Similarity.ivfIndexTopK]]: the persisted
  * index must return exactly what the in-flight [[Similarity.ivfTopK]]
  * computes, and the probe scan must be partition-pruned to the probed
  * cells — the property that makes a 100 TB index readable per query batch.
  */
class IvfIndexSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("index probe equals in-flight IVF and prunes to the probed cells") {
    val dir = SparkSpec.tempDir("graft-ivf").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding", dir, nCentroids = 16)
    val queries = emb.filter(col("vec_id") < 5)

    val fromIndex = Similarity.ivfIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 3, nProbe = 4)
    val inFlight = Similarity.ivfTopK(emb, queries,
      "vec_id", "embedding", k = 3, nCentroids = 16, nProbe = 4)
    assert(rowSet(fromIndex) === rowSet(inFlight),
      "the persisted index must reproduce the in-flight result exactly")

    // layout: one directory per cell
    val cellDirs = new java.io.File(s"$dir/assignments").listFiles()
      .filter(_.getName.startsWith("cent_id=")).map(_.getName).sorted
    assert(cellDirs.nonEmpty && cellDirs.length <= 16)

    // pruning: the assignment scan's selected partitions are exactly the
    // probed cells (<= nQueries x nProbe, strictly fewer than the cells on
    // disk here), checked on the executed plan's file scan. AQE wraps
    // finished stages in QueryStageExec leaves, so the collector recurses
    // through them (after forcing execution to finalize the plan).
    fromIndex.count()
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case f: FileSourceScanExec => Seq(f) }.flatten ++
        p.collect { case a: AdaptiveSparkPlanExec => allScans(a.executedPlan) }.flatten ++
        p.collect {
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
        }.flatten
    val scans = allScans(fromIndex.queryExecution.executedPlan)
    val assignScan = scans.find(_.metadata.get("Location").exists(_.contains("assignments")))
      .getOrElse(fail(s"no assignment file scan in plan: $scans"))
    assert(assignScan.metadata("PartitionFilters").contains("cent_id"),
      s"scan carries no cent_id partition filter: ${assignScan.metadata("PartitionFilters")}")
    val selected = assignScan.selectedPartitions.partitionCount
    assert(selected > 0 && selected < cellDirs.length,
      s"probe read $selected of ${cellDirs.length} cells — not pruned")
  }

  test("refined index seed matches the refined in-flight variant") {
    val dir = SparkSpec.tempDir("graft-ivf-r").toFile.getAbsolutePath
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding", dir,
      nCentroids = 16, refineIters = 2)
    val queries = emb.filter(col("vec_id") < 5)
    val fromIndex = Similarity.ivfIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 3, nProbe = 4)
    val inFlight = Similarity.ivfTopK(emb, queries,
      "vec_id", "embedding", k = 3, nCentroids = 16, nProbe = 4, refineIters = 2)
    assert(rowSet(fromIndex) === rowSet(inFlight))
  }
}
