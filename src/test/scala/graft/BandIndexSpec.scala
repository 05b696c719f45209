package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.io.BandIndex
import graft.operators.Dedup

/** [[BandIndex]]: the persisted MinHash band index must serve
  * [[Dedup.incrementalNearDup]]'s exact candidate pairs while reading only
  * the probed bucket directories, and appending a delta must equal a full
  * rebuild — the continuous-ingestion dedup contract.
  */
class BandIndexSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val reference = docs.filter(col("doc_id") < 250)
  private lazy val batch = docs.filter(col("doc_id") >= 250)

  test("probe equals in-flight incrementalNearDup") {
    val dir = SparkSpec.tempDir("graft-band").toFile.getAbsolutePath
    BandIndex.writeIndex(reference, "doc_id", "text", dir,
      n = 3, numHashes = 64, bands = 16)
    val fromIndex = BandIndex.probe(spark, dir, batch, "doc_id", "text")
    val inFlight = Dedup.incrementalNearDup(reference, batch, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16)
    assert(rowSet(fromIndex) === rowSet(inFlight),
      "index-served candidates must equal the in-flight operator exactly")
    assert(fromIndex.count() > 0, "fixture produced no candidate pairs")
  }

  test("append equals full rebuild, and the probe scan is bucket-pruned") {
    // build on the first half of the reference, append the second half —
    // the probe must then equal the full-rebuild index AND the in-flight op
    val dirApp = SparkSpec.tempDir("graft-band-app").toFile.getAbsolutePath
    BandIndex.writeIndex(reference.filter(col("doc_id") < 120),
      "doc_id", "text", dirApp, n = 3, numHashes = 64, bands = 16)
    BandIndex.appendToIndex(
      reference.filter(col("doc_id") >= 120), "doc_id", "text", dirApp)
    val appended = BandIndex.probe(spark, dirApp, batch, "doc_id", "text")
    val inFlight = Dedup.incrementalNearDup(reference, batch, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16)
    assert(rowSet(appended) === rowSet(inFlight),
      "append must converge to the full-rebuild candidate set")

    // pruning pin needs a probe whose bands cover FEWER buckets than exist:
    // one tiny batch (1 doc = 16 bands) against a high-bucket index
    val dirP = SparkSpec.tempDir("graft-band-prune").toFile.getAbsolutePath
    BandIndex.writeIndex(reference, "doc_id", "text", dirP,
      n = 3, numHashes = 64, bands = 16, buckets = 256)
    val tiny = batch.orderBy("doc_id").limit(1)
    val probed = BandIndex.probe(spark, dirP, tiny, "doc_id", "text")
    probed.count()
    val bucketDirs = new java.io.File(s"$dirP/bands").listFiles()
      .filter(_.getName.startsWith("band_bucket=")).map(_.getName)
    assert(bucketDirs.nonEmpty)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case f: FileSourceScanExec => Seq(f) }.flatten ++
        p.collect { case a: AdaptiveSparkPlanExec => allScans(a.executedPlan) }.flatten ++
        p.collect {
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
        }.flatten
    val scans = allScans(probed.queryExecution.executedPlan)
    val bandScan = scans.find(_.metadata.get("Location").exists(_.contains("bands")))
      .getOrElse(fail(s"no bands file scan in plan: $scans"))
    assert(bandScan.metadata("PartitionFilters").contains("band_bucket"),
      s"scan carries no band_bucket partition filter: ${bandScan.metadata("PartitionFilters")}")
    val selected = bandScan.selectedPartitions.partitionCount
    assert(selected > 0 && selected <= 16 && selected < bucketDirs.length,
      s"1-doc probe read $selected of ${bucketDirs.length} buckets — not pruned")
  }

  test("probe resolves signature parameters from the layout") {
    // non-default geometry: 32 hashes x 8 bands — a caller-side default
    // would band differently and the candidate set would diverge
    val dir = SparkSpec.tempDir("graft-band-m").toFile.getAbsolutePath
    BandIndex.writeIndex(reference, "doc_id", "text", dir,
      n = 2, numHashes = 32, bands = 8)
    val fromIndex = BandIndex.probe(spark, dir, batch, "doc_id", "text")
    val inFlight = Dedup.incrementalNearDup(reference, batch, "doc_id", "text",
      n = 2, numHashes = 32, bands = 8)
    assert(rowSet(fromIndex) === rowSet(inFlight))
  }

  test("day-zero index: built from an empty reference, probes empty, grows") {
    // the steady-state loop's bootstrap: the near-dup index exists
    // before any reference doc. Probe must serve an EMPTY candidate set
    // (schema sidecar, not an inference error); append is the first
    // content and the grown index equals a from-scratch build.
    val dir = SparkSpec.tempDir("graft-band-zero").toString
    BandIndex.writeIndex(reference.limit(0), "doc_id", "text", dir)
    assert(BandIndex.probe(spark, dir, batch, "doc_id", "text").isEmpty,
      "an empty index must probe empty, not throw")
    BandIndex.appendToIndex(reference, "doc_id", "text", dir)
    val dirRef = SparkSpec.tempDir("graft-band-zero-f").toString
    BandIndex.writeIndex(reference, "doc_id", "text", dirRef)
    assert(rowSet(BandIndex.probe(spark, dir, batch, "doc_id", "text"))
      === rowSet(BandIndex.probe(spark, dirRef, batch, "doc_id", "text")),
      "empty-then-append must equal the from-scratch build")
  }
}
