package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.io.Manifest
import graft.operators.Similarity

/** [[Similarity.ivfPqIndexWrite]] / [[Similarity.ivfPqIndexTopK]]: the
  * persisted IVF+PQ index — the m-bytes-per-vector serving artifact — must
  * return exactly what the in-flight [[Similarity.ivfPqTopK]] computes, and
  * the codes scan must be partition-pruned to the probed cells (the
  * IvfIndexSpec contract, applied to the compressed index).
  */
class IvfPqIndexSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** The live data root: r19 manifest trees keep the four subtrees
    * under a generation directory; the newest gen is the live one in
    * every single-writer fixture here. */
  private def liveRoot(dir: String): String = {
    val gens = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("g[0-9]{6}"))
    if (gens.isEmpty) dir else s"$dir/${gens.map(_.getName).max}"
  }

  test("index serve equals in-flight IVF+PQ and prunes to the probed cells") {
    val dir = SparkSpec.tempDir("graft-ivfpq").toFile.getAbsolutePath
    Similarity.ivfPqIndexWrite(emb, "vec_id", "embedding", dir,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    val queries = emb.filter(col("vec_id") < 5)

    val fromIndex = Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 3, nProbe = 4)
    val inFlight = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 3, dims = 64, nCentroids = 16, nProbe = 4, m = 4, codes = 16, iters = 2)
    assert(rowSet(fromIndex) === rowSet(inFlight),
      "the persisted IVF+PQ index must reproduce the in-flight result exactly")
    assert(fromIndex.count() > 0, "serving returned no rows")

    // layout: one directory per coarse cell, codes only (m ints/vector)
    val cellDirs = new java.io.File(s"${liveRoot(dir)}/codes").listFiles()
      .filter(_.getName.startsWith("cent_id=")).map(_.getName).sorted
    assert(cellDirs.nonEmpty && cellDirs.length <= 16)

    // pruning: the codes scan's selected partitions are exactly the probed
    // cells — fewer than the cells on disk (5 queries x 4 probes over 16
    // cells cannot cover all cells the corpus populated here)
    fromIndex.count()
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case f: FileSourceScanExec => Seq(f) }.flatten ++
        p.collect { case a: AdaptiveSparkPlanExec => allScans(a.executedPlan) }.flatten ++
        p.collect {
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
        }.flatten
    val scans = allScans(fromIndex.queryExecution.executedPlan)
    val codesScan = scans.find(_.metadata.get("Location").exists(_.contains("codes")))
      .getOrElse(fail(s"no codes file scan in plan: $scans"))
    assert(codesScan.metadata("PartitionFilters").contains("cent_id"),
      s"scan carries no cent_id partition filter: ${codesScan.metadata("PartitionFilters")}")
    val selected = codesScan.selectedPartitions.partitionCount
    assert(selected > 0 && selected < cellDirs.length,
      s"probe read $selected of ${cellDirs.length} cells — not pruned")
  }

  test("append face: stored-artifact encode, coverage, monotone scores, pruning") {
    // the FAISS add() contract: train() frozen at build, the delta
    // quantized against the STORED artifacts (append == rebuild is
    // deliberately NOT the contract here — a rebuild would re-train)
    val dir = SparkSpec.tempDir("graft-ivfpq-app").toFile.getAbsolutePath
    val half = emb.filter(col("vec_id") < 150)
    val delta = emb.filter(col("vec_id") >= 150)
    Similarity.ivfPqIndexWrite(half, "vec_id", "embedding", dir,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    val queries = emb.filter(col("vec_id") < 5)
    val before = Similarity.ivfPqIndexTopK(spark, dir, queries,
        "vec_id", "embedding", k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))

    Similarity.ivfPqIndexAppend(delta, "vec_id", "embedding", dir)

    // layout fidelity: read-back codes (partition column included) equal
    // the in-flight encode with the same stored artifacts, row for row
    val readBack = spark.read.parquet(s"${liveRoot(dir)}/codes")
      .filter(col("neighbor_id") >= 150)
      .select(col("neighbor_id").cast("long"), col("cent_id").cast("int"),
        col("pq_codes"))
    val expected = Similarity.ivfPqIndexEncode(spark, dir, delta,
        "vec_id", "embedding")
      .select(col("neighbor_id").cast("long"), col("cent_id").cast("int"),
        col("pq_codes"))
    assert(rowSet(readBack) === rowSet(expected),
      "appended codes must equal the stored-artifact in-flight encode")

    val after = Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 3, nProbe = 4)
    // coverage: the delta's vectors are now reachable as neighbors
    assert(after.filter(col("neighbor_id") >= 150).count() > 0,
      "appended vectors never surfaced as neighbors")
    // monotone: adding candidates can only improve a query's best ADC
    // score (same scoring artifacts, larger candidate set)
    val bestBefore = before.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val bestAfter = after.filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    bestBefore.foreach { case (q, s) =>
      assert(bestAfter(q) >= s - 1e-9,
        s"query $q best score degraded after append: ${bestAfter(q)} < $s")
    }
    // pruning still holds over the appended layout
    after.count()
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case f: FileSourceScanExec => Seq(f) }.flatten ++
        p.collect { case a: AdaptiveSparkPlanExec => allScans(a.executedPlan) }.flatten ++
        p.collect {
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
        }.flatten
    val scans = allScans(after.queryExecution.executedPlan)
    val codesScan = scans.find(_.metadata.get("Location").exists(_.contains("codes")))
      .getOrElse(fail(s"no codes file scan in plan: $scans"))
    assert(codesScan.metadata("PartitionFilters").contains("cent_id"))
  }

  test("compaction defragments appended cells without changing serving") {
    val dir = SparkSpec.tempDir("graft-ivfpq-cmp").toFile.getAbsolutePath
    Similarity.ivfPqIndexWrite(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", dir,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    Seq((100, 180), (180, 250)).foreach { case (a, b) =>
      Similarity.ivfPqIndexAppend(
        emb.filter(col("vec_id") >= a && col("vec_id") < b),
        "vec_id", "embedding", dir)
    }
    def fanIn = new java.io.File(s"${liveRoot(dir)}/codes").listFiles()
      .filter(_.getName.startsWith("cent_id="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(fanIn.max > 1, "appends must have fragmented the cells")
    val queries = emb.filter(col("vec_id") < 5)
    val served = rowSet(Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 3, nProbe = 4))
    val stats = Similarity.ivfPqIndexCompact(spark, dir)
    assert(stats.bucketsCompacted > 0)
    assert(rowSet(Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 3, nProbe = 4)) === served,
      "compaction changed what the index serves")
    // physical defrag is vacuum's job (the superseded cell files stay
    // on disk for snapshot-pinned readers until then)
    assert(Similarity.ivfPqIndexVacuum(spark, dir).filesDeleted > 0)
    assert(fanIn.forall(_ === 1), "cells still fragmented after vacuum")
    assert(rowSet(Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 3, nProbe = 4)) === served,
      "vacuum changed what the index serves")
  }

  test("drift gauge: full-sample gauge equals recall of index serving vs exact") {
    // the strong arithmetic pin: with sample == the ENTIRE indexed
    // corpus and the same nProbe, the gauge's approx side encodes
    // exactly the codes the index holds, so the gauge must equal
    // recallAtK(index-served, brute-force) computed independently
    val dir = SparkSpec.tempDir("graft-ivfpq-drift").toFile.getAbsolutePath
    Similarity.ivfPqIndexWrite(emb, "vec_id", "embedding", dir,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    val queries = emb.filter(col("vec_id") < 8)
    val gauge = Similarity.ivfPqIndexDriftGauge(spark, dir, emb, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)
    val independent = Similarity.recallAtK(
      Similarity.ivfPqIndexTopK(spark, dir, queries, "vec_id", "embedding",
        k = 5, nProbe = 4),
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5),
      k = 5)
    assert(rowSet(gauge) === rowSet(independent),
      "gauge over the full sample must equal the independent recall")
    val recalls = gauge.select("recall").collect().map(_.getDouble(0))
    assert(recalls.length === 8)
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))

    // sliver gauge: deterministic (the maintenance cadence re-reads it —
    // a flapping gauge would flap the rebuild trigger) and bounded.
    // NOTE recall is deliberately NOT asserted monotone in nProbe:
    // probing more cells adds ADC-scored candidates whose quantization
    // noise can DISPLACE true neighbors found in the smaller probe set —
    // measured here (nProbe=4 read 0.475, nProbe=16 read 0.325 on this
    // fixture), which is exactly why the gauge exists: quantization
    // drift, not probe count, is what it measures.
    val sliver = emb.filter(col("vec_id") % 3 === 0)
    val g1 = rowSet(Similarity.ivfPqIndexDriftGauge(spark, dir, sliver,
      queries, "vec_id", "embedding", k = 5, nProbe = 4))
    val g2 = rowSet(Similarity.ivfPqIndexDriftGauge(spark, dir, sliver,
      queries, "vec_id", "embedding", k = 5, nProbe = 4))
    assert(g1 === g2, "the gauge must be deterministic across reads")
    assert(g1.nonEmpty)
  }

  test("a completed rebuild serves exactly what a fresh full build serves") {
    val dir = SparkSpec.tempDir("graft-ivfpq-rb").toFile.getAbsolutePath
    val half = emb.filter(col("vec_id") < 150)
    Similarity.ivfPqIndexWrite(half, "vec_id", "embedding", dir,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    val queries = emb.filter(col("vec_id") < 5)
    def serve() = rowSet(Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 3, nProbe = 4))

    // a completed rebuild re-trains on the full corpus and serves what a
    // fresh full-corpus build serves
    Similarity.ivfPqIndexRebuild(emb, "vec_id", "embedding", dir,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    assert(!new java.io.File(s"$dir.swap").exists(), "swap tree cleaned up")
    val fresh = SparkSpec.tempDir("graft-ivfpq-rb-f").toFile.getAbsolutePath
    Similarity.ivfPqIndexWrite(emb, "vec_id", "embedding", fresh,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    val v2 = serve()
    assert(v2 === rowSet(Similarity.ivfPqIndexTopK(spark, fresh, queries,
      "vec_id", "embedding", k = 3, nProbe = 4)),
      "a rebuilt index must serve exactly a fresh full-corpus build")
  }

  test("a torn rebuild's uncommitted generation never serves; the next rebuild numbers past it and vacuum sweeps it") {
    val dir = SparkSpec.tempDir("graft-ivfpq-torn").toFile.getAbsolutePath
    Similarity.ivfPqIndexWrite(emb.filter(col("vec_id") < 150), "vec_id",
      "embedding", dir, dims = 64, nCentroids = 16, m = 4, codes = 16,
      iters = 2)
    val queries = emb.filter(col("vec_id") < 5)
    def serve() = rowSet(Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 3, nProbe = 4))
    val v1 = serve()
    val snap1 = Manifest.current(spark, dir).get
    assert(snap1.files.forall(_.startsWith("g000001/")))

    // the torn rebuild: a whole full-corpus generation written as
    // g000002/ (every subtree, real parquet), then a crash before the
    // manifest commit
    val fresh = SparkSpec.tempDir("graft-ivfpq-torn-f").toFile.getAbsolutePath
    Similarity.ivfPqIndexWrite(emb, "vec_id", "embedding", fresh,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    val src = Paths.get(fresh, "g000001")
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p,
      Paths.get(dir, "g000002").resolve(src.relativize(p))))
    finally walk.close()
    assert(serve() === v1,
      "an uncommitted generation must not change what the index serves")
    assert(Manifest.current(spark, dir).get === snap1)

    // the next rebuild numbers past the torn directory, never reusing it
    Similarity.ivfPqIndexRebuild(emb, "vec_id", "embedding", dir,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    assert(Manifest.current(spark, dir).get.files
      .forall(_.startsWith("g000003/")))
    val v2 = rowSet(Similarity.ivfPqIndexTopK(spark, fresh, queries,
      "vec_id", "embedding", k = 3, nProbe = 4))
    assert(serve() === v2)

    // vacuum sweeps the torn generation with the retired one
    assert(Similarity.ivfPqIndexVacuum(spark, dir).filesDeleted > 0)
    assert(!new java.io.File(s"$dir/g000002").exists(),
      "vacuum must remove the torn generation directory")
    assert(!new java.io.File(s"$dir/g000001").exists())
    assert(serve() === v2)
  }

  test("an empty training corpus fails loudly at build, not obscurely later") {
    val dir = SparkSpec.tempDir("graft-ivfpq-zero").toFile.getAbsolutePath
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexWrite(emb.limit(0), "vec_id", "embedding", dir,
        dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    }
    assert(e.getMessage.contains("non-empty corpus"),
      s"wrong failure: ${e.getMessage}")
    // the guard sits in the shared train path: the in-flight face gets
    // the same loud failure instead of an obscure empty-seed crash
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb.limit(0), emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 3, dims = 64, nCentroids = 16,
        nProbe = 4, m = 4, codes = 16, iters = 2).count()
    }
    assert(e2.getMessage.contains("non-empty corpus"))
  }

  test("serving resolves parameters from the layout, not the caller") {
    // a non-default geometry: the meta sidecar must carry it to the probe
    val dir = SparkSpec.tempDir("graft-ivfpq-m8").toFile.getAbsolutePath
    Similarity.ivfPqIndexWrite(emb, "vec_id", "embedding", dir,
      dims = 64, nCentroids = 8, m = 8, codes = 8, iters = 1)
    val queries = emb.filter(col("vec_id") < 3)
    val fromIndex = Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 3, nProbe = 2)
    val inFlight = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 3, dims = 64, nCentroids = 8, nProbe = 2, m = 8, codes = 8, iters = 1)
    assert(rowSet(fromIndex) === rowSet(inFlight))
  }
}
