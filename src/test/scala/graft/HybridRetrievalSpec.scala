package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.TextIndex
import graft.operators.Similarity

/** ir9 — index-served hybrid retrieval (the RAG serving shape): BM25
  * from the persisted inverted index fused with ANN from the persisted
  * IVF+PQ index by reciprocal rank. The value claim at 100 TB is that
  * BOTH sides stay index-pruned — |terms| postings-bucket reads plus
  * nProbe code-cell reads, corpus-size-free — so the pin here is the
  * EXECUTED plan: the fused query's two file scans carry their
  * partition filters and select strictly fewer directories than exist.
  * The fusion arithmetic itself is re-derived from the two served
  * rankings in plain Scala. */
class HybridRetrievalSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  // 3 vector queries x 4 probes over 16 cells cannot cover the cell
  // directories, so the pruning pin has room (the battery's ir9 runs 20
  // queries; pruning is per-query metadata either way)
  private def fused(textDir: String, vecDir: String): DataFrame = {
    val text = TextIndex.bm25SearchIndex(spark, textDir,
        Seq("hash", "join", "merge"), k = 20)
      .select(col("doc_id"), col("rank").as("rank_t"))
    val ann = Similarity.ivfPqIndexTopK(spark, vecDir,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 3, nProbe = 4)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rank_a"))
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"))
    val u = qs.crossJoin(broadcast(text))
      .join(ann, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("rank_t")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("rank_a")), lit(0.0)), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    u.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("query_id", "rank", "doc_id", "rrf")
  }

  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] =
    p.collect { case f: FileSourceScanExec => Seq(f) }.flatten ++
      p.collect { case a: AdaptiveSparkPlanExec => allScans(a.executedPlan) }.flatten ++
      p.collect {
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
      }.flatten

  test("hybrid fusion: both index scans stay bucket/cell-pruned; rrf re-derives") {
    val textDir = SparkSpec.tempDir("graft-hyb-text").toString
    val vecDir = SparkSpec.tempDir("graft-hyb-vec").toString
    TextIndex.writeIndex(docs, "doc_id", "text", textDir, buckets = 16)
    Similarity.ivfPqIndexWrite(emb, "vec_id", "embedding", vecDir,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    val f = fused(textDir, vecDir)
    val rows = f.collect()
    assert(rows.nonEmpty, "fusion served nothing")

    // plan pin: the executed plan's postings and codes scans both carry
    // partition filters and read strictly fewer directories than exist
    val scans = allScans(f.queryExecution.executedPlan)
    def pin(scanSubstr: String, filterCol: String, totalDirs: Int): Unit = {
      val scan = scans.find(_.metadata.get("Location")
          .exists(_.contains(scanSubstr)))
        .getOrElse(fail(s"no $scanSubstr scan in the fused plan"))
      assert(scan.metadata("PartitionFilters").contains(filterCol),
        s"$scanSubstr scan lost its $filterCol pruning: " +
          scan.metadata("PartitionFilters"))
      val sel = scan.selectedPartitions.partitionCount
      assert(sel > 0 && sel < totalDirs,
        s"$scanSubstr read $sel of $totalDirs directories — not pruned")
    }
    val nCells = new java.io.File(s"$vecDir/g000001/codes").listFiles()
      .count(_.getName.startsWith("cent_id="))
    // postings dirs = (bucket, tag) leaves; 3 probed terms over 16
    // buckets cannot cover them all
    val nPostingDirs = 16
    pin("postings", "term_bucket", nPostingDirs)
    pin("codes", "cent_id", nCells)

    // arithmetic pin: rrf re-derived in plain Scala from the two served
    // rankings (full outer per (query, doc), 1/(60+rank) summed)
    val text = TextIndex.bm25SearchIndex(spark, textDir,
        Seq("hash", "join", "merge"), k = 20)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("rank")).toMap
    val ann = Similarity.ivfPqIndexTopK(spark, vecDir,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 3, nProbe = 4)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        -> r.getAs[Int]("rank")).toMap
    val queries = ann.keys.map(_._1).toSet ++
      emb.filter(col("vec_id") < 3).collect().map(_.getAs[Long]("vec_id"))
    val expected = queries.flatMap { q =>
      val docsOf = text.keySet ++ ann.keys.filter(_._1 == q).map(_._2)
      val scored = docsOf.toSeq.map { d =>
        val rrf = text.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          ann.get((q, d)).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (d, BigDecimal(rrf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (d, rrf) => (-rrf, d) }.take(5)
      scored.zipWithIndex.map { case ((d, rrf), i) => (q, i + 1, d, rrf) }
    }
    assert(rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"))).toSet === expected,
      "fused ranking must equal the hand fold of the two served rankings")
  }
}
