package graft

import org.apache.spark.sql.execution.FileSourceScanExec

import graft.io.TextIndex
import graft.operators.Keywords

/** The persisted inverted index: index-served BM25 equals the corpus-scan
  * operator, and the executed plan proves partition pruning to the query
  * terms' buckets. */
class TextIndexSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("bm25SearchIndex equals bm25Search bit-for-bit") {
    val dir = SparkSpec.tempDir("graft-textindex").toString
    TextIndex.writeIndex(docs, "doc_id", "text", dir, buckets = 32)
    val terms = Seq("hash", "join", "merge")
    val fromIndex = TextIndex.bm25SearchIndex(spark, dir, terms, k = 15)
      .collect().map(_.toSeq).toSeq
    val fromScan = Keywords.bm25Search(docs, "doc_id", "text", terms, k = 15)
      .collect().map(_.toSeq).toSeq
    assert(fromIndex === fromScan)
    assert(fromIndex.nonEmpty)
  }

  test("the postings scan is pruned to the probed buckets") {
    val dir = SparkSpec.tempDir("graft-textindex2").toString
    TextIndex.writeIndex(docs, "doc_id", "text", dir, buckets = 32)
    val q = TextIndex.bm25SearchIndex(spark, dir, Seq("hash"), k = 5)
    // AQE wraps finished stages in QueryStageExec leaves (the IvfIndexSpec
    // collector): force execution, then recurse through them
    q.count()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case f: FileSourceScanExec => Seq(f) }.flatten ++
        p.collect { case a: AdaptiveSparkPlanExec => allScans(a.executedPlan) }.flatten ++
        p.collect { case s: QueryStageExec => allScans(s.plan) }.flatten
    val scans = allScans(q.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("postings")))
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.metadata("PartitionFilters").contains("term_bucket"),
        s"postings scan carries no bucket partition filter: ${s.metadata("PartitionFilters")}")
      val bucketDirs = new java.io.File(s"$dir/postings").listFiles()
        .count(_.getName.startsWith("term_bucket="))
      val selected = s.selectedPartitions.partitionCount
      assert(selected > 0 && selected < bucketDirs,
        s"probe read $selected of $bucketDirs buckets — not pruned")
    }
  }

  test("appendToIndex: incremental add equals re-indexing the full corpus") {
    import org.apache.spark.sql.functions.col
    val dir = SparkSpec.tempDir("graft-textindex4").toString
    TextIndex.writeIndex(docs.filter(col("doc_id") < 250), "doc_id", "text",
      dir, buckets = 16)
    TextIndex.appendToIndex(docs.filter(col("doc_id") >= 250), "doc_id", "text", dir)
    val terms = Seq("hash", "join", "merge")
    val incremental = TextIndex.bm25SearchIndex(spark, dir, terms, k = 15)
      .collect().map(_.toSeq).toSeq
    val full = Keywords.bm25Search(docs, "doc_id", "text", terms, k = 15)
      .collect().map(_.toSeq).toSeq
    assert(incremental === full)
  }

  test("phraseSearchIndex equals the corpus-scan phraseSearch") {
    val dir = SparkSpec.tempDir("graft-textindex5").toString
    TextIndex.writeIndex(docs, "doc_id", "text", dir, buckets = 16)
    for (phrase <- Seq(Seq("table", "table"), Seq("fast", "key"),
        Seq("value", "table", "part"), Seq("no-such-term", "table"))) {
      val fromIndex = TextIndex.phraseSearchIndex(spark, dir, phrase)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val fromScan = Keywords.phraseSearch(docs, "doc_id", "text", phrase)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(fromIndex === fromScan, s"phrase $phrase")
    }
  }

  test("append/search use the PERSISTED bucket count, not the caller's") {
    // a caller-supplied count used to split a term's postings across two
    // directories (append) or probe the wrong directory (search); the
    // stats sidecar records the layout, and the faces after the build take
    // no count at all, so they must read the stored 16, not the default 64
    import org.apache.spark.sql.functions.col
    val dir = SparkSpec.tempDir("graft-textindex6").toString
    TextIndex.writeIndex(docs.filter(col("doc_id") < 250), "doc_id", "text",
      dir, buckets = 16)
    TextIndex.appendToIndex(docs.filter(col("doc_id") >= 250), "doc_id", "text", dir)
    val terms = Seq("hash", "join", "merge")
    val viaStored = TextIndex.bm25SearchIndex(spark, dir, terms, k = 15)
      .collect().map(_.toSeq).toSeq
    val full = Keywords.bm25Search(docs, "doc_id", "text", terms, k = 15)
      .collect().map(_.toSeq).toSeq
    assert(viaStored === full)
    val phraseStored = TextIndex.phraseSearchIndex(spark, dir, Seq("fast", "key"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val phraseScan = Keywords.phraseSearch(docs, "doc_id", "text", Seq("fast", "key"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(phraseStored === phraseScan)
  }

  test("a disjoint query over the same index finds its own postings") {
    val dir = SparkSpec.tempDir("graft-textindex3").toString
    TextIndex.writeIndex(docs, "doc_id", "text", dir, buckets = 8)
    val out = TextIndex.bm25SearchIndex(spark, dir, Seq("customer"), k = 3)
      .collect()
    val scan = Keywords.bm25Search(docs, "doc_id", "text", Seq("customer"), k = 3)
      .collect()
    assert(out.map(_.toSeq).toSeq === scan.map(_.toSeq).toSeq)
  }

  private def search(dir: String): Seq[Seq[Any]] =
    TextIndex.bm25SearchIndex(spark, dir,
      Seq("hash", "join", "merge"), k = 15)
      .collect().map(_.toSeq).toSeq

  test("appendToIndex retry is idempotent: content tag overwrites itself") {
    // the r17 advisory: a crash between the postings write and the
    // stats row used to make a naive caller retry double-append
    // postings (healed at read) and double-count the BM25 normalizers
    // (NOT healed — a second random-tag stats row). The content-derived
    // tag makes the retry overwrite its own leaves and stats row.
    val dir = SparkSpec.tempDir("graft-ti-retry").toString
    val base = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0)
    val delta = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
    TextIndex.writeIndex(base, "doc_id", "text", dir, buckets = 16)
    TextIndex.appendToIndex(delta, "doc_id", "text", dir)
    val once = search(dir)
    TextIndex.appendToIndex(delta, "doc_id", "text", dir) // the naive retry
    assert(search(dir) === once,
      "a retried append must not change tf or the stats ledger")
    // and both equal the from-scratch index (normalizers counted once)
    val dirFull = SparkSpec.tempDir("graft-ti-retry-f").toString
    TextIndex.writeIndex(docs, "doc_id", "text", dirFull, buckets = 16)
    assert(once === search(dirFull))
  }

  private def statsBatchDirs(dir: String): Seq[String] =
    new java.io.File(s"$dir/stats").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSeq

  test("compact folds the stats ledger to one row; search unchanged") {
    import org.apache.spark.sql.functions.col
    val dir = SparkSpec.tempDir("graft-ti-ledger").toString
    TextIndex.writeIndex(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", dir, buckets = 8)
    TextIndex.appendToIndex(docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", dir)
    TextIndex.appendToIndex(docs.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", dir)
    assert(statsBatchDirs(dir).length === 3, "one ledger row per append")
    val pre = search(dir)
    TextIndex.compact(spark, dir)
    assert(search(dir) === pre, "consolidated totals must be exact")
    // the fold is logical (snapshot-pinned readers keep the old rows);
    // vacuum is the physical reclaim that leaves ONE ledger row on disk
    TextIndex.vacuum(spark, dir): Unit
    assert(statsBatchDirs(dir).length === 1,
      "compaction must consolidate the ledger, not let it grow forever")
    assert(search(dir) === pre, "vacuum changed the served totals")
    // idempotent: a second compact is a no-op on a single-row ledger
    TextIndex.compact(spark, dir)
    assert(statsBatchDirs(dir).length === 1 && search(dir) === pre)
  }

  test("day-zero index: built empty, serves empty, grows by append") {
    // the steady-state loop's bootstrap shape: the index exists before
    // any document does. Every face must work — search serves EMPTY
    // (schema sidecar, not an inference error), append is the first
    // content, and the grown index equals a from-scratch build.
    val dir = SparkSpec.tempDir("graft-ti-zero").toString
    TextIndex.writeIndex(docs.limit(0), "doc_id", "text", dir, buckets = 8)
    assert(TextIndex.bm25SearchIndex(spark, dir,
      Seq("hash"), k = 5).isEmpty,
      "an empty index must serve empty, not throw")
    assert(TextIndex.phraseSearchIndex(spark, dir,
      Seq("hash", "join")).isEmpty)
    val half = docs.filter(org.apache.spark.sql.functions.col("doc_id") < 150)
    TextIndex.appendToIndex(half, "doc_id", "text", dir)
    val dirRef = SparkSpec.tempDir("graft-ti-zero-f").toString
    TextIndex.writeIndex(half, "doc_id", "text", dirRef, buckets = 8)
    assert(search(dir) === search(dirRef),
      "empty-then-append must equal the from-scratch build")
  }
}
