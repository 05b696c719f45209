package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.{BandIndex, Compact, Manifest, SeenSet, TextIndex}

/** [[Compact]]: compaction must be invisible to every serving path
  * (content-identical), reduce fragmented buckets to one LIVE file
  * each, leave already-compact buckets' files untouched, remove the
  * physical duplicates replayed appends leave, and be an idempotent
  * no-op when re-run. On manifest trees (everything the build faces
  * write now) compaction is logical — superseded files stay on disk
  * for snapshot-pinned readers — and [[Manifest.vacuum]] is the
  * physical reclaim, so the byte-level assertions here run after the
  * vacuum. */
class CompactSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  private def parquetsPerBucket(tree: String, prefix: String): Map[String, Int] =
    new java.io.File(tree).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith(prefix))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  private def parquetsPerBucketDeep(tree: String, prefix: String): Map[String, Int] = {
    def deepCount(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(deepCount).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    new java.io.File(tree).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith(prefix))
      .map(d => d.getName -> deepCount(d)).toMap
  }

  test("text index: three appends fragment, compaction consolidates the batch tags") {
    val dir = SparkSpec.tempDir("graft-cmp-ti").toString
    TextIndex.writeIndex(docs.filter(col("doc_id") < 100), "doc_id", "text",
      dir, buckets = 8)
    Seq((100, 200), (200, 300), (300, 400)).foreach { case (a, b) =>
      TextIndex.appendToIndex(
        docs.filter(col("doc_id") >= a && col("doc_id") < b),
        "doc_id", "text", dir)
    }
    val before = parquetsPerBucketDeep(s"$dir/postings", "term_bucket=")
    assert(before.values.max > 1, "appends must have fragmented the buckets")
    val served = rowSet(TextIndex.bm25SearchIndex(spark, dir,
      Seq("the", "and"), k = 10))
    val stats = TextIndex.compact(spark, dir)
    assert(stats.bucketsCompacted > 0 && stats.filesAfter === stats.bucketsCompacted)
    assert(rowSet(TextIndex.bm25SearchIndex(spark, dir,
      Seq("the", "and"), k = 10)) === served,
      "compaction changed what the index serves")
    // physical reclaim is vacuum's job (superseded files stay on disk
    // for snapshot-pinned readers until then)
    assert(TextIndex.vacuum(spark, dir).filesDeleted > 0)
    val after = parquetsPerBucketDeep(s"$dir/postings", "term_bucket=")
    assert(after.keySet === before.keySet)
    assert(after.values.forall(_ === 1), s"still fragmented: $after")
    assert(rowSet(TextIndex.bm25SearchIndex(spark, dir,
      Seq("the", "and"), k = 10)) === served,
      "vacuum changed what the index serves")
    // idempotent: a single consolidated tag remains — nothing to do
    assert(TextIndex.compact(spark, dir) === Compact.CompactStats(0, 0, 0))
  }

  test("text index: a torn consolidation's duplicates collapse at read") {
    // crash after the consolidated tag committed but before the old tags
    // were deleted: every posting exists twice; the search faces must
    // serve the same results, and the next compact must converge
    val dir = SparkSpec.tempDir("graft-cmp-ti-torn").toString
    TextIndex.writeIndex(docs.filter(col("doc_id") < 150), "doc_id", "text",
      dir, buckets = 8)
    TextIndex.appendToIndex(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 250),
      "doc_id", "text", dir)
    val served = rowSet(TextIndex.bm25SearchIndex(spark, dir,
      Seq("the", "and"), k = 10))
    // simulate the torn state: duplicate EVERY posting under a fake
    // consolidated tag (what a committed-but-uncleaned compact leaves)
    val dup = spark.read.parquet(s"$dir/postings")
      .drop("ingest_batch")
      .withColumn("term_bucket", col("term_bucket").cast("long"))
      .withColumn("ingest_batch", lit("cdeadbeef"))
    dup.write.mode("append").partitionBy("term_bucket", "ingest_batch")
      .parquet(s"$dir/postings")
    assert(rowSet(TextIndex.bm25SearchIndex(spark, dir,
      Seq("the", "and"), k = 10)) === served,
      "duplicated postings must collapse at read, not double tf")
    val stats = TextIndex.compact(spark, dir)
    assert(stats.bucketsCompacted > 0)
    assert(rowSet(TextIndex.bm25SearchIndex(spark, dir,
      Seq("the", "and"), k = 10)) === served)
    assert(TextIndex.compact(spark, dir) === Compact.CompactStats(0, 0, 0))
  }

  test("band index: compaction removes replay duplicates and keeps probe exact") {
    val dir = SparkSpec.tempDir("graft-cmp-bi").toString
    BandIndex.writeIndex(docs.filter(col("doc_id") < 150), "doc_id", "text", dir)
    val delta = docs.filter(col("doc_id") >= 150 && col("doc_id") < 250)
    BandIndex.appendToIndex(delta, "doc_id", "text", dir)
    // the crash window: the same append replayed physically
    BandIndex.appendToIndex(delta, "doc_id", "text", dir)
    val batch = docs.filter(col("doc_id") >= 250)
    val served = rowSet(BandIndex.probe(spark, dir, batch, "doc_id", "text"))
    val rowsBefore = spark.read.parquet(s"$dir/bands").count()
    val stats = BandIndex.compact(spark, dir)
    assert(stats.bucketsCompacted > 0)
    assert(rowSet(BandIndex.probe(spark, dir, batch, "doc_id", "text"))
      === served, "compaction changed the served pairs")
    // vacuum reclaims the superseded bytes; only then does the
    // directory read shrink
    assert(BandIndex.vacuum(spark, dir).filesDeleted > 0)
    assert(spark.read.parquet(s"$dir/bands").count() < rowsBefore,
      "the duplicated delta's rows must be gone")
    assert(rowSet(BandIndex.probe(spark, dir, batch, "doc_id", "text"))
      === served, "vacuum changed the served pairs")
    assert(parquetsPerBucket(s"$dir/bands", "band_bucket=")
      .values.forall(_ === 1))
  }

  test("seen set: compaction shrinks re-appended urls, membership unchanged") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-cmp-ss").toString
    def url(i: Int) = s"http://x${i % 5}.com/p/$i"
    SeenSet.writeSet((0 until 200).map(url).toDF("url"), "url", dir,
      buckets = 16)
    val delta = (150 until 300).map(url).toDF("url")
    SeenSet.appendToSet(delta, "url", dir) // 150-199 now duplicated
    val batch = (250 until 400).map(url).toDF("url")
    val novel = rowSet(SeenSet.probeNovel(spark, dir, batch, "url"))
    val rowsBefore = spark.read.parquet(s"$dir/urls").count()
    assert(rowsBefore > 300, "fixture must contain physical duplicates")
    val stats = SeenSet.compact(spark, dir)
    assert(stats.bucketsCompacted > 0)
    assert(rowSet(SeenSet.probeNovel(spark, dir, batch, "url")) === novel,
      "compaction changed membership")
    assert(SeenSet.vacuum(spark, dir).filesDeleted > 0)
    assert(spark.read.parquet(s"$dir/urls").count() === 300)
    assert(rowSet(SeenSet.probeNovel(spark, dir, batch, "url")) === novel,
      "vacuum changed membership")
  }

  test("only fragmented buckets are rewritten; compact buckets keep their files") {
    // the single-level compactTree (band index): a one-doc append
    // fragments only the buckets ITS bands hash to — the others must
    // keep their exact files
    val dir = SparkSpec.tempDir("graft-cmp-sel").toString
    BandIndex.writeIndex(docs.filter(col("doc_id") < 100), "doc_id", "text",
      dir, buckets = 16)
    BandIndex.appendToIndex(docs.filter(col("doc_id") === 100),
      "doc_id", "text", dir)
    val before = parquetsPerBucket(s"$dir/bands", "band_bucket=")
    val untouched = before.filter(_._2 === 1).keySet
    assert(untouched.nonEmpty, "fixture degenerate: every bucket touched")
    val mtimes = new java.io.File(s"$dir/bands").listFiles()
      .filter(d => untouched(d.getName))
      .flatMap(d => d.listFiles().map(f => f.getPath -> f.lastModified()))
      .toMap
    val stats = BandIndex.compact(spark, dir)
    assert(stats.bucketsCompacted === before.count(_._2 > 1))
    val mtimesAfter = new java.io.File(s"$dir/bands").listFiles()
      .filter(d => untouched(d.getName))
      .flatMap(d => d.listFiles().map(f => f.getPath -> f.lastModified()))
      .toMap
    assert(mtimesAfter === mtimes,
      "compaction rewrote buckets that were not fragmented")
  }
}
