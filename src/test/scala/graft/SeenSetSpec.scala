package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.io.SeenSet

/** [[SeenSet]]: the persisted URL-seen set must answer novelty EXACTLY
  * (bit-identical to the plain anti-join — Bloom false positives confirmed
  * away, no false negatives possible), appending a delta must equal a full
  * rebuild, the confirm scan must be bucket-pruned, and probe must resolve
  * the layout from the index itself.
  */
class SeenSetSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def urlUniverse(df: DataFrame, mod: Int): DataFrame =
    df.select(
        concat(lit("http://site"), (col("doc_id") % 7).cast("string"),
          lit(".com/p"), (col("doc_id") % mod).cast("string")).as("url"),
        concat(lit("site"), (col("doc_id") % 7).cast("string"),
          lit(".com")).as("host"),
        col("doc_id"))
      .groupBy("url", "host").agg(min("doc_id").as("keeper"))

  private lazy val seenUrls = urlUniverse(docs.filter(col("doc_id") < 250), 30)
  private lazy val batch = urlUniverse(docs.filter(col("doc_id") >= 250), 60)

  private def exactNovel(seen: DataFrame, b: DataFrame): DataFrame =
    b.join(seen.select(col("url").as("__s")), col("url") === col("__s"), "left_anti")

  test("probeNovel equals the plain anti-join exactly") {
    val dir = SparkSpec.tempDir("graft-seen").toFile.getAbsolutePath
    SeenSet.writeSet(seenUrls, "url", dir)
    val novel = SeenSet.probeNovel(spark, dir, batch, "url")
    val exact = exactNovel(seenUrls, batch)
    assert(rowSet(novel) === rowSet(exact),
      "seen-set probe must equal the exact anti-join")
    // the fixture must exercise both branches: some batch rows seen, some not
    val nb = batch.count(); val nn = novel.count()
    assert(nn > 0 && nn < nb, s"fixture degenerate: $nn of $nb novel")
    // all batch columns survive
    assert(novel.columns.toSeq === batch.columns.toSeq)
  }

  test("append equals full rebuild; appending the novel sliver closes the loop") {
    val dirApp = SparkSpec.tempDir("graft-seen-app").toFile.getAbsolutePath
    val first = urlUniverse(docs.filter(col("doc_id") < 120), 30)
    val second = urlUniverse(
      docs.filter(col("doc_id") >= 120 && col("doc_id") < 250), 30)
    SeenSet.writeSet(first, "url", dirApp)
    SeenSet.appendToSet(second, "url", dirApp)
    val appended = SeenSet.probeNovel(spark, dirApp, batch, "url")
    val exact = exactNovel(seenUrls, batch)
    assert(rowSet(appended) === rowSet(exact),
      "append must converge to the full-rebuild membership")

    // the fetch-loop feedback edge: append the novel sliver itself, then
    // re-probing the same batch must return NOTHING novel
    SeenSet.appendToSet(appended, "url", dirApp)
    assert(SeenSet.probeNovel(spark, dirApp, batch, "url").isEmpty,
      "after appending the novel sliver the batch must be fully seen")
  }

  test("confirm scan is bucket-pruned and Bloom-prefiltered") {
    // a 1-URL probe against a high-bucket set: the claimed sliver hashes
    // into at most one bucket, so the urls/ scan must read < buckets dirs
    val dirP = SparkSpec.tempDir("graft-seen-prune").toFile.getAbsolutePath
    SeenSet.writeSet(seenUrls, "url", dirP, buckets = 256)
    val one = seenUrls.orderBy("url").limit(1)
    val probed = SeenSet.probeNovel(spark, dirP, one, "url")
    assert(probed.isEmpty, "a known-seen URL must not come back novel")
    val bucketDirs = new java.io.File(s"$dirP/urls").listFiles()
      .filter(_.getName.startsWith("url_bucket=")).map(_.getName)
    assert(bucketDirs.length > 1)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case f: FileSourceScanExec => Seq(f) }.flatten ++
        p.collect { case a: AdaptiveSparkPlanExec => allScans(a.executedPlan) }.flatten ++
        p.collect {
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
        }.flatten
    val scans = allScans(probed.queryExecution.executedPlan)
    val urlScan = scans.find(_.metadata.get("Location").exists(_.contains("urls")))
      .getOrElse(fail(s"no urls file scan in plan: $scans"))
    assert(urlScan.metadata("PartitionFilters").contains("url_bucket"),
      s"scan carries no url_bucket partition filter: ${urlScan.metadata("PartitionFilters")}")
    val selected = urlScan.selectedPartitions.partitionCount
    assert(selected >= 1 && selected < bucketDirs.length,
      s"1-URL probe read $selected of ${bucketDirs.length} buckets — not pruned")
  }

  test("a torn bloom sidecar is rebuilt from the urls store, not fatal") {
    // appendToSet overwrites bloom/ (delete-then-commit): a crash inside
    // that window deletes the only copy. The store is the source of
    // truth — storedBloom must rebuild (same geometry + same elements =
    // bit-identical filter), persist the rebuilt copy, and probe exactly
    val dir = SparkSpec.tempDir("graft-seen-torn").toFile.getAbsolutePath
    SeenSet.writeSet(seenUrls, "url", dir)
    val exact = rowSet(exactNovel(seenUrls, batch))
    // simulate the torn overwrite: the commit marker (and data) gone
    def rmBloom(): Unit = {
      val d = new java.io.File(s"$dir/bloom")
      d.listFiles().foreach(_.delete()); d.delete()
      assert(!new java.io.File(s"$dir/bloom/_SUCCESS").exists())
    }
    rmBloom()
    assert(rowSet(SeenSet.probeNovel(spark, dir, batch, "url")) === exact,
      "probe must survive a lost sidecar via rebuild")
    assert(new java.io.File(s"$dir/bloom/_SUCCESS").exists(),
      "the rebuilt sidecar must be persisted")
    // and the recovered set must still take appends (the dedupBatch
    // replay path calls appendToSet after exactly this kind of crash)
    rmBloom()
    SeenSet.appendToSet(batch, "url", dir)
    assert(SeenSet.probeNovel(spark, dir, batch, "url").isEmpty)
  }

  test("probe resolves buckets from the layout; edge cases") {
    // non-default bucket count: a caller-side default would compute wrong
    // bucket ids and the pruned confirm would miss seen URLs
    val dir = SparkSpec.tempDir("graft-seen-m").toFile.getAbsolutePath
    SeenSet.writeSet(seenUrls, "url", dir, buckets = 17, fpp = 0.2)
    val novel = SeenSet.probeNovel(spark, dir, batch, "url")
    assert(rowSet(novel) === rowSet(exactNovel(seenUrls, batch)))

    // empty batch
    assert(SeenSet.probeNovel(spark, dir, batch.limit(0), "url").isEmpty)

    // duplicate novel URLs in the batch all return (the anti-join contract)
    val dup = batch.unionByName(batch)
    val dupNovel = SeenSet.probeNovel(spark, dir, dup, "url")
    assert(dupNovel.count() === 2 * novel.count(),
      "duplicate batch rows must all survive like an anti-join")
  }

  test("a torn watermark marker degrades to a replayed append, never a brick") {
    // the r17 verdict-#2 window: the marker overwrite's crash can leave
    // watermark/ PRESENT with only _temporary (no committed parquet
    // footer) or with a committed-but-empty file set. Either used to
    // throw on EVERY later batch (schema inference / null max),
    // bricking the face until manual cleanup; it must read as -1.
    val dir = SparkSpec.tempDir("graft-seen-wm").toFile.getAbsolutePath
    val novelDir = SparkSpec.tempDir("graft-seen-wm-n").toFile.getAbsolutePath
    SeenSet.writeSet(seenUrls, "url", dir)
    assert(SeenSet.dedupBatch(batch, "url", dir, novelDir, 0L))
    val emitted = rowSet(spark.read.parquet(s"$novelDir/batch_id=0").select("url"))

    // tear shape 1: data files gone, dir + _temporary left behind
    val wm = new java.io.File(s"$dir/watermark")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    wm.listFiles().foreach(rm)
    assert(new java.io.File(wm, "_temporary").mkdir())
    // the replayed batch 0 must APPLY (watermark reads -1), reuse the
    // committed emission (not recompute — the set already holds these
    // URLs, a re-probe would emit nothing), and re-append harmlessly
    assert(SeenSet.dedupBatch(batch, "url", dir, novelDir, 0L),
      "a torn marker must degrade to a replayed (healed) append")
    assert(rowSet(spark.read.parquet(s"$novelDir/batch_id=0").select("url"))
      === emitted, "the committed emission is reused, not recomputed")
    assert(SeenSet.probeNovel(spark, dir, batch, "url").isEmpty,
      "membership must be intact after the healed replay")
    // and the marker is committed again: the replay is not repeated
    assert(!SeenSet.dedupBatch(batch, "url", dir, novelDir, 0L))

    // tear shape 2: a committed-but-EMPTY marker file set (null max)
    import spark.implicits._
    Seq.empty[Long].toDF("batch_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/watermark")
    assert(SeenSet.dedupBatch(batch, "url", dir, novelDir, 1L),
      "an empty marker must read as -1, not NPE")
  }

  test("day-zero set: written from zero URLs, everything is novel once") {
    // the crawl fleet's bootstrap: nothing seen yet. The empty set must
    // probe (all novel — no inference error on the empty urls tree),
    // take the feedback append, and then behave like any standing set.
    val dir = SparkSpec.tempDir("graft-seen-zero").toFile.getAbsolutePath
    SeenSet.writeSet(seenUrls.limit(0), "url", dir)
    assert(rowSet(SeenSet.probeNovel(spark, dir, batch, "url"))
      === rowSet(batch), "against an empty set the whole batch is novel")
    SeenSet.appendToSet(batch, "url", dir)
    assert(SeenSet.probeNovel(spark, dir, batch, "url").isEmpty,
      "after the feedback append the batch is fully seen")
    assert(rowSet(SeenSet.probeNovel(spark, dir, seenUrls, "url"))
      === rowSet(exactNovel(batch, seenUrls)))
  }
}
