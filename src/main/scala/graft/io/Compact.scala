package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Bucket-directory compaction for the append-maintained index families:
  * every [[TextIndex.appendToIndex]] / [[BandIndex.appendToIndex]] /
  * [[SeenSet.appendToSet]] adds one parquet file per touched bucket
  * directory, so after N append batches a probe's scan fan-in is N files
  * per bucket — the classic small-files decay of any append-only layout.
  * Compaction rewrites ONLY the fragmented directories (file count above
  * `maxFilesPerBucket`) back to one file each, content-identical;
  * untouched buckets keep their files byte-for-byte.
  *
  * Compaction is ADDITIVE and reader-invisible across processes: the
  * fragmented buckets' live files are read through the current
  * [[Manifest]] snapshot of the family dir, the consolidated (optionally
  * deduplicated) content is APPENDED as new files into the same bucket
  * directories, and one manifest commit retires the old files without
  * deleting them — a concurrent reader in any process pinned on the
  * previous snapshot keeps serving bit-identical results until
  * [[Manifest.vacuum]] reclaims the bytes on the maintenance cadence. A
  * crash before the commit leaves invisible orphan files (vacuumed),
  * never a lost bucket.
  *
  * `dedupCols` additionally collapses physically duplicated rows — the
  * residue a replayed streaming append can leave ([[BandIndex
  * .appendBatch]]'s crash window; [[SeenSet]]'s membership-idempotent
  * re-appends): the serving paths already tolerate those duplicates,
  * compaction with the family's natural key makes the tolerance free by
  * removing the bytes. */
object Compact {

  final case class CompactStats(
      bucketsCompacted: Int, filesBefore: Int, filesAfter: Int)

  /** Compact `treeDir`, a subtree of the family dir `root` (its
    * manifest root). `buildFace` names the family's build face in the
    * [[Manifest.MissingManifestException]] a manifest-less dir fails
    * with. */
  def compactTree(
      spark: SparkSession, root: String, buildFace: String,
      treeDir: String, bucketCol: String,
      dedupCols: Option[Seq[String]] = None, maxFilesPerBucket: Int = 1,
      casRetries: Int = 0
  ): CompactStats = Commit.withTreeLock(treeDir) {
    require(maxFilesPerBucket >= 1, "a bucket keeps at least one file")
    val subtree = relSubtree(root, treeDir)
    val snap = Manifest.live(spark, root, buildFace)
    // fragmentation is judged on the LIVE file list, not the directory
    // (retired-but-unvacuumed files must not recount forever)
    val byBucket = snap.under(subtree)
      .filter(_.stripPrefix(subtree + "/").startsWith(s"$bucketCol="))
      .groupBy(f => f.stripPrefix(subtree + "/").takeWhile(_ != '/'))
    val fragmented = byBucket.filter(_._2.size > maxFilesPerBucket)
    if (fragmented.isEmpty) return CompactStats(0, 0, 0)
    val oldFiles = fragmented.values.flatten.toSeq
    val base = spark.read.option("basePath", treeDir)
      .parquet(oldFiles.map(f => s"$root/$f"): _*)
      .withColumn(bucketCol, col(bucketCol).cast("long"))
    val deduped = dedupCols.fold(base)(ks => base.dropDuplicates(ks))
    // pin before the append (one derivation, one write) — severing the
    // file-source lineage also keeps Spark from objecting to writing
    // into directories the plan reads
    val pinned = deduped.localCheckpoint()
    // before/after listing brackets the write: the commit adds
    // precisely the files this compaction produced
    val before = Manifest.listFiles(spark, root, subtree).toSet
    try
      pinned.repartition(col(bucketCol))
        .write.mode("append").partitionBy(bucketCol).parquet(treeDir)
    finally Pin.release(pinned)
    // DATA → COMMIT → RETIRE (the Manifest protocol): the old files
    // leave the live set but stay on disk for pinned readers until
    // vacuum
    val added = Manifest.listFiles(spark, root, subtree).filterNot(before)
    // compaction commutes with concurrent appends (the content it
    // rewrote is parent content; an interleaved append's file is not
    // in its drop set) — a daemon racing a casRetries-enabled stream
    // may pass its own budget here (doc/PLANS.md r20 ledger)
    val next = Manifest.commitAdd(spark, root, added, oldFiles, casRetries)
    val afterByBucket = next.under(subtree)
      .groupBy(f => f.stripPrefix(subtree + "/").takeWhile(_ != '/'))
    val after = fragmented.keys.toSeq
      .map(b => afterByBucket.getOrElse(b, Seq.empty).size).sum
    CompactStats(fragmented.size, oldFiles.size, after)
  }

  private def relSubtree(root: String, treeDir: String): String = {
    val rel = treeDir.stripPrefix(root).stripPrefix("/")
    require(rel.nonEmpty && rel != treeDir,
      s"compactTree: $treeDir is not under manifest root $root")
    rel
  }
}
