package graft.testbed

/** Dev tool: the [[graft.io.Manifest]] metadata plane at 100 TB file
  * counts. A family tree at that scale holds ~10^4–10^5 live files
  * (buckets sized at ~512 MB, compaction bounding per-bucket fan-in),
  * so the questions are: what does a snapshot RESOLVE cost cold (one
  * listStatus + one text-file read) and warm (cache hit), what does a
  * maintenance COMMIT cost (read-modify-write of the list), and what
  * does a version file weigh on disk. Synthetic paths, real
  * filesystem, no Spark jobs — the manifest plane never touches
  * executors by design. Prints one JSON line per file count. */
object ManifestScale {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    for (n <- Seq(10000, 100000, 1000000)) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-manscale-$n").toString
      val files = (0 until n).map(i =>
        f"rows/__graft_bucket=${i % 4096}/part-$i%08d-0000.snappy.parquet")
      var t0 = System.nanoTime()
      graft.io.Manifest.commitSet(spark, root, files, Nil)
      val commitMs = (System.nanoTime() - t0) / 1e6
      // cold resolve: fresh text-file read (cache invalidated by a
      // fake newer... simplest: measure the first resolve in a fresh
      // JVM-state by clearing via a second commit then resolving)
      t0 = System.nanoTime()
      val snap = graft.io.Manifest.current(spark, root).get
      val warmMs = (System.nanoTime() - t0) / 1e6
      // a delta commit at maintenance shape: drop one bucket's files,
      // add one replacement
      val bucketFiles = snap.under("rows")
        .filter(_.contains("__graft_bucket=7/"))
      t0 = System.nanoTime()
      graft.io.Manifest.commitAdd(spark, root,
        Seq("rows/__graft_bucket=7/part-compacted-0000.snappy.parquet"),
        bucketFiles)
      val deltaMs = (System.nanoTime() - t0) / 1e6
      // cold = the uncached path (Manifest.at reads the version file
      // every time — what a fresh process pays once per version)
      t0 = System.nanoTime()
      val resolved = graft.io.Manifest.at(spark, root, 2L).get
      val coldMs = (System.nanoTime() - t0) / 1e6
      val bytes = Option(new java.io.File(s"$root/manifest").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("v")).map(_.length).max
      println(f"""{"files":$n,"commit_ms":$commitMs%.1f,"delta_commit_ms":$deltaMs%.1f,"resolve_cold_ms":$coldMs%.1f,"resolve_warm_ms":$warmMs%.1f,"version_bytes":$bytes,"live":${resolved.files.size}}""")
    }

    // Sustained micro-batch commits (r20): the streaming loop's commit
    // cadence between vacuums. The r19 advisory found commitAdd re-read
    // the whole retirement ledger (one file per mutation), making
    // metadata cost grow with mutation count; after the fix a commit is
    // one manifest listing + one version read + one write + the
    // sibling-detection re-list, independent of how many mutations ran
    // since the last vacuum. Pin: the last-50 mean ≈ the first-50 mean
    // over 400 sequential commits on a 10^4-file tree.
    {
      val root = java.nio.file.Files
        .createTempDirectory("graft-manscale-sustained").toString
      val files = (0 until 10000).map(i =>
        f"rows/__graft_bucket=${i % 256}/part-$i%08d-0000.snappy.parquet")
      graft.io.Manifest.commitSet(spark, root, files, Nil)
      val ms = (0 until 400).map { i =>
        val t0 = System.nanoTime()
        graft.io.Manifest.commitAdd(spark, root,
          Seq(f"rows/__graft_bucket=${i % 256}/part-mb$i%06d.snappy.parquet"),
          Seq(f"rows/__graft_bucket=${i % 256}/part-$i%08d-0000.snappy.parquet"))
        (System.nanoTime() - t0) / 1e6
      }
      val head = ms.take(50).sum / 50
      val tail = ms.takeRight(50).sum / 50
      // vacuum with retention on the mutation-heavy tree: the horizon
      // keeps K versions, everything older is reclaimed in one pass
      val t0 = System.nanoTime()
      val vs = graft.io.Manifest.vacuum(spark, root, Seq("rows"),
        retainVersions = 10)
      val vacMs = (System.nanoTime() - t0) / 1e6
      println(f"""{"sustained_commits":400,"live_files":10000,"commit_ms_head50":$head%.1f,"commit_ms_tail50":$tail%.1f,"vacuum_retain10_ms":$vacMs%.1f,"versions_dropped":${vs.versionsDropped},"horizon":${graft.io.Manifest.versions(spark, root).size}}""")
    }
    spark.stop()
  }
}
