package graft.testbed

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** TWO-PROCESS reader-isolation rehearsal (r20): every snapshot-layer
  * claim so far was pinned in-process (ManifestSpec re-reads a captured
  * snapshot from the same JVM); this rehearsal makes the CROSS-process
  * claim literal. The parent builds a corpus store, FORKS A SECOND JVM
  * (its own SparkSession, its own manifest cache — nothing shared but
  * the filesystem), and while the child repeatedly re-reads a PINNED
  * version end-to-end (Manifest.at → readSubtree → content digest) and
  * the LIVE snapshot, the parent churns keyed maintenance (upserts,
  * deletes, a compaction-shaped rewrite) and runs a retention vacuum.
  * The child exits 0 iff every pinned digest across the whole run is
  * bit-identical to its first and no live read ever threw. The parent
  * then re-reads the pinned version itself and requires the same
  * digest the child saw.
  *
  * Run: sbt "runMain graft.testbed.CrossProcess"
  * (forks `java -cp target/scala-2.13/classes` plus the spark jars
  * wildcard; module flags via spark-launcher's JavaModuleOptions). */
object CrossProcess {

  private def digestOf(spark: SparkSession, dir: String,
      version: Long): (Long, Long) = {
    val snap = graft.io.Manifest.at(spark, dir, version).getOrElse(
      sys.error(s"pinned version $version vanished"))
    val r = graft.io.Manifest.readSubtree(spark, dir, snap, "rows", None)
      .agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("doc_id"), col("text"))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft-xproc").toString
    val base = (0L until 4000L).map(i => (i, s"doc-$i body " + ("x" * (i % 37).toInt))
      ).toDF("doc_id", "text")
    graft.io.CorpusStore.write(base, "doc_id", dir, buckets = 16)
    // pre-churn BEFORE the pin, so the mid-run retention vacuum has
    // expired history to actually reclaim while the pin survives
    (1 to 3).foreach { round =>
      graft.io.CorpusStore.upsert(
        (0L until 4000L by 5L).map(i => (i, s"pre-$round-$i"))
          .toDF("doc_id", "text"), "doc_id", dir)
    }
    val pinned = graft.io.Manifest.versions(spark, dir).max
    val want = digestOf(spark, dir, pinned)

    // fork the reader JVM ([[ForkedJvm]]): same classes + spark jars,
    // NOTHING else shared (fresh manifest cache, fresh session)
    val t0 = System.nanoTime()
    val child = ForkedJvm.spawn("graft.testbed.CrossProcessReader",
      Seq(dir, pinned.toString, "25"))

    // churn: keyed maintenance commits while the child reads. Each
    // round rewrites touched buckets ADDITIVELY (the r19 protocol), so
    // the pinned version's files are retired, never deleted
    var commits = 0
    (1 to 10).foreach { round =>
      graft.io.CorpusStore.upsert(
        (0L until 4000L by 7L).map(i => (i, s"round-$round-$i"))
          .toDF("doc_id", "text"), "doc_id", dir)
      graft.io.CorpusStore.delete(
        Seq(4000L + round).toDF("doc_id"), "doc_id", dir)
      commits += 2
      Thread.sleep(200)
    }
    // retention vacuum MID-RUN, sized to keep the pin alive
    val cur = graft.io.Manifest.versions(spark, dir).max
    val vac = graft.io.CorpusStore.vacuum(spark, dir,
      retainVersions = (cur - pinned).toInt)

    val childLines = child.awaitLines(300,
      "reader JVM (a non-identical pinned read or failed live read " +
        "exits non-zero)")
    val childSec = (System.nanoTime() - t0) / 1e9
    val childDigest = childLines.filter(_.startsWith("DIGEST "))
      .map(_.stripPrefix("DIGEST ")).distinct
    require(childDigest == Seq(s"${want._1},${want._2}"),
      s"child digest ${childDigest.mkString(",")} != parent's $want")
    // and the parent's own post-vacuum pinned read agrees
    require(digestOf(spark, dir, pinned) == want,
      "parent's post-vacuum pinned read diverged")
    val reads = childLines.count(_.startsWith("DIGEST"))
    println(s"""{"metric":"cross_process_isolation","pinned_version":$pinned,"child_pinned_reads":$reads,"parent_commits":$commits,"vacuum_deleted":${vac.filesDeleted},"child_live_reads_ok":${childLines.count(_.startsWith("LIVE"))},"wall_sec":${f"$childSec%.1f"},"digest_identical":true}""")
    spark.stop()
  }
}

/** The forked reader — a genuinely separate JVM with its own
  * SparkSession and manifest cache. Emits one `DIGEST count,xor` line
  * per pinned re-read and one `LIVE n` line per live-snapshot read;
  * exits 1 the moment a pinned digest differs from the first or any
  * read throws. */
object CrossProcessReader {
  def main(args: Array[String]): Unit = {
    val Array(dir, versionStr, itersStr) = args.take(3)
    val version = versionStr.toLong
    val iters = itersStr.toInt
    val spark = graft.Session.local()
    var first: Option[String] = None
    var ok = true
    (1 to iters).foreach { _ =>
      try {
        val snap = graft.io.Manifest.at(spark, dir, version).getOrElse(
          sys.error(s"pinned version $version not on disk"))
        val r = graft.io.Manifest
          .readSubtree(spark, dir, snap, "rows", None)
          .agg(count(lit(1)),
            coalesce(bit_xor(xxhash64(col("doc_id"), col("text"))), lit(0L)))
          .head()
        val d = s"${r.getLong(0)},${r.getLong(1)}"
        println(s"DIGEST $d")
        if (first.isEmpty) first = Some(d)
        else if (first.get != d) { ok = false }
        // live serve through the child's own snapshot resolution: must
        // never throw mid-commit (content legitimately changes)
        val live = graft.io.CorpusStore.read(spark, dir).count()
        println(s"LIVE $live")
      } catch {
        case e: Throwable => println(s"ERROR ${e.getMessage}"); ok = false
      }
      Thread.sleep(150)
    }
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
