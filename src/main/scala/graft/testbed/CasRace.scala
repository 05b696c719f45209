package graft.testbed

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** TWO-PROCESS writer-race rehearsal (r20): the CAS-retry specs drive
  * the concurrent-commit interleaving deterministically through the
  * stale-parent entry point — this rehearsal makes the multi-writer
  * claim LITERAL. The parent builds a seen set, forks a second JVM
  * (own SparkSession, own manifest cache, nothing shared but the
  * filesystem — so the in-JVM tree lock serializes NOTHING between
  * them), and both processes hammer `appendToSet(casRetries = 8)` on
  * the same family with disjoint URL streams, no pacing. Outcome
  * contract, the no-lost-update theorem for commuting appends:
  *
  *  - every append of BOTH writers lands: final membership is exactly
  *    base ∪ parent-urls ∪ child-urls (probeNovel over the union
  *    returns zero novel; the distinct url count is exact);
  *  - the manifest converges to EXACTLY one version per successful
  *    commit (1 + parent appends + child appends) — a CAS loser
  *    re-commits under the next number, never forks the history and
  *    never shadows the winner;
  *  - torn-sidecar windows (two unsynchronized JVMs overwriting
  *    `bloom/`) heal: `storedBloom` falls back to the exact rebuild,
  *    and a face-level retry of the membership-idempotent append is
  *    always safe on manifest trees (pre-commit failures leave only
  *    invisible orphans), so the writers wrap each append in a small
  *    retry loop exactly as a fleet would — the rehearsal reports how
  *    often either recovery path actually fired.
  *
  * Run: sbt "runMain graft.testbed.CasRace". Exits non-zero on any
  * lost update, version fork, or unrecovered writer failure. */
object CasRace {

  private[testbed] def appendWithRetry(
      spark: SparkSession, dir: String, urls: Seq[String],
      faceRetries: Int): Int = {
    import spark.implicits._
    var attempt = 0
    while (true) {
      try {
        graft.io.SeenSet.appendToSet(urls.toDF("url"), "url", dir,
          casRetries = 8)
        return attempt
      } catch {
        case scala.util.control.NonFatal(e) if attempt < faceRetries =>
          // membership-idempotent + manifest-tree orphan invisibility
          // make a whole-face retry safe from ANY pre-commit failure
          attempt += 1
          Thread.sleep(50L + scala.util.Random.nextInt(100))
      }
    }
    attempt
  }

  def main(args: Array[String]): Unit = {
    val appendsPerSide = args.headOption.map(_.toInt).getOrElse(20)
    val urlsPerAppend = 30
    val spark = graft.Session.local()
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft-casrace").toString
    val base = (0 until 500).map(i => s"http://base/$i")
    graft.io.SeenSet.writeSet(base.toDF("url"), "url", dir,
      buckets = 8, expectedUrls = 4000L)

    val t0 = System.nanoTime()
    val child = ForkedJvm.spawn("graft.testbed.CasRaceWriter",
      Seq(dir, appendsPerSide.toString, urlsPerAppend.toString))

    // the parent's side of the race: disjoint URL stream, no pacing
    var parentFaceRetries = 0
    (0 until appendsPerSide).foreach { i =>
      parentFaceRetries += appendWithRetry(spark, dir,
        (0 until urlsPerAppend).map(j => s"http://parent/$i/$j"), 5)
    }

    val childLines = child.awaitLines(600, "child writer")
    val childFaceRetries = childLines.find(_.startsWith("RETRIES "))
      .map(_.stripPrefix("RETRIES ").toInt).getOrElse(-1)
    val wallSec = (System.nanoTime() - t0) / 1e9

    // no lost update: every URL either writer appended is a member
    val childUrls = (0 until appendsPerSide).flatMap(i =>
      (0 until urlsPerAppend).map(j => s"http://child/$i/$j"))
    val parentUrls = (0 until appendsPerSide).flatMap(i =>
      (0 until urlsPerAppend).map(j => s"http://parent/$i/$j"))
    val all = (base ++ childUrls ++ parentUrls).toDF("url")
    // bloom-leak is REPORTED, not required-zero: two writers racing the
    // bloom overwrite can lose merged bits (last-writer-wins), and the
    // design tolerates that as duplicate work — a leaked URL probes
    // novel once more and re-appends harmlessly. The STORE membership
    // below is the no-lost-update invariant proper.
    val bloomLeak = graft.io.SeenSet.probeNovel(spark, dir, all, "url").count()
    val distinct = graft.io.Manifest.readSubtree(spark, dir,
        graft.io.Manifest.current(spark, dir).get, "urls", None)
      .select("url").distinct().count()
    val wantMembers = base.size + childUrls.size + parentUrls.size
    require(distinct == wantMembers,
      s"membership $distinct != expected $wantMembers — a racing " +
        "commit was lost")
    // no version fork / no shadowed commit: exactly one version per
    // successful commit, strictly linear history. Counted on the RAW
    // version FILES, not Manifest.versions (which dedups same-number
    // twins by design) — a failed rollback's surviving twin at a
    // non-max version must fail HERE, not hide
    val versionFiles = new java.io.File(s"$dir/manifest").listFiles()
      .map(_.getName).filter(_.matches("v[0-9]{12}-[0-9a-f]{8}")).toSeq
    val wantVersions = 1 + 2 * appendsPerSide
    require(versionFiles.size == wantVersions,
      s"${versionFiles.size} version files != $wantVersions — a twin " +
        "survived a failed rollback (forked history) or a commit was " +
        "lost")
    val versions = graft.io.Manifest.versions(spark, dir)
    require(versions == (1L to wantVersions.toLong),
      s"version history ${versions.take(5)}...${versions.takeRight(2)} " +
        s"(n=${versions.size}) is not the linear 1..$wantVersions")
    println(s"""{"metric":"cas_writer_race","appends_per_side":$appendsPerSide,"members":$distinct,"versions":${versions.size},"parent_face_retries":$parentFaceRetries,"child_face_retries":$childFaceRetries,"bloom_leak":$bloomLeak,"wall_sec":${f"$wallSec%.1f"}}""")
    spark.stop()
  }
}

/** The forked second writer: its own JVM, session, and manifest cache
  * — the genuinely unsynchronized side of the race. */
object CasRaceWriter {
  def main(args: Array[String]): Unit = {
    val Array(dir, nStr, kStr) = args.take(3)
    val spark = graft.Session.local()
    var retries = 0
    (0 until nStr.toInt).foreach { i =>
      retries += CasRace.appendWithRetry(spark, dir,
        (0 until kStr.toInt).map(j => s"http://child/$i/$j"), 5)
    }
    println(s"RETRIES $retries")
    spark.stop()
    sys.exit(0)
  }
}
