package graft.testbed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCALE rehearsal of the COMPOSED steady-state loop (#18e — all five
  * persisted families in one batch body) at sf1: N sustained batches
  * with the compaction + retention cadence ON, recording per-batch wall
  * time and per-family LIVE file fan-in across the run. The claims this
  * rehearsal adjudicates (SCALE.md table):
  *  - per-batch cost stays FLAT as the standing artifacts grow — every
  *    face is delta-proportional (Bloom-prefiltered novelty, touched-
  *    bucket store rewrites, batch-sized index appends, sliver-sized
  *    gauge), so batch 12 should cost what batch 1 did;
  *  - fan-in stays BOUNDED by the cadence — the manifest's live set per
  *    bucket never exceeds ~compactEvery files, and the emission dirs
  *    never exceed ~cadence-many (retention GC);
  *  - the vacuum face reclaims the retired bytes without touching what
  *    serves.
  *
  * Embeddings are synthesized per doc (deterministic doc_id arithmetic,
  * 16 dims) so the vector face carries the whole corpus rather than the
  * embeddings table's smaller id range — the POINT is sustained load on
  * all five families from one discovery stream.
  *
  * Run: SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt "runMain graft.testbed.SteadyStateRehearsal"
  */
object SteadyStateRehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "12").toInt
    val compactEvery = sys.env.getOrElse("SPARK_GRAFT_COMPACT_EVERY", "3").toInt
    val spark = graft.Session.local()

    // discovery universe: every document, with a synthetic unit-ish
    // embedding and a URL derived from its id
    def rows(filter: org.apache.spark.sql.Column): DataFrame =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(filter)
        .select(
          concat(lit("http://h"), (col("doc_id") % 13).cast("string"),
            lit(".example/p/"), col("doc_id").cast("string")).as("url"),
          col("doc_id"), col("text"),
          transform(sequence(lit(0), lit(15)),
            j => sin(col("doc_id") * 31.0 + j * 7.0)).as("emb"))

    def mkDir(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val seenDir = mkDir("ssr-seen"); val novelDir = mkDir("ssr-novel")
    val storeDir = mkDir("ssr-store"); val bandDir = mkDir("ssr-band")
    val textDir = mkDir("ssr-text"); val vecDir = mkDir("ssr-vec")
    val gaugeDir = mkDir("ssr-gauge")

    // standing state: 20% of the corpus pre-seen; its gate-passing
    // subset installed + indexed (the fleet's running state)
    val t0 = System.nanoTime()
    val seed = rows(col("doc_id") % 10 < 2).localCheckpoint()
    val seedKept = seed.filter(coalesce(
      graft.functions.TextFunctions.qualityFilter("text").getField("keep"),
      lit(false))).localCheckpoint()
    graft.io.SeenSet.writeSet(seed.select("url"), "url", seenDir,
      buckets = 64)
    graft.io.CorpusStore.write(seedKept, "doc_id", storeDir, buckets = 64)
    graft.io.BandIndex.writeIndex(seedKept, "doc_id", "text", bandDir,
      buckets = 64)
    graft.io.TextIndex.writeIndex(seedKept, "doc_id", "text", textDir,
      buckets = 64)
    graft.operators.Similarity.ivfPqIndexWrite(
      seedKept.select("doc_id", "emb"), "doc_id", "emb", vecDir,
      dims = 16, nCentroids = 16, m = 4, codes = 16)
    val seedSec = (System.nanoTime() - t0) / 1e9

    // live fan-in per family from the committed snapshot (what a probe
    // actually scans — retired files never enter a plan)
    def liveFanIn(root: String, subtree: String): (Int, Int) =
      graft.io.Manifest.current(spark, root).map { s =>
        val perBucket = s.under(subtree)
          .groupBy(_.split('/')(1)).map(_._2.size)
        (s.under(subtree).size, if (perBucket.isEmpty) 0 else perBucket.max)
      }.getOrElse((-1, -1))
    def vecFanIn: (Int, Int) =
      graft.io.Manifest.current(spark, vecDir).map { s =>
        val gen = s.files.head.takeWhile(_ != '/')
        val codes = s.under(s"$gen/codes")
        val perCell = codes.groupBy(_.split('/')(2)).map(_._2.size)
        (codes.size, if (perCell.isEmpty) 0 else perCell.max)
      }.getOrElse((-1, -1))
    def dirCount(d: String): Int =
      Option(new java.io.File(d).listFiles())
        .map(_.count(_.getName.startsWith("batch_id="))).getOrElse(0)

    // uneven batches over the remaining 80%, each re-discovering a
    // slice of already-seen ids (the re-crawl shape)
    val loop = (0 until nBatches).map { i =>
      col("doc_id") % 10 >= 2 && pmod(col("doc_id"), lit(nBatches)) === i ||
        col("doc_id") % 10 < 2 && pmod(col("doc_id"), lit(nBatches * 5)) === i
    }
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Double]
    val fanIns = scala.collection.mutable.ArrayBuffer.empty[String]
    loop.zipWithIndex.foreach { case (f, i) =>
      val b = rows(f)
      val bt0 = System.nanoTime()
      graft.streaming.Streaming.steadyStateStep(
        b, i.toLong, "url", "doc_id", "text",
        seenDir, novelDir, storeDir, bandDir, textDir,
        compactEvery = compactEvery,
        vecCol = "emb", vectorDir = vecDir,
        gaugeEvery = compactEvery, gaugeDir = gaugeDir, gaugeK = 5)
      val sec = (System.nanoTime() - bt0) / 1e9
      perBatch += sec
      val (_, seenMax) = liveFanIn(seenDir, "urls")
      val (_, bandMax) = liveFanIn(bandDir, "bands")
      val (textFiles, _) = liveFanIn(textDir, "postings")
      val (_, vecMax) = vecFanIn
      fanIns += f"""{"batch":$i,"sec":$sec%.2f,"seen_max":$seenMax,"band_max":$bandMax,"text_files":$textFiles,"vec_max":$vecMax,"novel_dirs":${dirCount(novelDir)},"gauge_dirs":${dirCount(gaugeDir)}}"""
      println(s"[rehearsal] ${fanIns.last}")
    }

    // provenance pin (r20): a "training run" records the store version
    // it read — one maintenance step back — and digests its content
    // BEFORE the vacuum; the retention-vacuumed tree must serve the
    // same bytes after (the ir11 contract surviving the vacuum cadence)
    val retain = sys.env.getOrElse("SPARK_GRAFT_VACUUM_RETAIN", "2").toInt
    require(retain >= 1, "the rehearsal pins a version one step below " +
      "current, so SPARK_GRAFT_VACUUM_RETAIN must be >= 1 (retain=0 " +
      "would vacuum the pin away before the post-vacuum digest)")
    val storeVersionsBefore = graft.io.Manifest.versions(spark, storeDir)
    val pinnedV = storeVersionsBefore.max - 1
    def storeDigest(v: Long): (Long, Long) = {
      val r = graft.io.CorpusStore.readVersion(spark, storeDir, v)
        .agg(count(lit(1)),
          coalesce(bit_xor(xxhash64(col("doc_id"), col("text"))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val digestBefore = storeDigest(pinnedV)

    // vacuum pass WITH RETENTION: reclaim retired bytes while keeping
    // the provenance horizon, then one serve per family to prove
    // nothing live was touched
    val vt0 = System.nanoTime()
    val vstats = Seq(
      graft.io.SeenSet.vacuum(spark, seenDir, retainVersions = retain),
      graft.io.BandIndex.vacuum(spark, bandDir, retainVersions = retain),
      graft.io.TextIndex.vacuum(spark, textDir, retainVersions = retain),
      graft.io.CorpusStore.vacuum(spark, storeDir, retainVersions = retain),
      graft.operators.Similarity.ivfPqIndexVacuum(spark, vecDir,
        retainVersions = retain))
    val vacSec = (System.nanoTime() - vt0) / 1e9
    val vacDeleted = vstats.map(_.filesDeleted).sum
    val digestAfter = storeDigest(pinnedV)
    val horizon = graft.io.Manifest.versions(spark, storeDir).size
    require(digestAfter == digestBefore,
      s"retention vacuum broke the pinned read: $digestBefore -> $digestAfter")
    // vacuum keeps at most retain+1 versions — and at least as many as
    // existed (a short run can't synthesize history)
    val expectHorizon = math.min(retain + 1, storeVersionsBefore.size)
    require(horizon == expectHorizon,
      s"horizon must be $expectHorizon (min(retain+1, pre-vacuum " +
        s"versions)), got $horizon")
    val serveT0 = System.nanoTime()
    val stored = graft.io.CorpusStore.read(spark, storeDir).count()
    val bm25 = graft.io.TextIndex.bm25SearchIndex(spark, textDir,
      Seq("the", "and"), k = 10).count()
    val ann = graft.operators.Similarity.ivfPqIndexTopK(spark, vecDir,
      rows(col("doc_id") < 20).select("doc_id", "emb"),
      "doc_id", "emb", k = 5).count()
    val serveSec = (System.nanoTime() - serveT0) / 1e9
    val decision = graft.streaming.Streaming.gaugeLedgerDecision(
      spark, gaugeDir, threshold = 0.7, window = 3).head()

    val head = perBatch.take(3); val tail = perBatch.takeRight(3)
    println(f"""{"metric":"steady_state_rehearsal","sf":"$sfDir","batches":$nBatches,"seed_sec":$seedSec%.1f,"per_batch":[${perBatch.map(s => f"$s%.2f").mkString(",")}],"head3_mean":${head.sum / 3}%.2f,"tail3_mean":${tail.sum / 3}%.2f,"vacuum_deleted":$vacDeleted,"vacuum_sec":$vacSec%.1f,"vacuum_retain":$retain,"pinned_version":$pinnedV,"timetravel_rows":${digestAfter._1},"timetravel_ok":${digestAfter == digestBefore},"store_horizon":$horizon,"store_rows":$stored,"bm25_rows":$bm25,"ann_rows":$ann,"serve_sec":$serveSec%.1f,"gauge_mean_recall":${decision.get(2)},"fanins":[${fanIns.mkString(",")}]}""")
    spark.stop()
  }
}
