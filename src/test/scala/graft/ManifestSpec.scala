package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.{Manifest, SeenSet, TextIndex}
import graft.operators.Similarity

/** [[Manifest]] — the snapshot-isolation layer (r19): maintenance
  * (compaction, ledger consolidation, rebuild) commits a new version
  * WITHOUT deleting the previous version's files, so a reader in any
  * process pinned on snapshot v(N) keeps serving bit-identical results
  * while v(N+1) commits; [[Manifest.vacuum]] is the one destructive
  * face and the declared pin-expiry point. */
class ManifestSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("a reader pinned on v(N) survives a compaction commit of v(N+1), bit-identical") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-man-pin").toString
    def url(i: Int) = s"http://pin${i % 7}.org/p/$i"
    SeenSet.writeSet((0 until 300).map(url).toDF("url"), "url", dir,
      buckets = 8)
    SeenSet.appendToSet((200 until 500).map(url).toDF("url"), "url", dir)
    // the pinned reader: resolve v(N), materialize ITS file list as a
    // frame, and read it once now (the baseline)
    val vN = Manifest.current(spark, dir).get
    def pinnedRead() = rowSet(
      Manifest.readSubtree(spark, dir, vN, "urls", None)
        .select(col("url")))
    val baseline = pinnedRead()
    // maintenance commits v(N+1) — compaction with dedup rewrites the
    // fragmented buckets' live set
    val stats = SeenSet.compact(spark, dir)
    assert(stats.bucketsCompacted > 0, "fixture must have fragmented")
    val vN1 = Manifest.current(spark, dir).get
    assert(vN1.version === vN.version + 1)
    assert(vN1.files !== vN.files)
    // THE contract: the pinned v(N) reader re-executes bit-identically
    // AFTER the commit — its files were retired, not deleted
    assert(pinnedRead() === baseline,
      "a v(N) reader must survive the v(N+1) commit unchanged")
    // and the new snapshot serves the same membership (dedup is
    // physical, not semantic; rowSet collapses the physical duplicates
    // on both sides)
    assert(rowSet(Manifest.readSubtree(spark, dir, vN1, "urls", None)
      .select(col("url"))) === baseline)
    // vacuum is the declared expiry: v(N)'s retired files go away and
    // the pinned reader's list is no longer servable
    assert(SeenSet.vacuum(spark, dir).filesDeleted > 0)
    val missing = vN.files.filterNot(f =>
      new java.io.File(s"$dir/$f").exists())
    assert(missing.nonEmpty, "vacuum must reclaim the retired files")
  }

  test("a reader pinned on v(N) survives an IVF+PQ rebuild (generation flip)") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(400)
    val queries = emb.limit(8)
    val dir = SparkSpec.tempDir("graft-man-gen").toString
    Similarity.ivfPqIndexWrite(emb, "vec_id", "embedding", dir,
      dims = 32, nCentroids = 8, m = 4, codes = 8)
    val vN = Manifest.current(spark, dir).get
    val genN = vN.files.head.takeWhile(_ != '/')
    def pinnedCodes() = rowSet(
      Manifest.readSubtree(spark, dir, vN, s"$genN/codes", None))
    val baseline = pinnedCodes()
    val served = rowSet(Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 5))
    // the rebuild re-trains and commits the next generation — no swap
    // tree, no delete of the old generation
    Similarity.ivfPqIndexRebuild(emb, "vec_id", "embedding", dir,
      dims = 32, nCentroids = 8, m = 4, codes = 8)
    assert(!new java.io.File(s"$dir.swap").exists(),
      "a manifest-tree rebuild must not use the legacy swap protocol")
    val vN1 = Manifest.current(spark, dir).get
    val genN1 = vN1.files.head.takeWhile(_ != '/')
    assert(genN1 !== genN, "the rebuild must flip to a new generation")
    assert(new java.io.File(s"$dir/$genN").exists(),
      "the old generation must survive the flip for pinned readers")
    // pinned v(N) reader: bit-identical after the flip
    assert(pinnedCodes() === baseline)
    // deterministic same-corpus retrain: the new generation serves the
    // same results (training is seeded/deterministic end-to-end)
    assert(rowSet(Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 5)) === served)
    // vacuum sweeps the retired generation wholesale
    assert(Similarity.ivfPqIndexVacuum(spark, dir).filesDeleted > 0)
    assert(!new java.io.File(s"$dir/$genN").exists(),
      "vacuum must remove the retired generation directory")
    assert(rowSet(Similarity.ivfPqIndexTopK(spark, dir, queries,
      "vec_id", "embedding", k = 5)) === served)
  }

  test("ledger consolidation is snapshot-committed: pinned totals and live totals agree") {
    val dir = SparkSpec.tempDir("graft-man-led").toString
    TextIndex.writeIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir, buckets = 8)
    TextIndex.appendToIndex(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", dir)
    val vN = Manifest.current(spark, dir).get
    def totals(s: Manifest.Snapshot) =
      Manifest.readSubtree(spark, dir, s, "stats", None)
        .agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    val pre = totals(vN)
    TextIndex.compact(spark, dir) // consolidates postings AND the ledger
    val vAfter = Manifest.current(spark, dir).get
    assert(vAfter.under("stats").size === 1,
      "the live ledger must be one row after consolidation")
    assert(totals(vAfter) === pre, "consolidated totals must be exact")
    assert(totals(vN) === pre,
      "the pinned reader's ledger rows must still sum to the same totals")
  }

  test("orphan files of a torn run are invisible to every snapshot; vacuum sweeps them") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-man-orph").toString
    def url(i: Int) = s"http://orph.org/p/$i"
    SeenSet.writeSet((0 until 100).map(url).toDF("url"), "url", dir,
      buckets = 4)
    val batch = (50 until 150).map(url).toDF("url")
    val novel = rowSet(SeenSet.probeNovel(spark, dir, batch, "url"))
    // a torn maintenance run's orphan: real parquet bytes in a live
    // bucket directory, never committed to any manifest version
    val bucketDir = new java.io.File(s"$dir/urls").listFiles()
      .filter(_.getName.startsWith("url_bucket=")).head
    Seq("http://orph.org/p/50").toDF("url").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/.orphtmp")
    val part = new java.io.File(s"$dir/.orphtmp").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(bucketDir, "part-orphan-000.parquet")
    java.nio.file.Files.copy(part.toPath, dest.toPath)
    assert(rowSet(SeenSet.probeNovel(spark, dir, batch, "url")) === novel,
      "an uncommitted orphan must not change what the set serves")
    assert(SeenSet.vacuum(spark, dir).filesDeleted >= 1)
    assert(!dest.exists(), "vacuum must sweep the orphan")
    assert(rowSet(SeenSet.probeNovel(spark, dir, batch, "url")) === novel)
  }

  test("a reader pinned on v(N) survives a corpus-store keyed upsert (additive rewrite)") {
    // r19's last family to go reader-invisible: the store's keyed
    // maintenance is an additive snapshot flip, so even an UPSERT —
    // the one face that used to rewrite bucket directories in place —
    // leaves a pinned reader's file list intact until vacuum.
    import spark.implicits._
    import graft.io.CorpusStore
    val dir = SparkSpec.tempDir("graft-man-store").toString
    val base = (0L until 100L).map(i => (i, s"v0-$i")).toDF("doc_id", "text")
    CorpusStore.write(base, "doc_id", dir, buckets = 8)
    val vN = Manifest.current(spark, dir).get
    def pinned() = rowSet(
      Manifest.readSubtree(spark, dir, vN, "rows", None)
        .select(col("doc_id"), col("text")))
    val baseline = pinned()
    CorpusStore.upsert(
      (0L until 50L).map(i => (i, s"v1-$i")).toDF("doc_id", "text"),
      "doc_id", dir)
    CorpusStore.delete(Seq(99L).toDF("doc_id"), "doc_id", dir)
    // the pinned v(N) reader re-executes bit-identically AFTER both
    // keyed rewrites committed
    assert(pinned() === baseline)
    // and the live store serves the post-maintenance truth
    val live = CorpusStore.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live.size === 99 && live(3L) === "v1-3" && live(60L) === "v0-60"
      && !live.contains(99L))
    // vacuum expires the pin and the live store is unchanged
    assert(CorpusStore.vacuum(spark, dir).filesDeleted > 0)
    assert(CorpusStore.read(spark, dir).count() === 99)
  }

  test("a retire lost to a crash converges: delisted files stay pinned-servable, vacuum sweeps them") {
    // the DATA -> COMMIT -> RETIRE ordering's one crash window: the
    // version committed (new files live, old files out of the live
    // set) but the ledger append never ran. Nothing may be lost —
    // pinned readers of the PREVIOUS version still see the old files
    // on disk, the current version serves the replacement, and the
    // orphan sweep reclaims the un-ledgered files without the ledger.
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-man-lost").toString
    def url(i: Int) = s"http://lost.org/p/$i"
    SeenSet.writeSet((0 until 200).map(url).toDF("url"), "url", dir,
      buckets = 4)
    SeenSet.appendToSet((100 until 300).map(url).toDF("url"), "url", dir)
    val vN = Manifest.current(spark, dir).get
    def pinnedCount() =
      Manifest.readSubtree(spark, dir, vN, "urls", None).count()
    val pinnedBefore = pinnedCount()
    val batch = (250 until 350).map(url).toDF("url")
    val novel = rowSet(SeenSet.probeNovel(spark, dir, batch, "url"))
    assert(SeenSet.compact(spark, dir).bucketsCompacted > 0)
    // simulate the lost retire: delete the ledger the compact wrote
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(s"$dir/manifest/retired"))
    // current version excludes the superseded files and serves exactly
    assert(rowSet(SeenSet.probeNovel(spark, dir, batch, "url")) === novel)
    // the previous version's reader still re-executes identically
    // (the superseded files are un-ledgered but UNDELETED)
    assert(pinnedCount() === pinnedBefore)
    // vacuum's orphan sweep reclaims them WITHOUT the ledger, and the
    // next mutation + serve converge
    assert(SeenSet.vacuum(spark, dir).filesDeleted > 0)
    assert(rowSet(SeenSet.probeNovel(spark, dir, batch, "url")) === novel)
    SeenSet.appendToSet((300 until 400).map(url).toDF("url"), "url", dir)
    assert(SeenSet.probeNovel(spark, dir,
      (0 until 400).map(url).toDF("url"), "url").isEmpty,
      "post-crash maintenance must converge to exact membership")
  }

  test("version commits are atomic names: temp files and foreign names are ignored") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-man-atom").toString
    SeenSet.writeSet((0 until 10).map(i => s"u$i").toDF("url"), "url", dir,
      buckets = 2)
    val v1 = Manifest.current(spark, dir).get
    // a torn commit = a temp file that never got renamed; readers skip it
    val tmp = new java.io.File(s"$dir/manifest/.tmp-v999-deadbeef")
    java.nio.file.Files.write(tmp.toPath, "urls/bogus.parquet".getBytes)
    val junk = new java.io.File(s"$dir/manifest/notaversion")
    java.nio.file.Files.write(junk.toPath, "urls/bogus.parquet".getBytes)
    assert(Manifest.current(spark, dir).get === v1)
    SeenSet.appendToSet((10 until 20).map(i => s"u$i").toDF("url"), "url", dir)
    val v2 = Manifest.current(spark, dir).get
    assert(v2.version === v1.version + 1)
    assert(v1.files.toSet.subsetOf(v2.files.toSet),
      "a pure append only adds files")
  }

  test("vacuum scopes exclude every family's out-of-manifest sidecars (the concurrency table)") {
    // The Manifest header's sidecar table, pinned: each family's vacuum
    // face sweeps ONLY its manifest-covered scopes, so the sidecars
    // that live outside the manifest (meta/, bloom/, the root
    // watermark/) survive a full mutate-then-vacuum cycle and the
    // family still serves. A future maintenance face that widens a
    // scope over a sidecar fails here, not in production.
    import spark.implicits._
    import graft.io.{BandIndex, CorpusStore}
    def mkDir(p: String) = SparkSpec.tempDir(p).toString
    def exists(p: String) = new java.io.File(p).exists()

    // SeenSet: meta/ immutable, bloom/ merge-only
    val seenDir = mkDir("graft-side-seen")
    SeenSet.writeSet((0 until 50).map(i => s"http://s.org/$i").toDF("url"),
      "url", seenDir, buckets = 4)
    SeenSet.appendToSet((40 until 90).map(i => s"http://s.org/$i").toDF("url"),
      "url", seenDir)
    SeenSet.vacuum(spark, seenDir): Unit
    assert(exists(s"$seenDir/meta") && exists(s"$seenDir/bloom"),
      "SeenSet vacuum must not sweep meta/ or bloom/")
    assert(SeenSet.probeNovel(spark, seenDir,
      (80 until 100).map(i => s"http://s.org/$i").toDF("url"),
      "url").count() === 10)

    // BandIndex: meta/ immutable, watermark/ single-writer
    val bandDir = mkDir("graft-side-band")
    val d0 = (0 until 30).map(i =>
      (i.toLong, s"band sidecar prose number $i keeps shingles alive " +
        "with enough words to fill every window")).toDF("doc_id", "text")
    BandIndex.writeIndex(d0, "doc_id", "text", bandDir)
    val d1 = (30 until 60).map(i =>
      (i.toLong, s"band sidecar prose number $i keeps shingles alive " +
        "with enough words to fill every window")).toDF("doc_id", "text")
    assert(BandIndex.appendBatch(d1, "doc_id", "text", bandDir, 0L))
    BandIndex.vacuum(spark, bandDir): Unit
    assert(exists(s"$bandDir/meta") && exists(s"$bandDir/watermark"),
      "BandIndex vacuum must not sweep meta/ or watermark/")

    // CorpusStore: meta/ immutable
    val storeDir = mkDir("graft-side-store")
    CorpusStore.write((0 until 40).map(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text"), "doc_id", storeDir, buckets = 4)
    CorpusStore.upsert((30 until 50).map(i => (i.toLong, s"doc $i v2"))
      .toDF("doc_id", "text"), "doc_id", storeDir)
    assert(CorpusStore.vacuum(spark, storeDir).filesDeleted > 0)
    assert(exists(s"$storeDir/meta"),
      "CorpusStore vacuum must not sweep meta/")
    assert(CorpusStore.read(spark, storeDir).count() === 50)

    // IVF+PQ: the ROOT watermark sits outside every generation scope —
    // the rebuild flip preserves it, and so must vacuum
    val vecDir = mkDir("graft-side-vec")
    def emb(i: Long) = (0 until 8).map(j => math.sin(i * 3.0 + j))
    val e0 = (0L until 40L).map(i => (i, emb(i))).toDF("vec_id", "v")
    Similarity.ivfPqIndexWrite(e0, "vec_id", "v", vecDir,
      dims = 8, nCentroids = 4, m = 2, codes = 8)
    val e1 = (40L until 60L).map(i => (i, emb(i))).toDF("vec_id", "v")
    assert(Similarity.ivfPqIndexAppendBatch(e1, "vec_id", "v", vecDir, 0L))
    Similarity.ivfPqIndexVacuum(spark, vecDir): Unit
    assert(exists(s"$vecDir/watermark"),
      "IVF+PQ vacuum must not sweep the root watermark/")
    assert(graft.io.Watermark.read(spark, vecDir) === 0L)

    // TextIndex: stats IS manifest-scoped (it rides snapshots); the
    // sidecars are the commit/lock protocol files, which vacuum's
    // orphan sweep never lists as scope content
    val textDir = mkDir("graft-side-text")
    TextIndex.writeIndex(d0, "doc_id", "text", textDir, buckets = 4)
    TextIndex.appendToIndex(d1, "doc_id", "text", textDir)
    TextIndex.vacuum(spark, textDir): Unit
    assert(TextIndex.bm25SearchIndex(spark, textDir,
      Seq("sidecar"), k = 5).count() === 5)
  }

  test("every build face leaves a committed manifest, day-zero builds included") {
    // the invariant the read, append and compaction faces rely on: no
    // build face returns with a manifest-less tree, so there is no
    // listing fallback to keep
    import spark.implicits._
    import graft.io.{BandIndex, CorpusStore}
    def committed(dir: String) = Manifest.current(spark, dir).isDefined
    def mkDir(p: String) = SparkSpec.tempDir(p).toString
    val d0 = docs.filter(col("doc_id") < 40)
    for (input <- Seq(d0, d0.limit(0))) {
      val text = mkDir("graft-inv-text")
      TextIndex.writeIndex(input, "doc_id", "text", text, buckets = 4)
      assert(committed(text), "TextIndex.writeIndex")
      val band = mkDir("graft-inv-band")
      BandIndex.writeIndex(input, "doc_id", "text", band, buckets = 4)
      assert(committed(band), "BandIndex.writeIndex")
      val seen = mkDir("graft-inv-seen")
      SeenSet.writeSet(input.select(col("text").as("url")), "url", seen,
        buckets = 4)
      assert(committed(seen), "SeenSet.writeSet")
      val store = mkDir("graft-inv-store")
      CorpusStore.write(input.select("doc_id", "text"), "doc_id", store,
        buckets = 4)
      assert(committed(store), "CorpusStore.write")
    }
    // IVF+PQ has no day-zero build (an empty training corpus fails at
    // build — IvfPqIndexSpec pins it)
    val vec = mkDir("graft-inv-vec")
    val e0 = (0L until 40L).map(i =>
      (i, (0 until 8).map(j => math.sin(i * 3.0 + j)))).toDF("vec_id", "v")
    Similarity.ivfPqIndexWrite(e0, "vec_id", "v", vec,
      dims = 8, nCentroids = 4, m = 2, codes = 8)
    assert(committed(vec), "Similarity.ivfPqIndexWrite")
  }

  test("a manifest-less dir fails serving with the named error, never a listing read") {
    import spark.implicits._
    import graft.io.CorpusStore
    def dropManifest(dir: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
      }
      rm(new java.io.File(s"$dir/manifest"))
    }
    def named(dir: String, face: String)(serve: => Any): Unit = {
      val e = intercept[Manifest.MissingManifestException](serve)
      assert(e.getMessage.contains(dir) && e.getMessage.contains(face),
        s"the error must name the dir and $face: ${e.getMessage}")
    }
    val text = SparkSpec.tempDir("graft-nomf-text").toString
    TextIndex.writeIndex(docs.filter(col("doc_id") < 40), "doc_id", "text",
      text, buckets = 4)
    dropManifest(text)
    named(text, "TextIndex.writeIndex") {
      TextIndex.bm25SearchIndex(spark, text, Seq("the"), k = 3).collect()
    }

    val store = SparkSpec.tempDir("graft-nomf-store").toString
    CorpusStore.write((0 until 20).map(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text"), "doc_id", store, buckets = 4)
    dropManifest(store)
    named(store, "CorpusStore.write") {
      CorpusStore.read(spark, store).collect()
    }

    val vec = SparkSpec.tempDir("graft-nomf-vec").toString
    val e0 = (0L until 40L).map(i =>
      (i, (0 until 8).map(j => math.sin(i * 3.0 + j)))).toDF("vec_id", "v")
    Similarity.ivfPqIndexWrite(e0, "vec_id", "v", vec,
      dims = 8, nCentroids = 4, m = 2, codes = 8)
    dropManifest(vec)
    named(vec, "Similarity.ivfPqIndexWrite") {
      Similarity.ivfPqIndexTopK(spark, vec, e0.limit(3), "vec_id", "v",
        k = 3, nProbe = 2).collect()
    }
  }
}
