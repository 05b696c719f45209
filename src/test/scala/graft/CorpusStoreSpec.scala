package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.CorpusStore
import graft.operators.Dedup

/** [[CorpusStore]]: keyed upsert/delete over the bucket-partitioned
  * standing corpus must equal the logical mergeUpsert/anti-join, touch
  * ONLY the buckets the change keys hash into, survive idempotent
  * re-application (the crash-replay contract), and physically remove a
  * bucket a delete emptied. */
class CorpusStoreSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  private def newStore(buckets: Int = 16): String = {
    val dir = SparkSpec.tempDir("graft-cstore").toFile.getAbsolutePath
    CorpusStore.write(docs.filter(col("doc_id") % 3 === 0), "doc_id", dir,
      buckets)
    dir
  }

  private def bucketDirs(dir: String): Map[String, Long] = {
    val root = new java.io.File(s"$dir/rows")
    root.listFiles().filter(_.getName.startsWith("__graft_bucket="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}" -> f.lastModified()))
      .toMap
  }

  test("write/read roundtrip drops the layout column") {
    val dir = newStore()
    val back = CorpusStore.read(spark, dir)
    assert(back.columns.toSeq === Seq("doc_id", "text"))
    assert(rowSet(back) === rowSet(docs.filter(col("doc_id") % 3 === 0)))
  }

  test("upsert equals mergeUpsert; delete equals the anti-join") {
    val dir = newStore()
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
    CorpusStore.upsert(delta, "doc_id", dir)
    val expectUp = Dedup.mergeUpsert(
      docs.filter(col("doc_id") % 3 === 0), delta, Seq("doc_id"))
    assert(rowSet(CorpusStore.read(spark, dir)) === rowSet(expectUp))

    val dropIds = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    CorpusStore.delete(dropIds, "doc_id", dir)
    val expectDel = expectUp.join(dropIds, Seq("doc_id"), "left_anti")
    assert(rowSet(CorpusStore.read(spark, dir)) === rowSet(expectDel))
  }

  test("a change batch rewrites only its own buckets") {
    val dir = newStore()
    val before = bucketDirs(dir)
    // a single-key upsert hashes into exactly one bucket
    val one = docs.filter(col("doc_id") === 3)
      .select(col("doc_id"), lit("patched").as("text"))
    CorpusStore.upsert(one, "doc_id", dir)
    val after = bucketDirs(dir)
    val beforeDirs = before.keySet.map(_.split("/")(0))
    val afterDirs = after.keySet.map(_.split("/")(0))
    assert(beforeDirs === afterDirs, "no bucket directory appears or vanishes")
    // untouched buckets keep their exact files (same names, same mtimes)
    val changedDirs = afterDirs.filter { d =>
      before.filter(_._1.startsWith(d + "/")) != after.filter(_._1.startsWith(d + "/"))
    }
    assert(changedDirs.size === 1,
      s"one-key upsert must rewrite exactly one bucket, got $changedDirs")
    // and the content moved
    assert(CorpusStore.read(spark, dir)
      .filter(col("doc_id") === 3).head().getString(1) === "patched")
  }

  test("re-applying the same change batch converges (crash-replay contract)") {
    val dir = newStore()
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
    CorpusStore.upsert(delta, "doc_id", dir)
    val once = rowSet(CorpusStore.read(spark, dir))
    CorpusStore.upsert(delta, "doc_id", dir)
    assert(rowSet(CorpusStore.read(spark, dir)) === once)
    val dropIds = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    CorpusStore.delete(dropIds, "doc_id", dir)
    val afterDel = rowSet(CorpusStore.read(spark, dir))
    CorpusStore.delete(dropIds, "doc_id", dir)
    assert(rowSet(CorpusStore.read(spark, dir)) === afterDel)
  }

  test("a delete that empties a bucket empties its live set; vacuum removes the directory") {
    // tiny store, 4 buckets: delete EVERYTHING. The snapshot commit
    // takes the buckets' files out of the live set immediately (the
    // read must not resurrect them); the DIRECTORIES hold the retired
    // files for pinned readers until vacuum, which prunes them.
    val dir = SparkSpec.tempDir("graft-cstore-e").toFile.getAbsolutePath
    val small = docs.filter(col("doc_id") < 20)
    CorpusStore.write(small, "doc_id", dir, buckets = 4)
    CorpusStore.delete(small.select("doc_id"), "doc_id", dir)
    assert(CorpusStore.read(spark, dir).isEmpty,
      "deleted rows must not resurrect from stale bucket directories")
    assert(CorpusStore.vacuum(spark, dir).filesDeleted > 0)
    // a fully-drained store may lose the rows/ dir itself to the prune
    val left = Option(new java.io.File(s"$dir/rows").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(_.getName.startsWith("__graft_bucket="))
    assert(left === 0, s"emptied bucket dirs must be removed, $left left")
    assert(CorpusStore.read(spark, dir).isEmpty)
    // deleting absent ids on the emptied store is a no-op, not an error
    CorpusStore.delete(small.select("doc_id"), "doc_id", dir)
    assert(CorpusStore.read(spark, dir).isEmpty)
  }

  test("time travel: every keyed rewrite commits a readable version; vacuum expires it loudly") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-cstore-tt").toFile.getAbsolutePath
    val base = (0L until 60L).map(i => (i, s"v0-$i")).toDF("doc_id", "text")
    CorpusStore.write(base, "doc_id", dir, buckets = 8) // v1
    CorpusStore.upsert(
      (0L until 30L).map(i => (i, s"v1-$i")).toDF("doc_id", "text"),
      "doc_id", dir) // v2
    CorpusStore.delete(Seq(5L, 45L).toDF("doc_id"), "doc_id", dir) // v3
    assert(graft.io.Manifest.versions(spark, dir) === Seq(1L, 2L, 3L))
    assert(rowSet(CorpusStore.readVersion(spark, dir, 1L)) === rowSet(base),
      "v1 must be the corpus as built")
    val v2 = CorpusStore.readVersion(spark, dir, 2L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2.size === 60 && v2(3L) === "v1-3" && v2(45L) === "v0-45",
      "v2 must be post-upsert, pre-delete")
    assert(rowSet(CorpusStore.readVersion(spark, dir, 3L))
      === rowSet(CorpusStore.read(spark, dir)),
      "the newest version is the live read")
    // a never-committed version fails loudly (forged provenance is
    // worse than no read)
    val e = intercept[RuntimeException] {
      CorpusStore.readVersion(spark, dir, 9L)
    }
    assert(e.getMessage.contains("no such committed version"))
    // vacuum trims the horizon to the current version; expired history
    // fails loudly too
    CorpusStore.vacuum(spark, dir): Unit
    assert(graft.io.Manifest.versions(spark, dir) === Seq(3L))
    val e2 = intercept[RuntimeException] {
      CorpusStore.readVersion(spark, dir, 2L)
    }
    assert(e2.getMessage.contains("no such committed version"))
    assert(rowSet(CorpusStore.readVersion(spark, dir, 3L))
      === rowSet(CorpusStore.read(spark, dir)))
  }

  test("curation batch: gate installs, decay evicts, replay is a no-op") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-cstore-c").toFile.getAbsolutePath
    // seed: prose that passes the gate (20-80 tokens, TTR >= 0.4,
    // stopwords present, no punctuation, avg token length in 3-6)
    def good(i: Long) = (i, "the quick brown fox jumps over a lazy dog " +
      "while many other animals watch from their warm homes and some " +
      "birds fly across the evening sky toward distant hills " + i)
    CorpusStore.write(Seq(good(1), good(2)).toDF("doc_id", "text"),
      "doc_id", dir, buckets = 4)
    // batch 0: upsert a passing doc 3, DECAY doc 2 (gibberish now fails
    // the gate -> evict), delete doc 1
    val b0 = Seq(
      ("upsert", good(3)._1, good(3)._2),
      ("upsert", 2L, "zzzz"),
      ("delete", 1L, null.asInstanceOf[String])
    ).toDF("op", "doc_id", "text")
    assert(CorpusStore.applyCurationBatch(b0, "op", "doc_id", "text", dir, 0L))
    val kept = CorpusStore.read(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L),
      "passing upsert installs; decayed doc and deleted doc evict")
    // replayed batch id: whole-body no-op
    assert(!CorpusStore.applyCurationBatch(b0, "op", "doc_id", "text", dir, 0L))
    // the crash window: changes applied, marker not advanced — re-apply
    // with the NEXT id must converge, not corrupt
    val b1 = Seq(("upsert", good(4)._1, good(4)._2))
      .toDF("op", "doc_id", "text")
    assert(CorpusStore.applyCurationBatch(b1, "op", "doc_id", "text", dir, 1L))
    val after1 = rowSet(CorpusStore.read(spark, dir))
    // simulate the replay of an already-applied-but-unmarked batch by
    // re-running its mutations directly
    CorpusStore.upsert(Seq((good(4)._1, good(4)._2)).toDF("doc_id", "text"),
      "doc_id", dir)
    assert(rowSet(CorpusStore.read(spark, dir)) === after1)
  }

  test("serve-while-maintain: reads during keyed rewrites never lose rows") {
    import spark.implicits._
    // the r17 verdict-#3 shape, in-JVM: a serving thread reading while
    // the writer's keyed upserts commit. Each read resolves one
    // manifest snapshot, and the additive rewrite never deletes a file
    // a snapshot references, so every SUCCESSFUL read sees a complete
    // key-unique store and the final state is exact. (Only successful
    // reads are asserted; losing ROWS is the defect.)
    val dir = SparkSpec.tempDir("graft-cstore-conc").toFile.getAbsolutePath
    def gen(v: Int) = spark.range(100)
      .select(col("id").as("doc_id"),
        concat(lit(s"v$v-"), col("id")).as("text"))
    CorpusStore.write(gen(0), "doc_id", dir, buckets = 8)
    @volatile var writerErr: Option[Throwable] = None
    val writer = new Thread(() => {
      try (1 to 5).foreach(v => CorpusStore.upsert(gen(v), "doc_id", dir))
      catch { case t: Throwable => writerErr = Some(t) }
    })
    writer.start()
    var okReads = 0
    while (writer.isAlive && okReads < 500) {
      try {
        val keys = CorpusStore.read(spark, dir)
          .select("doc_id").collect().map(_.getLong(0))
        assert(keys.length === 100,
          s"a concurrent read lost rows: ${keys.length} of 100")
        assert(keys.distinct.length === 100,
          "a concurrent read saw duplicate keys")
        okReads += 1
      } catch { case _: org.apache.spark.SparkException => () }
    }
    writer.join()
    assert(writerErr.isEmpty, s"writer failed: $writerErr")
    assert(okReads > 0, "no read completed — the handshake never exercised")
    val fin = CorpusStore.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin.size === 100)
    assert(fin.forall { case (k, v) => v == s"v5-$k" },
      "the final state must be the last upsert exactly — no lost bucket")
  }
}
