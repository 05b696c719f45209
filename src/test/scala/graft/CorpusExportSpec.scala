package graft

import org.apache.spark.sql.functions._

import graft.io.CorpusExport

/** The sharded corpus export: round-trip fidelity, deterministic
  * content-addressed shard assignment, and a manifest consistent with
  * the written data. */
class CorpusExportSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("export round-trips every row and the manifest counts the shards") {
    val dir = SparkSpec.tempDir("graft-export").toString
    val manifest = CorpusExport.exportShards(docs, "doc_id", dir, nShards = 8,
      profileCols = Seq("doc_id", "lang"))
    val back = CorpusExport.readShards(spark, dir)
    assert(back.count() === docs.count())
    assert(rowSet(back.select("doc_id", "lang", "source")) ===
      rowSet(docs.select("doc_id", "lang", "source")))
    // manifest: machine-readable, totals consistent
    assert(manifest.contains(s""""n_rows":${docs.count()}"""))
    assert(manifest.contains(""""n_shards":8"""))
    val onDisk = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/manifest.json"))
    assert(onDisk === manifest)
    // the profile block carries the doc_id column card
    assert(manifest.contains(""""column":"doc_id""""))
  }

  test("shard assignment is content-addressed: re-export lands identically") {
    val d1 = SparkSpec.tempDir("graft-export1").toString
    val d2 = SparkSpec.tempDir("graft-export2").toString
    CorpusExport.exportShards(docs, "doc_id", d1, 4, Seq("doc_id"))
    CorpusExport.exportShards(docs.orderBy(rand(7)), "doc_id", d2, 4, Seq("doc_id"))
    val s1 = spark.read.parquet(s"$d1/data").select("doc_id", "shard")
    val s2 = spark.read.parquet(s"$d2/data").select("doc_id", "shard")
    assert(rowSet(s1) === rowSet(s2))
  }
}
