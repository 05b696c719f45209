package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.io.Layout
import graft.operators.TileMath

/** [[Layout.writeClustered]] + [[TileMath.zorder]]: the written files must
  * own (near-)disjoint Z ranges, and a parent-tile range scan must touch
  * only the few files whose range intersects it — the pruning property the
  * layout exists to deliver.
  */
class LayoutSpec extends SparkSpec {

  test("z-clustered files own disjoint ranges and parent scans prune") {
    val dir = SparkSpec.tempDir("graft-layout").toFile.getAbsolutePath
    val grid = for (x <- 0 until 64; y <- 0 until 64) yield Row(x.toLong, y.toLong)
    val in = df("x LONG, y LONG", grid)
      .withColumn("z", TileMath.zorder(col("x"), col("y")))
    val numFiles = 16
    Layout.writeClustered(in, col("z"), numFiles, dir)

    // every row survives the layout
    assert(spark.read.parquet(dir).count() === 64L * 64L)

    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.length === numFiles)

    // per-file (min, max) of the clustering key: ranges must be pairwise
    // disjoint (range partitioning + within-partition sort)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("z"), max("z")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach { case Array((_, hi), (lo, _)) => assert(hi < lo) }

    // parent-prefix pruning: each zoom-3-up parent of the 64x64 grid owns
    // the contiguous range [zp << 6, (zp+1) << 6) of 64 cells; at 4096
    // cells over 16 balanced files (256 cells each), every parent range
    // must intersect at most 2 files (1 + a boundary straddle)
    for (px <- 0L until 8L; py <- 0L until 8L) {
      val zp = graft.functions.ZOrder60.interleave(px, py)
      val (lo, hi) = (zp << 6, ((zp + 1) << 6) - 1)
      val touched = sorted.count { case (mn, mx) => mx >= lo && mn <= hi }
      assert(touched <= 2, s"parent ($px,$py) touches $touched files")
    }
  }

  test("same-key bucketed tables join with zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.executedPlan.collect { case _: ShuffleExchangeExec => 1 }.size
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Layout.writeBucketed(docs.select("doc_id", "lang"), "graft_bkt_a", "doc_id", 8)
    Layout.writeBucketed(docs.select("doc_id", "n_chars"), "graft_bkt_b", "doc_id", 8)
    val keys = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      // the persisted bucketing satisfies the join's distribution: no
      // exchange anywhere in the plan, and the result is still the join
      val j = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "doc_id")
      assert(shuffles(j) === 0, "bucketed join must not shuffle")
      assert(j.count() === docs.count())
      // contrast: the identical join on plain frames pays exchanges
      val plain = docs.select("doc_id", "lang")
        .join(docs.select("doc_id", "n_chars"), "doc_id")
      assert(shuffles(plain) > 0)
    } finally {
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }
}
