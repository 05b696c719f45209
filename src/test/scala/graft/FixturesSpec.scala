package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.testbed.Fixtures

/** The battery's fixture scope on sf0.001: an entry of each fixture kind,
  * run twice, each time in its own scope, gives the same rows, and every
  * scope leaves the persisted RDDs and the fixture dirs as it found them. */
class FixturesSpec extends SparkSpec {

  // a private copy: another suite's cache entry of the same tables, made
  // outside any scope, would otherwise be picked up inside these scopes
  private lazy val sf: String = {
    val d = SparkSpec.tempDir("graftfix")
    Seq("documents", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"), d.resolve(s"$t.parquet"))
    }
    d.toString
  }

  private def fixtureDirs: Set[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => Seq("graft-ir-index", "graft-ivfpq-index", "graft-gauge-ledger",
        "graft-band-index", "graft-seen-set", "graft-corpus-store").exists(n.startsWith))
      .toSet
    finally ls.close()
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  for ((entry, kind) <- Seq(
      "d2_jaccard_neardup" -> "a cached frame",
      "v3_ivf_topk" -> "a checkpointed chain",
      "t32_hll_distinct" -> "an entry's own checkpoint",
      "t33_cms_heavy_hitters" -> "an entry's own checkpoints",
      "ir6_seen_set_probe" -> "a fixture dir",
      "t38_bpe_apply" -> "a driver value"))
    test(s"$entry ($kind): two scoped runs agree and each scope releases everything") {
      val (rddsBefore, dirsBefore) = (persisted, fixtureDirs)
      val runs = (1 to 2).map { i =>
        val errors = mutable.LinkedHashMap.empty[String, String]
        val rows = Fixtures.scope(spark, errors, entry) {
          val rows = SparkEntry.queries(entry)(spark, sf).collect().toSeq
          if (i == 1) assert(persisted != rddsBefore, "the entry pinned nothing")
          rows
        }
        assert(errors.isEmpty)
        assert(persisted === rddsBefore)
        assert(fixtureDirs === dirsBefore)
        rows
      }
      assert(runs(0).nonEmpty)
      assert(runs(0) === runs(1))
    }

  test("a pin the scope may not release is reported as a leak") {
    // cached before the scope began, so the scope leaves it alone; the
    // entry materializes it, and its blocks outlive the scope
    val cached = spark.range(0L, 100L, 1L, 2).toDF("id").cache()
    try {
      val before = persisted
      val errors = mutable.LinkedHashMap.empty[String, String]
      Fixtures.scope(spark, errors, "family")(cached.count())
      assert(errors.keySet === Set("family:leak"))
      assert(errors("family:leak").startsWith("rdd "))
      assert(persisted.size === before.size + 1)
    } finally cached.unpersist(blocking = true)
  }
}
