package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{DocPipeline, DocPipelineConfig}

/** The curation-recipe orchestrator: stage composition, skip matrix,
  * summary/kept consistency, and budget semantics. */
class DocPipelineSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val evalSet = docs.filter(col("doc_id") < 10)

  test("full recipe: counts are a monotone funnel and kept matches the summary") {
    val r = DocPipeline.run(docs, "doc_id", "text", Some(evalSet),
      DocPipelineConfig(tokenBudget = Some(3000L)))
    val rows = r.summary.orderBy("stage").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(rows.map(_._1).toSeq === Seq("00_input", "10_exact_dedup",
      "20_quality_gate", "30_decontaminate", "40_token_budget"))
    // chained: each stage's n_in is the previous stage's n_out
    rows.sliding(2).foreach { case Array(a, b) => assert(b._2 === a._3) }
    // monotone non-increasing
    rows.foreach { case (_, in, out) => assert(out <= in) }
    // the kept frame IS the final count
    assert(r.kept.count() === rows.last._3)
    // the kept frame preserves the input schema
    assert(r.kept.columns.toSeq === docs.columns.toSeq)
  }

  test("near dedup: banded minhash clusters collapse to min id; short docs survive") {
    import spark.implicits._
    val same = "the quick brown fox jumps over the lazy dog near the " +
      "river bank today while birds sing in the tall trees"
    val other = "completely different prose about spark partitions and " +
      "shuffles and the exchanges that dominate distributed query cost"
    val d = Seq((1L, same), (2L, same), (3L, other), (4L, "hi"))
      .toDF("doc_id", "text")
    // exact dedup OFF so the identical pair reaches the near stage;
    // doc 4 has < 3 tokens -> NULL signature -> its own identity
    val r = DocPipeline.run(d, "doc_id", "text", None,
      DocPipelineConfig(dedupExact = false, qualityGate = false,
        decontaminate = false, dedupNear = true))
    val rows = r.summary.orderBy("stage").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(rows.toSeq === Seq(("00_input", 4L, 4L), ("35_near_dedup", 4L, 3L)))
    assert(r.kept.select("doc_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 3L, 4L))
  }

  test("reliable checkpointDir: identical funnel and kept set") {
    val dir = SparkSpec.tempDir("graft-doc-ckpt").toString
    def run(ckpt: Option[String]) = DocPipeline.run(docs, "doc_id", "text",
      Some(evalSet), DocPipelineConfig(dedupNear = true, checkpointDir = ckpt))
    val local = run(None)
    val reliable = run(Some(dir))
    assert(rowSet(reliable.summary) === rowSet(local.summary))
    assert(rowSet(reliable.kept.select("doc_id"))
      === rowSet(local.kept.select("doc_id")))
    val pins = new java.io.File(dir).listFiles()
    assert(pins != null && pins.exists(_.getName.startsWith("pin-")))
  }

  test("a failed run leaves nothing under checkpointDir") {
    // the agreement threshold's require fails after the metadata pin is
    // written; the run's pins must go with it
    val dir = SparkSpec.tempDir("graft-doc-fail").toString
    intercept[IllegalArgumentException] {
      DocPipeline.run(docs, "doc_id", "text", Some(evalSet),
        DocPipelineConfig(dedupNear = true, checkpointDir = Some(dir),
          nearMinSigAgreement = Some(2.0)))
    }
    assert(new java.io.File(dir).listFiles().toSeq === Nil)
  }

  test("an empty corpus yields an all-zero funnel, not a null crash") {
    // sum() over zero rows is NULL; the funnel must read it as 0
    val r = DocPipeline.run(docs.filter(lit(false)), "doc_id", "text",
      Some(evalSet), DocPipelineConfig())
    val rows = r.summary.orderBy("stage").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nIn, nOut) => assert(nIn === 0L && nOut === 0L) }
    assert(r.kept.count() === 0L)
  }

  test("skip matrix: disabled stages are absent and identity-preserving") {
    val r = DocPipeline.run(docs, "doc_id", "text", None,
      DocPipelineConfig(dedupExact = false, qualityGate = false,
        decontaminate = false, tokenBudget = None))
    assert(r.summary.count() === 1) // input row only
    assert(r.kept.count() === docs.count())
    val r2 = DocPipeline.run(docs, "doc_id", "text", Some(evalSet),
      DocPipelineConfig(qualityGate = false, tokenBudget = None))
    assert(r2.summary.orderBy("stage").collect().map(_.getString(0)).toSeq ===
      Seq("00_input", "10_exact_dedup", "30_decontaminate"))
  }

  test("each stage equals its standalone operator's decision") {
    val r = DocPipeline.run(docs, "doc_id", "text", None,
      DocPipelineConfig(qualityGate = false, decontaminate = false))
    val standalone = graft.operators.Dedup.exactDedup(docs, "doc_id", "text")
      .filter(!col("is_duplicate")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(r.kept.select("doc_id").collect().map(_.getLong(0)).toSet === standalone)
  }

  test("token budget keeps the greedy max-quality prefix") {
    val r = DocPipeline.run(docs, "doc_id", "text", None,
      DocPipelineConfig(dedupExact = false, qualityGate = false,
        decontaminate = false, tokenBudget = Some(2000L)))
    val kept = r.kept.select(col("doc_id"),
      graft.functions.TextFunctions.textStats("text").getField("n_tokens").as("nt"))
      .collect().map(x => (x.getLong(0), x.getInt(1)))
    assert(kept.map(_._2.toLong).sum <= 2000L)
    assert(kept.nonEmpty)
  }
}
