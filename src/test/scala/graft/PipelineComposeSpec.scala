package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.pipeline.{CrawlPipeline, CrawlPipelineConfig, DocPipeline,
  DocPipelineConfig}
import graft.sources.Warc

/** The acquisition-to-training-set composition (the w8 battery entry's
  * contract): CrawlPipeline's kept WARC records hand off to DocPipeline
  * on the pageId grain. The battery fixture has one response per file
  * (page id collapses to the file id there), so THIS spec pins the
  * general case — multi-record files, where the handoff must key on
  * `pageId(file, rec_idx)` or two pages of one file would collide. */
class PipelineComposeSpec extends SparkSpec {

  private def page(uri: String, body: String): Warc.WarcRecord =
    Warc.WarcRecord("response", Some(uri), Some("2024-01-01T00:00:00Z"),
      Some("application/http; msgtype=response"),
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
        .getBytes("UTF-8"))
  private def html(text: String) = s"<html><body><p>$text</p></body></html>"

  private val t1 = "the small cat and the old dog walk over the green " +
    "hill and they see some birds fly past the tall trees near the lake"
  private val t2 = "a big red ball rolls down the long road and the kids " +
    "run after it with joy as the sun sets over the quiet town"
  private val t3 = "the river bends past the mill and the boats drift " +
    "slow under the stone bridge while the light fades into the hills"

  test("crawl kept pages hand off to DocPipeline on the pageId grain") {
    import spark.implicits._
    // two files x two response records each: the grain where a file-id
    // handoff would alias pages
    val warc = Seq(
      (100L, Warc.build(Seq(
        page("http://a.com/p0", html(t1)),
        page("http://a.com/p1", html(t2))))),
      (200L, Warc.build(Seq(
        page("http://a.com/p2", html(t1)), // exact dup of file 100 rec 0
        page("http://a.com/p3", html(t3))))))
      .toDF("doc_id", "payload")
    val crawl = CrawlPipeline.run(warc, "doc_id", robots = None,
      CrawlPipelineConfig(robotsGate = false, langGate = false,
        qualityGate = false, dedupNear = false))
    // the handoff projection the w8 entry uses
    val pages = crawl.kept.select(
      CrawlPipeline.pageId(col("id"), col("rec_idx")).as("page_id"),
      TextFunctions.htmlText(col("http_body")).as("text"))
    val ids = pages.select("page_id").collect().map(_.getLong(0)).sorted
    val S = CrawlPipeline.PageIdStride
    // min-pageId canonical kept the file-100 copy of t1; the file-200
    // copy dropped — and the two pages of one file stay DISTINCT ids
    assert(ids === Array(100L * S, 100L * S + 1, 200L * S + 1))
    assert(ids.distinct.length === ids.length)

    // budget handoff: compute the selection the greedy budget SHOULD
    // make from the pages' own stats, then assert DocPipeline makes it
    val stats = pages.select(col("page_id"),
        TextFunctions.textStats("text").getField("quality_score").as("q"),
        TextFunctions.textStats("text").getField("n_tokens")
          .cast("long").as("nt"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val ordered = stats.sortBy { case (id, q, _) => (-q, id) }
    val budget = ordered.take(2).map(_._3).sum // exactly the top 2 fit
    val expected = ordered.take(2).map(_._1).sorted
    val dp = DocPipeline.run(pages, "page_id", "text", evalDocs = None,
      DocPipelineConfig(dedupExact = false, qualityGate = false,
        decontaminate = false, tokenBudget = Some(budget)))
    val kept = dp.kept.select("page_id").collect().map(_.getLong(0)).sorted
    assert(kept === expected)
    val funnel = dp.summary.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(funnel === Map(
      "00_input" -> ((3L, 3L)),
      "40_token_budget" -> ((3L, 2L))))
  }

  test("incrementalCurate: convergence, delta-proportional work, plan shape") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val id = col("doc_id")
    val cur = docs.select(id, col("text"))
    val prev = cur.filter(!(id % 13 === 5))
      .select(id, when(id % 9 === 2, concat(col("text"), lit(" OLD")))
        .otherwise(col("text")).as("text"))
      .unionByName(cur.filter(id % 17 === 4)
        .select((-(id + 1L)).as("doc_id"), col("text")))
    val standingKept = prev.filter(
      TextFunctions.qualityFilter("text").getField("keep"))
    val res = DocPipeline.incrementalCurate(
      prev, cur, standingKept, "doc_id", "text")

    // CONVERGENCE: incremental maintenance == the gate from scratch
    val batch = cur.filter(TextFunctions.qualityFilter("text").getField("keep"))
    assert(rowSet(res.keptNext.orderBy("doc_id")) ===
      rowSet(batch.orderBy("doc_id")),
      "incrementally maintained keep-set drifted from the batch gate")
    assert(res.keptNext.count() > 0)

    // DELTA-PROPORTIONAL: only added+changed docs were re-scored
    val nDelta = cur
      .filter((id % 13 === 5) || (id % 9 === 2)).count()
    assert(res.rescored.count() === nDelta,
      "re-scoring touched rows outside the added+changed sliver")

    // PLAN SHAPE: the gate projection sits ABOVE the delta semi-join —
    // the quality expression is only ever evaluated on delta rows
    // the gate is a tree of built-in expressions aliased `keep`; its
    // Project must print ABOVE (= evaluate on the output of) the semi join
    val plan = res.rescored.queryExecution.optimizedPlan.toString
    val gateAt = plan.indexOf(" AS keep#")
    val semiAt = plan.indexOf("Join LeftSemi")
    assert(gateAt >= 0 && semiAt >= 0 && gateAt < semiAt,
      s"gate not restricted to the delta:\n$plan")
  }

  test("incrementalCurate output slivers drive the standing-index appends") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val id = col("doc_id")
    val cur = docs.select(id, col("text"))
    val prev = cur.filter(!(id % 13 === 5))
    val standingKept = prev.filter(
      TextFunctions.qualityFilter("text").getField("keep"))
    val res = DocPipeline.incrementalCurate(
      prev, cur, standingKept, "doc_id", "text")
    // the ADDED keepers — id-disjoint from the standing corpus by
    // construction, exactly the append-face contract of both indexes
    val addedKept = res.keptNext.join(
      res.diff.filter(col("status") === "added"), Seq("doc_id"), "left_semi")
    assert(addedKept.count() > 0, "fixture produced no added keepers")

    // text index: standing build + loop-driven append == full rebuild
    val dirA = SparkSpec.tempDir("graft-loop-ti-a").toString
    val dirB = SparkSpec.tempDir("graft-loop-ti-b").toString
    graft.io.TextIndex.writeIndex(standingKept, "doc_id", "text", dirA, buckets = 16)
    graft.io.TextIndex.appendToIndex(addedKept, "doc_id", "text", dirA)
    graft.io.TextIndex.writeIndex(res.keptNext, "doc_id", "text", dirB, buckets = 16)
    val qTerms = Seq("the", "and")
    assert(
      rowSet(graft.io.TextIndex.bm25SearchIndex(spark, dirA, qTerms, k = 10)) ===
        rowSet(graft.io.TextIndex.bm25SearchIndex(spark, dirB, qTerms, k = 10)),
      "appended text index diverged from a rebuild over keptNext")

    // band index: same contract through BandIndex.appendToIndex
    val dirC = SparkSpec.tempDir("graft-loop-bi-a").toString
    val dirD = SparkSpec.tempDir("graft-loop-bi-b").toString
    graft.io.BandIndex.writeIndex(standingKept, "doc_id", "text", dirC)
    graft.io.BandIndex.appendToIndex(addedKept, "doc_id", "text", dirC)
    graft.io.BandIndex.writeIndex(res.keptNext, "doc_id", "text", dirD)
    val probeBatch = Seq((9000001L, t1), (9000002L, t2)).toDF("doc_id", "text")
    assert(
      rowSet(graft.io.BandIndex.probe(spark, dirC, probeBatch, "doc_id", "text")) ===
        rowSet(graft.io.BandIndex.probe(spark, dirD, probeBatch, "doc_id", "text")),
      "appended band index diverged from a rebuild over keptNext")
  }

  test("incrementalCurate output slivers maintain the persisted corpus store") {
    // the loop's third durable artifact: the standing KEPT CORPUS itself,
    // kept on disk by CorpusStore — upsert the delta keepers, evict the
    // removed/now-failing ids, and the store must equal keptNext exactly
    // (with added, CHANGED and removed docs all in the fixture, so the
    // replace path is exercised, not just appends)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val id = col("doc_id")
    val cur = docs.select(id, col("text"))
    val prev = cur.filter(!(id % 13 === 5))
      .select(id, when(id % 9 === 2, concat(col("text"), lit(" OLD")))
        .otherwise(col("text")).as("text"))
      .unionByName(cur.filter(id % 17 === 4)
        .select((-(id + 1L)).as("doc_id"), col("text")))
    val standingKept = prev.filter(
      TextFunctions.qualityFilter("text").getField("keep"))
    val res = DocPipeline.incrementalCurate(
      prev, cur, standingKept, "doc_id", "text")
    val deltaKeptIds = res.rescored.filter(col("keep")).select("doc_id")
    val deltaKept = cur.join(deltaKeptIds, Seq("doc_id"), "left_semi")
    val evictIds = res.diff.filter(col("status") === "removed").select("doc_id")
      .unionByName(res.rescored
        .filter(!coalesce(col("keep"), lit(false))).select("doc_id"))
    assert(deltaKept.count() > 0 && evictIds.count() > 0,
      "fixture must exercise both the upsert and the evict path")
    val dirE = SparkSpec.tempDir("graft-loop-cs").toString
    graft.io.CorpusStore.write(standingKept, "doc_id", dirE, buckets = 8)
    graft.io.CorpusStore.upsert(deltaKept, "doc_id", dirE)
    graft.io.CorpusStore.delete(evictIds, "doc_id", dirE)
    assert(rowSet(graft.io.CorpusStore.read(spark, dirE)) ===
      rowSet(res.keptNext),
      "store maintained from the loop's slivers diverged from keptNext")
  }
}
