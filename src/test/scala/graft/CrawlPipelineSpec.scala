package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{CrawlPipeline, CrawlPipelineConfig}
import graft.sources.Warc

/** CrawlPipeline contracts: the per-stage funnel on a hand fixture where
  * every gate decides at least one page, the skip matrix, near-dedup
  * composition, and the one-WARC-scan execution contract (proved with an
  * accumulator on the fixture generator, not a plan argument). */
class CrawlPipelineSpec extends SparkSpec {

  private def page(uri: String, body: String): Warc.WarcRecord =
    Warc.WarcRecord("response", Some(uri), Some("2024-01-01T00:00:00Z"),
      Some("application/http; msgtype=response"),
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
        .getBytes("UTF-8"))
  private def html(text: String) = s"<html><body><p>$text</p></body></html>"

  // passes every default quality rule: 25 tokens, ttr 0.8, stopword
  // ratio 0.28, no punctuation, avg token length 3.4
  private val goodText = "the small cat and the old dog walk over the " +
    "green hill and they see some birds fly past the tall trees near the lake"
  private val otherGoodText = "a big red ball rolls down the long road " +
    "and the kids run after it with joy as the sun sets over the quiet town"

  private def warcDf(files: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    files.toDF("doc_id", "payload")
  }

  test("funnel: every stage decides the page the fixture aims at it") {
    val robots = {
      import spark.implicits._
      Seq(("a.com", "User-agent: *\nDisallow: /no\n"))
        .toDF("host", "robots_txt")
    }
    def f(id: Long, body: String, path: String = null): (Long, Array[Byte]) = {
      val p = Option(path).getOrElse(s"/ok/p$id")
      (id, Warc.build(Seq(page(s"http://a.com$p", body)),
        gzipPerRecord = id % 2 == 0))
    }
    val files = Seq(
      f(0, html(goodText)),                        // kept (canonical)
      f(1, html(goodText)),                        // exact dup -> 50
      f(2, html(goodText + "   ")),                // normalizes equal -> 50
      f(3, html(goodText), path = "/no/p3"),       // robots-blocked -> 10
      f(4, "<html><body><script>var x = 1;</script></body></html>"), // -> 20
      f(5, html("le chat est sur le mur et le chien est dans le " +
        "jardin avec les fleurs du printemps")),   // predicted fr -> 30
      f(6, html("the spam and the spam is of spam a spam")), // 10 toks -> 40
      f(7, html(otherGoodText)),                   // kept
      (8L, "garbage not warc".getBytes("UTF-8"))   // parses to no pages
    )
    // nearMaxHamming 0: only simhash-identical survivors pair, so the
    // two kept DISTINCT texts stay; the near stage still runs
    val res = CrawlPipeline.run(warcDf(files), "doc_id", Some(robots),
      CrawlPipelineConfig(nearMaxHamming = 0))
    val funnel = res.summary.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(funnel === Map(
      "00_responses" -> ((8L, 8L)),
      "10_robots" -> ((8L, 7L)),
      "20_extract" -> ((7L, 6L)),
      "30_lang" -> ((6L, 5L)),
      "40_quality" -> ((5L, 4L)),
      "50_exact_dedup" -> ((4L, 2L)),
      "60_near_dedup" -> ((2L, 2L))))
    val kept = res.kept.select("id", "target_uri").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept === Map(0L -> "http://a.com/ok/p0",
      7L -> "http://a.com/ok/p7"))
  }

  test("near-dedup composes: identical survivors cluster, min id kept") {
    // exact dedup OFF so the identical pair reaches the near stage
    val files = Seq(
      (10L, Warc.build(Seq(page("http://x.com/p10", html(goodText))))),
      (11L, Warc.build(Seq(page("http://x.com/p11", html(goodText))))),
      (12L, Warc.build(Seq(page("http://x.com/p12", html(otherGoodText))))))
    val res = CrawlPipeline.run(warcDf(files), "doc_id", None,
      CrawlPipelineConfig(robotsGate = false, extractGate = false,
        langGate = false, qualityGate = false, dedupExact = false,
        dedupNear = true, nearMaxHamming = 0))
    val funnel = res.summary.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(funnel === Map(
      "00_responses" -> ((3L, 3L)),
      "60_near_dedup" -> ((3L, 2L))))
    assert(res.kept.select("id").collect().map(_.getLong(0)).sorted
      === Array(10L, 12L))
  }

  test("skip matrix: all-off passes the page universe through untouched") {
    // one file holds TWO responses (plus a warcinfo) — page ids must
    // distinguish the records and nothing may dedup them
    val info = Warc.WarcRecord("warcinfo", None, None,
      Some("application/warc-fields"), "software: graft\r\n".getBytes("UTF-8"))
    val files = Seq(
      (20L, Warc.build(Seq(info, page("http://x.com/a", html(goodText)),
        page("http://x.com/b", html(goodText))))),
      (21L, Warc.build(Seq(page("http://x.com/c", html(goodText))))))
    val res = CrawlPipeline.run(warcDf(files), "doc_id", None,
      CrawlPipelineConfig(robotsGate = false, extractGate = false,
        langGate = false, qualityGate = false, dedupExact = false,
        dedupNear = false))
    assert(res.summary.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq(("00_responses", 3L, 3L)))
    // duplicate texts survive untouched; both records of file 20 present
    assert(res.kept.count() === 3L)
    assert(res.kept.select("target_uri").collect().map(_.getString(0)).sorted
      === Array("http://x.com/a", "http://x.com/b", "http://x.com/c"))
  }

  test("05_url_dedup: canonical-URL aliases collapse to the min id first") {
    // four pages: 40/41 are the SAME page under tracking/query aliases
    // (canonicalUrl strips utm_*/fbclid and sorts the rest), 42 is a
    // distinct page, 43 has an uncanonicalizable URI (no scheme/host) and
    // must be its own identity. Texts all distinct so no later dedup bites.
    val texts = Seq(goodText, otherGoodText,
      "the old man sat by the warm fire and read a long book while " +
        "the rain fell soft on the roof of his small house",
      "a young girl walks to the farm each day and feeds the hens and " +
        "the cows before the sun climbs over the far green hills")
    val files = Seq(
      (40L, Warc.build(Seq(page(
        "http://x.com/page?b=2&a=1&utm_source=feed", html(texts(0)))))),
      (41L, Warc.build(Seq(page(
        "http://x.com:80/page?a=1&fbclid=zz&b=2", html(texts(1)))))),
      (42L, Warc.build(Seq(page("http://x.com/other", html(texts(2)))))),
      (43L, Warc.build(Seq(page("urn:uuid:1234", html(texts(3)))))))
    val res = CrawlPipeline.run(warcDf(files), "doc_id", None,
      CrawlPipelineConfig(dedupUrl = true, robotsGate = false,
        extractGate = false, langGate = false, qualityGate = false,
        dedupExact = false, dedupNear = false))
    val funnel = res.summary.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(funnel === Map(
      "00_responses" -> ((4L, 4L)),
      "05_url_dedup" -> ((4L, 3L))))
    assert(res.kept.select("id").collect().map(_.getLong(0)).sorted
      === Array(40L, 42L, 43L))
  }

  test("05_url_dedup: a garbled min-id fetch never shadows a clean copy") {
    // 50/51 share a canonical URL; the MIN-id fetch (50) is script-only
    // (extraction fails), the later fetch (51) is clean — the stage must
    // keep 51, not lose the page by picking 50 and then killing it at 20.
    // 52/53 also share a canonical URL and BOTH fail extraction: the
    // fallback keeps the plain min id (52), which 20 then drops.
    val script = "<html><body><script>var x = 1;</script></body></html>"
    val files = Seq(
      (50L, Warc.build(Seq(page("http://y.com/page?utm_source=a", script)))),
      (51L, Warc.build(Seq(page("http://y.com/page", html(goodText))))),
      (52L, Warc.build(Seq(page("http://y.com/dead?utm_source=b", script)))),
      (53L, Warc.build(Seq(page("http://y.com/dead", script)))))
    val res = CrawlPipeline.run(warcDf(files), "doc_id", None,
      CrawlPipelineConfig(dedupUrl = true, robotsGate = false,
        extractGate = true, langGate = false, qualityGate = false,
        dedupExact = false, dedupNear = false))
    val funnel = res.summary.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(funnel === Map(
      "00_responses" -> ((4L, 4L)),
      "05_url_dedup" -> ((4L, 2L)),
      "20_extract" -> ((2L, 1L))))
    assert(res.kept.select("id").collect().map(_.getLong(0)).toSeq
      === Seq(51L))
  }

  test("reliable checkpointDir: identical results, pins land as parquet") {
    val dir = SparkSpec.tempDir("graft-crawl-ckpt").toString
    val files = Seq(
      (0L, Warc.build(Seq(page("http://x.com/p0", html(goodText))))),
      (1L, Warc.build(Seq(page("http://x.com/p1", html(goodText))))),
      (2L, Warc.build(Seq(page("http://x.com/p2", html(otherGoodText))))))
    def run(ckpt: Option[String]) = CrawlPipeline.run(
      warcDf(files), "doc_id", None,
      CrawlPipelineConfig(robotsGate = false, checkpointDir = ckpt))
    val local = run(None)
    val reliable = run(Some(dir))
    assert(rowSet(reliable.summary) === rowSet(local.summary))
    assert(rowSet(reliable.kept.select("id", "target_uri"))
      === rowSet(local.kept.select("id", "target_uri")))
    // the pins really are on-disk parquet (executor-loss-safe), not
    // executor-memory blocks
    val pins = new java.io.File(dir).listFiles()
    assert(pins != null && pins.exists(_.getName.startsWith("pin-")))
  }

  test("a local run leaves persisted exactly the pins its kept frame reads") {
    val files = Seq(
      (0L, Warc.build(Seq(page("http://x.com/p0", html(goodText))))),
      (1L, Warc.build(Seq(page("http://x.com/p1", html(goodText))))),
      (2L, Warc.build(Seq(page("http://x.com/p2", html(otherGoodText))))))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val res = CrawlPipeline.run(warcDf(files), "doc_id", None,
      CrawlPipelineConfig(robotsGate = false))
    val added = sc.getPersistentRDDs.keySet.toSet -- before
    val read = res.kept.queryExecution.analyzed.collectWithSubqueries {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    assert(added.nonEmpty && added === read)
    assert(res.kept.select("id").collect().map(_.getLong(0)).sorted === Array(0L, 2L))
    added.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
  }

  test("robots gate without a robots table is a no-op stage") {
    val files = Seq(
      (30L, Warc.build(Seq(page("http://x.com/p", html(goodText))))))
    val res = CrawlPipeline.run(warcDf(files), "doc_id", robots = None,
      CrawlPipelineConfig(langGate = false, qualityGate = false,
        dedupNear = false))
    val stages = res.summary.collect().map(_.getString(0)).toSet
    assert(!stages.contains("10_robots"))
    assert(stages === Set("00_responses", "20_extract", "50_exact_dedup"))
  }

  test("one WARC scan feeds every stage; kept pays the documented second") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("warcBuilds")
    // six DISTINCT quality-passing texts: dedupExact stays on in the
    // default config, so repeated texts would (correctly) collapse and
    // hide the contract this test pins — every page must survive every
    // gate so kept == n and the accumulator arithmetic is exact
    val distinctGoodTexts = Seq(
      goodText,
      otherGoodText,
      "the old man sat by the warm fire and read a long book while " +
        "the rain fell soft on the roof of his small house",
      "a young girl walks to the farm each day and feeds the hens and " +
        "the cows before the sun climbs over the far green hills",
      "the boat drifts on the calm sea under a wide sky while the crew " +
        "waits for the wind to rise and fill the white sails",
      "some men dig in the field all day to plant the corn and the " +
        "beans so the town will have food when the cold days come")
    val n = distinctGoodTexts.size
    val bytes = (0 until n).map(i =>
      Warc.build(Seq(page(s"http://x.com/p$i", html(distinctGoodTexts(i))))))
    val warc = spark.range(n.toLong).as[Long]
      .mapPartitions(_.map { id =>
        acc.add(1) // counts FILE PARSES: bumps once per evaluation of the scan
        (id, bytes(id.toInt))
      }).toDF("doc_id", "payload")
    val res = CrawlPipeline.run(warc, "doc_id", None,
      CrawlPipelineConfig(robotsGate = false))
    // run() computed the whole funnel (signal projection, gates, exact
    // and near dedup) from ONE materialization of the scan
    assert(acc.value === n.toLong)
    assert(res.kept.count() === n.toLong)
    // ... and the kept frame re-read the files exactly once more
    assert(acc.value === 2L * n)
  }
}
