package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Robots}
import graft.sources.Warc

/** Stage toggles + knobs of [[CrawlPipeline]]. Every stage is opt-out so
  * a recipe can run any prefix/subset, mirroring [[DocPipelineConfig]]
  * and the datacube skip matrix. */
final case class CrawlPipelineConfig(
    agent: String = "graftbot",
    dedupUrl: Boolean = false,
    robotsGate: Boolean = true,
    extractGate: Boolean = true,
    langGate: Boolean = true,
    allowedLangs: Seq[String] = Seq("en"),
    qualityGate: Boolean = true,
    dedupExact: Boolean = true,
    dedupNear: Boolean = true,
    nearBands: Int = 4,
    nearMaxHamming: Int = 3,
    nearMaxBandFreq: Option[Int] = None,
    checkpointDir: Option[String] = None)

final case class CrawlPipelineResult(kept: DataFrame, summary: DataFrame)

/** The crawl-front-end counterpart of [[DocPipeline]]: one entry point
  * that runs the whole acquisition recipe — WARC record walk → robots
  * legality → HTML text extraction → language gate → quality gate →
  * exact dedup → simhash near-dedup — over raw WARC files, composed
  * entirely from the oracle-gated operators, and returns both the kept
  * page records and a per-stage funnel summary (stage, n_in, n_out).
  *
  * Execution contract: [[Funnel]], over a source whose "text" is buried
  * inside binary WARC payloads. The WARC files are parsed in ONE scan
  * that computes every signal an enabled gate decides on (url/host,
  * canonical url, extracted-text length, language, quality keep, content
  * hash, simhash); only that metadata (~100 bytes/page, never payloads or
  * extracted text) is pinned, straight off the scan, so the robots
  * decision (the per-host broadcast-join shape of
  * [[Robots.filterByRobots]]) reads the pin, not the corpus. The kept
  * frame re-parses the WARC records once: the WARC bytes are read
  * exactly twice and written zero times.
  *
  * Page identity: `file_id * PageIdStride + rec_idx` — stable across
  * re-parses (WARC records are positional), monotone in (file, record)
  * order so min-id canonical selection prefers earlier-crawled pages.
  *
  * Stage semantics (all identical to their standalone operators):
  *  - 00_responses: WARC `response` records with a target URI and an
  *    HTTP body ([[Warc.records]]) — the page universe;
  *  - 05_url_dedup (opt-in): keep ONE page per CANONICAL URL
  *    ([[TextFunctions.canonicalUrl]] — tracking params stripped, query
  *    sorted, default ports dropped) — the same page fetched twice
  *    under URL aliases is the commonest crawl dup, and dropping it by
  *    URL costs one metadata window instead of content hashing. The
  *    kept copy is the min-id fetch among copies passing the other
  *    per-page gates (min id overall when none pass) — a blocked or
  *    garbled fetch never shadows a clean copy; pages whose URL does
  *    not canonicalize (null) are each their own identity and always
  *    survive this stage;
  *  - 10_robots: RFC 9309 allow/deny for `agent` against the provided
  *    per-host robots.txt table ([[Robots.filterByRobots]]; pages with
  *    no robots row are allowed);
  *  - 20_extract: [[TextFunctions.htmlText]] yields non-empty text;
  *  - 30_lang: [[TextFunctions.langId]] prediction ∈ `allowedLangs`;
  *  - 40_quality: [[TextFunctions.qualityFilter]]'s composite keep;
  *  - 50_exact_dedup: keep the min-id SURVIVOR per normalized content
  *    hash (canonical chosen among pages that passed the earlier gates,
  *    so a blocked/garbage copy never shadows a clean one);
  *  - 60_near_dedup: [[Dedup.simHashPairsFromHashes]] banded candidates
  *    → [[Dedup.connectedComponents]] → keep each cluster's min id. */
object CrawlPipeline {

  /** Max records per WARC file the page-id packing supports; Common
    * Crawl segments carry ~50k. */
  val PageIdStride = 1000000L

  /** Packs (file, record) into one long — GUARDED: a file with >=
    * [[PageIdStride]] records would silently alias page ids (corrupting
    * canonical selection and the final semi-join), so overflow fails
    * the job loudly instead. */
  def pageId(fileId: Column, recIdx: Column): Column =
    when(recIdx < PageIdStride, fileId * PageIdStride + recIdx)
      .otherwise(raise_error(concat(
        lit(s"CrawlPipeline: WARC file "), fileId.cast("string"),
        lit(s" has >= $PageIdStride records; page-id packing would alias"))))

  def run(
      warcFiles: DataFrame,
      idCol: String,
      robots: Option[DataFrame],
      cfg: CrawlPipelineConfig = CrawlPipelineConfig()
  ): CrawlPipelineResult = {
    val doRobots = cfg.robotsGate && robots.nonEmpty

    // the ONE corpus-reading plan: WARC walk, response filter, page ids
    val responses = Warc.records(warcFiles, idCol)
      .filter(col("record_type") === "response" &&
        col("http_body").isNotNull && col("target_uri").isNotNull)
      .withColumn("_id", pageId(col("id"), col("rec_idx")))

    // the single signal projection over that scan: extracted text is an
    // intermediate column consumed in-plan (adjacent projects collapse),
    // never pinned; only the signals enabled stages will read are computed
    val withText = responses.select(col("_id"), col("target_uri").as("_url"),
      TextFunctions.htmlText(col("http_body")).as("text"))
    val sigCols: Seq[Column] =
      Seq(col("_id")) ++
        (if (cfg.dedupUrl)
          Seq(TextFunctions.canonicalUrl(col("_url")).as("_curl"))
        else Nil) ++
        (if (doRobots)
          Seq(col("_url"), TextFunctions.urlHost(col("_url")).as("_host"))
        else Nil) ++
        (if (cfg.extractGate) Seq((length(col("text")) > 0).as("_extract_ok"))
        else Nil) ++
        (if (cfg.langGate)
          Seq(TextFunctions.langId("text").getField("predicted").as("_lang"))
        else Nil) ++
        (if (cfg.qualityGate)
          Seq(TextFunctions.qualityFilter("text").getField("keep").as("_keep_q"))
        else Nil) ++
        (if (cfg.dedupExact)
          Seq(md5(expr(Dedup.normalizedSql("text"))).as("_hash"))
        else Nil) ++
        (if (cfg.dedupNear) Seq(TextFunctions.simHash("text").as("_sh"))
        else Nil)
    def signals(pin: DataFrame => DataFrame): DataFrame = {
      val meta = pin(withText.select(sigCols: _*))
      if (!doRobots) meta
      else meta.join(Robots
        .filterByRobots(meta, robots.get, "_id", "_url", col("_host"), cfg.agent)
        .select(col("id").as("_id"), col("allowed").as("_allowed")), Seq("_id"))
    }

    // canonical-URL keep, FIRST: the commonest crawl dup (one page under
    // many URL aliases) never reaches the content stages. The canonical is
    // the min-id fetch AMONG COPIES THAT PASS the other per-page gates,
    // falling back to the plain min id when no copy passes: a blocked or
    // garbled fetch must never shadow a clean copy of the same page. A
    // page whose URL fails to canonicalize is its own identity.
    val pagePass = Seq(
      if (doRobots) Some(col("_allowed")) else None,
      if (cfg.extractGate) Some(col("_extract_ok")) else None,
      if (cfg.langGate) Some(col("_lang").isin(cfg.allowedLangs: _*)) else None,
      if (cfg.qualityGate) Some(col("_keep_q")) else None
    ).flatten.reduceOption(_ && _).getOrElse(lit(true))
    val byUrl = Window.partitionBy("_curl")
    val gates = Seq(
      cfg.dedupUrl -> Funnel.Gate("05_url_dedup", _ =>
        col("_curl").isNull || col("_id") === coalesce(
          min(when(pagePass, col("_id"))).over(byUrl), min(col("_id")).over(byUrl))),
      doRobots -> Funnel.Gate("10_robots", _ => col("_allowed")),
      cfg.extractGate -> Funnel.Gate("20_extract", _ => col("_extract_ok")),
      cfg.langGate -> Funnel.Gate("30_lang", _ =>
        col("_lang").isin(cfg.allowedLangs: _*)),
      cfg.qualityGate -> Funnel.Gate("40_quality", _ => col("_keep_q")),
      // canonical = min id AMONG SURVIVORS of the earlier gates
      cfg.dedupExact -> Funnel.Gate("50_exact_dedup", prior =>
        col("_id") === min(when(prior, col("_id"))).over(Window.partitionBy("_hash")))
    ).collect { case (true, g) => g }
    val near = if (!cfg.dedupNear) None else Some(Funnel.Step("60_near_dedup", surv =>
      Dedup.simHashPairsFromHashes(
        surv.select(col("_id").as("doc_id"), col("_sh").as("sh")),
        cfg.nearBands, cfg.nearMaxHamming, cfg.nearMaxBandFreq)))

    val (kept, summary) = Funnel.run(responses, col("_id"), "00_responses",
      cfg.checkpointDir, signals, gates, near, None)
    CrawlPipelineResult(kept.drop("_id"), summary)
  }
}
