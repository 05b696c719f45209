package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Sampling}

/** Stage toggles + knobs of [[DocPipeline]]. Every stage is opt-out so a
  * recipe can run any prefix/subset, mirroring the skip matrix the
  * datacube [[Pipeline]] exposes. */
final case class DocPipelineConfig(
    dedupExact: Boolean = true,
    qualityGate: Boolean = true,
    decontaminate: Boolean = true,
    contaminationN: Int = 3,
    contaminationMaxFrac: Double = 0.05,
    dedupNear: Boolean = false,
    nearShingleN: Int = 3,
    nearNumHashes: Int = 64,
    nearBands: Int = 16,
    nearMinSigAgreement: Option[Double] = None,
    tokenBudget: Option[Long] = None,
    checkpointDir: Option[String] = None)

final case class DocPipelineResult(kept: DataFrame, summary: DataFrame)

/** [[DocPipeline.incrementalCurate]]'s three faces: the full diff surface
  * (id, status), the re-scored delta (id, keep — added+changed docs ONLY,
  * the work-proportionality witness), and the next standing kept corpus
  * (the input schema). */
final case class IncrementalCurationResult(
    diff: DataFrame, rescored: DataFrame, keptNext: DataFrame)

/** The LLM-side counterpart of the datacube [[Pipeline]]: one entry
  * point that runs a curation RECIPE — exact dedup → quality gate →
  * decontamination → token-budget selection — over a document corpus,
  * composed entirely from the oracle-gated operators, and returns both
  * the kept corpus and a per-stage funnel summary (stage, n_in, n_out).
  *
  * Execution contract: [[Funnel]]. The signals, all from ONE projection
  * over the corpus text: the normalized content hash, the quality keep
  * flag, the MinHash signature (`dedupNear`), the quality score and token
  * count (`tokenBudget`), plus the doc-local contamination fraction
  * against `evalDocs`, joined in from its own shingle scan. The corpus
  * text is read by those two scans and by the kept frame; the pinned
  * metadata is ~50 bytes/doc (~½ KB/doc with the signature), and a
  * `checkpointDir` makes the pins reliable parquet spills.
  *
  * Stage semantics (all identical to their standalone operators):
  *  - exact dedup: keep the min-id document per normalized content hash
  *    ([[Dedup.exactDedup]]);
  *  - quality gate: [[TextFunctions.qualityFilter]]'s composite keep;
  *  - decontamination: drop documents whose contaminated-shingle
  *    fraction against `evalDocs` exceeds `contaminationMaxFrac`
  *    ([[Dedup.contaminationScan]] — doc-local fractions, so the
  *    decision is independent of what earlier stages dropped; docs too
  *    short to shingle have a null fraction and are kept, matching
  *    [[Dedup.decontaminate]]);
  *  - near dedup (opt-in, 35_near_dedup): MinHash-LSH banded candidates
  *    over the SURVIVORS' signatures
  *    ([[Dedup.minHashCandidatesFromSignatures]] — the signature is one
  *    more column of the signal projection, never a second text scan),
  *    optionally VERIFIED by signature agreement
  *    (`nearMinSigAgreement`: the equal-component fraction estimates
  *    the pair's Jaccard, tightening the banded s-curve into a hard
  *    threshold with no text re-read) →
  *    [[Dedup.connectedComponents]] → keep each cluster's min id; docs
  *    too short to shingle are their own identity. The crawl-side
  *    [[CrawlPipeline]] composes the same shape with SimHash — the two
  *    orchestrators demonstrate both near-dup families;
  *  - token budget: greedy max-quality selection under a global token
  *    budget ([[Sampling.selectByBudget]] on (quality_score, n_tokens)).
  */
object DocPipeline {

  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      evalDocs: Option[DataFrame],
      cfg: DocPipelineConfig = DocPipelineConfig()
  ): DocPipelineResult = {
    val doDedup = cfg.dedupExact
    val doQuality = cfg.qualityGate
    val doDecon = cfg.decontaminate && evalDocs.nonEmpty
    val doNear = cfg.dedupNear
    val doBudget = cfg.tokenBudget.nonEmpty

    // the single signal projection: only the signals enabled stages will
    // read are computed (md5-normalization is not free when dedup is off).
    // textStats/qualityFilter share rawStats subexpressions; within one
    // projection Spark's subexpression elimination evaluates them once.
    val sigCols: Seq[Column] =
      Seq(col(idCol).as("_id")) ++
        (if (doDedup)
          Seq(md5(expr(Dedup.normalizedSql(textCol))).as("_hash"))
        else Nil) ++
        (if (doQuality)
          Seq(TextFunctions.qualityFilter(textCol).getField("keep").as("_keep"))
        else Nil) ++
        (if (doNear)
          // MinHash signature (~8 bytes x numHashes per doc) computed in
          // the SAME projection — the near stage never re-reads the text
          Seq(Dedup.minHashSigCol(textCol, cfg.nearShingleN,
            cfg.nearNumHashes, docs.sparkSession).as("_sig"))
        else Nil) ++
        (if (doBudget)
          Seq(TextFunctions.textStats(textCol).getField("quality_score").as("_q"),
            TextFunctions.textStats(textCol).getField("n_tokens")
              .cast("long").as("_nt"))
        else Nil)
    // the contamination fraction needs its own aggregation shape, but is
    // doc-local: computed once and joined in, whatever earlier gates drop
    def signals(pin: DataFrame => DataFrame): DataFrame = {
      val meta = docs.select(sigCols: _*)
      if (!doDecon) meta
      else meta.join(Dedup.contaminationScan(docs, evalDocs.get, idCol, textCol,
          cfg.contaminationN)
        .select(col("doc_id").as("_id"), col("contamination").as("_contam")),
        Seq("_id"), "left")
    }

    // the dedup rule's per-hash min id is one window exchange inside the
    // metadata plan. With dedupNear also on, the ~½ KB/doc signature rides
    // this exchange; accepted DELIBERATELY: every alternative ships the
    // same signature bytes through some other single metadata exchange,
    // and the near stage's own band exchange (~640 B/doc) dominates
    // regardless. The corpus text never shuffles.
    val gates = Seq(
      doDedup -> Funnel.Gate("10_exact_dedup", _ =>
        col("_id") === min(col("_id")).over(Window.partitionBy("_hash"))),
      doQuality -> Funnel.Gate("20_quality_gate", _ => col("_keep")),
      // null fraction (too short to shingle) keeps, like the standalone op
      doDecon -> Funnel.Gate("30_decontaminate", _ =>
        col("_contam").isNull || col("_contam") <= cfg.contaminationMaxFrac)
    ).collect { case (true, g) => g }
    // docs too short to shingle carry a NULL signature, pair with nothing,
    // and survive as their own identity
    val near = if (!doNear) None else Some(Funnel.Step("35_near_dedup", surv =>
      Dedup.minHashCandidatesFromSignatures(
        surv.select(col("_id").as("doc_id"), col("_sig").as("sig")),
        cfg.nearNumHashes, cfg.nearBands, cfg.nearMinSigAgreement)))
    val budget = cfg.tokenBudget.map(b => Funnel.Step("40_token_budget", surv =>
      Sampling.selectByBudget(surv.select(col("_id"), col("_q"), col("_nt")),
        "_id", "_q", "_nt", b)))

    val (kept, summary) = Funnel.run(docs, docs(idCol), "00_input",
      cfg.checkpointDir, signals, gates, near, budget)
    DocPipelineResult(kept, summary)
  }

  /** The STEADY-STATE curation loop — the incremental analogue of [[run]]
    * for a corpus that re-snapshots continuously: diff the snapshots
    * ([[Dedup.corpusDiff]] — one hash pass, the only work that touches
    * unchanged text), re-run the quality gate over the CHANGED sliver
    * only (added + changed ids — the unchanged corpus is never re-scored,
    * re-shingled, or re-indexed, so per-round cost is delta-proportional,
    * the [[graft.operators.Frontier.mergeSchedule]] discipline applied to
    * curation), then update the standing kept corpus in one pass:
    * [[Dedup.mergeUpsert]] replaces re-decided keys with their keepers,
    * and an eviction anti-join drops removed ids and
    * changed-but-now-failing ids. Standing-index maintenance composes on
    * the OUTPUT slivers: the ADDED keepers are exactly what
    * [[graft.io.TextIndex.appendToIndex]] / [[graft.io.BandIndex
    * .appendToIndex]] take (id-disjoint by construction —
    * PipelineComposeSpec pins the composed equality).
    *
    * CONVERGENCE CONTRACT (what the w11 oracle adjudicates): when
    * `standingKept` is the gate's output over `prevSnapshot` and ids are
    * unique per snapshot, `keptNext` equals the gate run from scratch
    * over `curSnapshot` — incremental maintenance never drifts from the
    * batch result. An unchanged doc's membership is its standing
    * decision (same text ⇒ same gate), a changed/added doc's is its
    * fresh score, a removed doc is gone.
    *
    * `standingKept` must share `curSnapshot`'s schema (the
    * [[Dedup.mergeUpsert]] contract). The gate is
    * [[TextFunctions.qualityFilter]]'s composite keep — [[run]]'s
    * quality stage, re-expressed over the delta. */
  def incrementalCurate(
      prevSnapshot: DataFrame,
      curSnapshot: DataFrame,
      standingKept: DataFrame,
      idCol: String,
      textCol: String
  ): IncrementalCurationResult = {
    require(standingKept.columns.sameElements(curSnapshot.columns),
      "standingKept must share curSnapshot's schema (mergeUpsert's contract)")
    val diff = Dedup.corpusDiff(prevSnapshot, curSnapshot, idCol, textCol)
    // the changed sliver: metadata-sized id frame, semi-joined so the
    // score projection sits ABOVE the delta restriction — only delta
    // rows ever reach the gate expression
    val deltaIds = diff.filter(col("status").isin("added", "changed"))
      .select(col(idCol))
    val delta = curSnapshot.join(deltaIds, Seq(idCol), "left_semi")
    val scored = delta.withColumn("__graft_keep",
      TextFunctions.qualityFilter(textCol).getField("keep"))
    val rescored = scored.select(col(idCol), col("__graft_keep").as("keep"))
    val deltaKept = scored.filter(col("__graft_keep")).drop("__graft_keep")
    // evictions: snapshot-removed ids + changed-docs the gate now fails.
    // "fails" = keep IS NOT TRUE, not `!keep`: a NULL keep (e.g. the
    // gate over null text) drops out of BOTH deltaKept's filter and a
    // bare `!keep`, which would leave the doc's STALE standing row alive
    // and break the convergence contract (the batch gate excludes it)
    val evictIds = diff.filter(col("status") === "removed").select(col(idCol))
      .unionByName(rescored
        .filter(!coalesce(col("keep"), lit(false))).select(col(idCol)))
    val keptNext = Dedup.mergeUpsert(standingKept, deltaKept, Seq(idCol))
      .join(evictIds, Seq(idCol), "left_anti")
    IncrementalCurationResult(diff, rescored, keptNext)
  }
}
