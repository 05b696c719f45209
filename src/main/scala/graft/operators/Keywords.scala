package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.io.Pin

/** TF-IDF keyword extraction: the top-k terms of each document scored by
  * term frequency x smoothed inverse document frequency — the standard
  * cheap relevance signal for corpus search, tagging, and topic drift
  * monitoring.
  *
  * idf uses the smoothed form ln((N + 1) / (df + 1)) + 1, so terms
  * appearing in every document still score positively and nothing divides
  * by zero.
  *
  * Plan shape: one hash aggregation for per-(doc, term) counts, one for
  * per-term document frequencies, a join on the term to attach idf, and a
  * ranking window PARTITIONED BY doc_id — a high-cardinality key, so the
  * sort is per-document-sized and spreads evenly (never the 3-value
  * window-partition scale trap). The term join shuffles on the vocabulary;
  * vocabularies grow sub-linearly with corpus size (Heaps' law), so the
  * df side stays small relative to the corpus and broadcasts when it fits.
  */
object Keywords {

  /** Per-document top-k terms. Returns
    * (doc_id, rank, term, tf, score) with score rounded to 4 decimals. */
  def topTerms(
      docs: DataFrame, idCol: String, textCol: String, k: Int
  ): DataFrame = {
    require(k > 0, "k must be positive")
    // corpus size enters only through the IDF constant — keep it inside
    // the DAG as a broadcast 1-row frame instead of a driver-side count()
    // action, so building the plan costs zero jobs and the count rides the
    // same execution as the term aggregation
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val terms = docs
      .select(col(idCol).as("doc_id"), explode(TextFunctions.tokens(textCol)).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // document frequency = tf's row count per term: tf's grouping already
    // dedupes (doc, term), so a separate corpus-wide distinct (which would
    // build its own corpus exchange — different projection, no exchange
    // reuse) is redundant; both consumers of tf share ONE exchange via
    // ReuseExchange
    val df = tf
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df.select("term", "idf"), "term")
      .withColumn("score", round(col("tf") * col("idf"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "score")
  }

  /** Per-document top-k terms under Okapi BM25 — the keyword-search
    * relevance score a user of a corpus search box actually expects:
    * TF saturates (k1) and long documents are penalized toward the
    * corpus-average length (b), so boilerplate-heavy long docs stop
    * winning on raw term counts.
    *
    *   idf  = ln((N - df + 0.5) / (df + 0.5) + 1)          (Lucene form,
    *          always positive)
    *   score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    *
    * Same plan shape as [[topTerms]] (two corpus-keyed hash aggs, a
    * vocabulary join that broadcasts under Heaps' law, a doc_id-partitioned
    * ranking window); N and avgdl ride along as a broadcast 1-row
    * aggregate — no driver action. Returns (doc_id, rank, term, tf, score)
    * with score rounded to 4 decimals. */
  def bm25TopTerms(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75
  ): DataFrame = {
    require(k > 0, "k must be positive")
    // tokenize ONCE into a column, then derive dl / the generator / avgdl
    // from it — size(tokens(..)) and explode(tokens(..)) are separate
    // operators CSE cannot merge, so inlining the call would run the
    // regex split three times per document
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(textCol).as("toks"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      avg(size(col("toks"))).as("avgdl"))
    val base = toks.select(col("doc_id"),
      size(col("toks")).as("dl"),
      explode(col("toks")).as("term"))
    val tf = base.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
    // df = tf's row count per term (tf already dedupes (doc, term)) — one
    // shared corpus exchange instead of a second distinct-keyed one
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("score", round(
        col("idf") * (col("tf") * (lit(k1) + 1.0))
          / (col("tf") + lit(k1)
             * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "score")
  }

  /** BM25 RETRIEVAL — the search face of the t23 scoring: rank documents
    * against a query (the RAG-prep / corpus-search primitive). Query
    * terms are a driver-side literal, so the corpus pass filters to the
    * query vocabulary AT THE SCAN (an isin over the exploded tokens —
    * only matching (doc, term) pairs survive into any aggregation), df
    * and the per-doc score aggregate over that sliver, and the global
    * top-k runs as the o1 two-phase rank (partition-local prefilter, so
    * the final window never sees the full match set). Per-term BM25
    * scores are rounded to 8 decimals and summed as scaled integers —
    * the order-free summation contract (t19) applied to score
    * accumulation — then rounded to 4 for the result.
    *
    * Scoring contract matches [[bm25TopTerms]]: idf = ln((N−df+0.5)/
    * (df+0.5)+1), tf saturation k1, length normalization b; ties break
    * (score DESC, doc_id ASC). Returns (rank, doc_id, n_matched,
    * score). */
  def bm25Search(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75
  ): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    require(k > 0, "k must be positive")
    val terms = queryTerms.distinct
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(textCol).as("toks"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      avg(size(col("toks"))).as("avgdl"))
    val base = toks.select(col("doc_id"),
        size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
    val tf = base.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val perTerm = tf.join(dft, "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("q8", round(
        col("idf") * (col("tf") * (lit(k1) + 1.0))
          / (col("tf") + lit(k1)
             * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))) * 1e8)
        .cast("long"))
    val scored = perTerm.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"),
        round(sum(col("q8")) / 1e8, 4).as("score"))
    val pre = Window.partitionBy(spark_partition_id())
      .orderBy(col("score").desc, col("doc_id").asc)
    val fin = Window.orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("_rn0", row_number().over(pre))
      .filter(col("_rn0") <= k).drop("_rn0")
      .withColumn("rank", row_number().over(fin))
      .filter(col("rank") <= k)
      .select("rank", "doc_id", "n_matched", "score")
  }

  /** Exact phrase search: documents whose token sequence contains the
    * phrase as a CONTIGUOUS run, with the occurrence count — one
    * codegen'd projection per document (slice equality over the token
    * array; no explode, no join, nothing shuffles but the result).
    * Returns (doc_id, n_occurrences) for matching documents. */
  def phraseSearch(
      docs: DataFrame, idCol: String, textCol: String, phrase: Seq[String]
  ): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    graft.plans.GraftExtensions.register(docs.sparkSession)
    val n = phrase.length
    val ws = TextFunctions.tokens(textCol)
    docs
      .select(col(idCol).as("doc_id"), ws.as("ws"))
      // guard BEFORE building the sequence: sequence(1, 0) descends
      .filter(size(col("ws")) >= n)
      // native phrase_count: the HOF formulation evaluated its lambda
      // interpreted per window position (~5-7 s isolated at sf0.1); the
      // generated tight-loop expression is sub-second on the same data
      .withColumn("n_occurrences",
        call_function("phrase_count", col("ws"), typedLit(phrase)))
      .filter(col("n_occurrences") > 0)
      .select("doc_id", "n_occurrences")
  }

  /** Per-document cross-entropy under an add-alpha-smoothed corpus unigram
    * LM — the perplexity-style quality signal: documents whose token
    * distribution diverges from the corpus (rare-token soup, noise, wrong
    * language) score a high negative log-likelihood and can be filtered
    * on a threshold. Self-scored here (the LM is the corpus itself); to
    * score against a reference corpus, pass it as `lmDocs`.
    *
    * nll = avg over tokens of -ln((c_t + alpha) / (N + alpha * V)), in
    * nats, rounded to 4 decimals. Returns (doc_id, n_tokens, nll).
    * Internally each token's -ln p is rounded to 8 decimals and summed as
    * a scaled integer: float summation ORDER differs between engines and
    * across parallel runs, so averaging raw doubles near a rounding
    * boundary is nondeterministic, while integer sums are exact and
    * order-free (the t19 lesson).
    *
    * Plan shape: one hash aggregation builds the unigram table (vocab-
    * sized — Heaps' law keeps it sub-linear in the corpus), its (N, V)
    * totals ride along as a broadcast 1-row cross join (no driver action),
    * and the corpus is scanned once — the only corpus-sized shuffle is the
    * final per-doc aggregation on the high-cardinality doc key.
    *
    * The vocab join carries NO broadcast hint: Heaps' law bounds growth
    * sub-linearly but a web-scale corpus still reaches hundreds of
    * millions of types, and a forced hint would disable Spark's own
    * size-based fallback exactly where it matters. AQE's runtime stats
    * pick the broadcast side when the aggregated vocab actually fits
    * (which it does for any corpus whose LM you'd self-score) and degrade
    * to a shuffle join when it doesn't — both shapes are pinned in
    * PlanShapeSpec. */
  def unigramLogProb(
      docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0, lmDocs: Option[DataFrame] = None
  ): DataFrame = {
    require(alpha > 0, "alpha must be positive (unsmoothed zeros break ln)")
    val tok = docs
      .select(col(idCol).as("doc_id"), explode(TextFunctions.tokens(textCol)).as("t"))
    val lmTok = lmDocs.fold(tok)(
      _.select(col(idCol).as("doc_id"), explode(TextFunctions.tokens(textCol)).as("t")))
    val counts = lmTok.groupBy("t").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum("c").as("n"), count(lit(1)).as("v"))
    tok
      .join(counts, Seq("t"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("logp",
        log((coalesce(col("c"), lit(0L)) + alpha) / (col("n") + lit(alpha) * col("v"))))
      .withColumn("q8", round(-col("logp") * 1e8).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("q8")) / 1e8 / count(lit(1)), 4).as("nll"))
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — arXiv:2302.03169):
    * score every raw-corpus document by the log-likelihood ratio of its
    * tokens under an add-one unigram LM of a TARGET corpus vs one of the
    * raw corpus itself, Σ ln(p_target(t)/p_raw(t)). High scores read like
    * the target domain; selecting the top slice is the importance-
    * resampling data-selection step.
    *
    * Returns (doc_id, n_tokens, dsir_q8, selected): dsir_q8 is the
    * weight summed as 1e-8-scaled integers (per-token ratio rounded
    * BEFORE the sum, so the total is order-free on any engine — the t19
    * lesson), selected marks the global top-`topK` by (weight desc,
    * doc_id) — deterministic tie-break. Zero-token documents drop (the
    * t20 contract).
    *
    * Plan shape: one tokenize pass over the raw corpus; the two unigram
    * tables are Heaps'-bounded hash aggregations joined back WITHOUT
    * broadcast hints (AQE picks the broadcast side when a vocab fits —
    * the [[unigramLogProb]] reasoning); each LM's (N, V) totals ride as
    * broadcast 1-row cross joins; the only corpus-sized shuffle is the
    * per-doc aggregation. The top-K selection is a TakeOrderedAndProject
    * (per-partition heaps, K rows to the driver-side merge — never a
    * single-partition global sort) whose K-row result broadcasts back
    * onto the weight frame. */
  def dsirWeights(
      docs: DataFrame, idCol: String, textCol: String,
      targetDocs: DataFrame,
      alpha: Double = 1.0, topK: Int = 100
  ): DataFrame = {
    val w = dsirWeightFrame(docs, idCol, textCol, targetDocs, alpha)
      .localCheckpoint() // one weight pass feeds both serving sides
    val out = dsirServe(w, topK)
      .localCheckpoint() // materialize so the weight checkpoint can free
    Pin.release(w)
    out
  }

  /** The per-doc weight frame (doc_id, n_tokens, dsir_q8) — the shared
    * upstream of both serving sides. */
  private def dsirWeightFrame(
      docs: DataFrame, idCol: String, textCol: String,
      targetDocs: DataFrame, alpha: Double
  ): DataFrame = {
    require(alpha > 0, "alpha must be positive (unsmoothed zeros break ln)")
    val tok = docs
      .select(col(idCol).as("doc_id"), explode(TextFunctions.tokens(textCol)).as("t"))
    val tgtTok = targetDocs
      .select(explode(TextFunctions.tokens(textCol)).as("t"))
    val rawCounts = tok.groupBy("t").agg(count(lit(1)).as("cr"))
    val tgtCounts = tgtTok.groupBy("t").agg(count(lit(1)).as("ct"))
    val rawTotals = rawCounts.agg(sum("cr").as("nr"), count(lit(1)).as("vr"))
    val tgtTotals = tgtCounts.agg(sum("ct").as("nt"), count(lit(1)).as("vt"))
    tok
      .join(rawCounts, Seq("t"), "left")
      .join(tgtCounts, Seq("t"), "left")
      .crossJoin(broadcast(rawTotals))
      .crossJoin(broadcast(tgtTotals))
      .withColumn("lr",
        log((coalesce(col("ct"), lit(0L)) + alpha) / (col("nt") + lit(alpha) * col("vt"))) -
        log((coalesce(col("cr"), lit(0L)) + alpha) / (col("nr") + lit(alpha) * col("vr"))))
      .withColumn("q8", round(col("lr") * 1e8).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("q8").as("dsir_q8"))
  }

  /** The serving stage: TakeOrdered top-K flag broadcast onto the weight
    * frame — never a global rank window. */
  private def dsirServe(w: DataFrame, topK: Int): DataFrame = {
    val top = w.orderBy(col("dsir_q8").desc, col("doc_id")).limit(topK)
      .select(col("doc_id"), lit(true).as("selected"))
    w.join(broadcast(top), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("dsir_q8"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** The whole DSIR plan LAZY (no checkpoints) — the PlanShapeSpec
    * inspection surface; [[dsirWeights]] is the executing form. */
  private[graft] def dsirWeightsLazy(
      docs: DataFrame, idCol: String, textCol: String,
      targetDocs: DataFrame, alpha: Double = 1.0, topK: Int = 100
  ): DataFrame =
    dsirServe(dsirWeightFrame(docs, idCol, textCol, targetDocs, alpha), topK)

  /** Per-document cross-entropy under an add-one-smoothed corpus BIGRAM
    * LM — the CCNet-style perplexity filter one order up from
    * [[unigramLogProb]]: repetitive boilerplate scores an unusually LOW
    * bigram nll (its transitions are all high-probability), token soup
    * scores high, so the two-sided band is the quality gate. Self-scored
    * (the LM is the corpus itself).
    *
    * p(b|a) = (c(a,b) + 1) / (c(a,·) + V), V = corpus unigram type
    * count, c(a,·) = occurrences of `a` as a bigram left (= its token
    * count minus document-final occurrences). nll = mean −ln p over a
    * document's size−1 interior bigrams; documents with fewer than two
    * tokens have no bigrams and drop (the same absent-on-both-sides
    * contract as t20's zero-token docs). Per-bigram −ln p is rounded to
    * 8 decimals and summed as a scaled integer — order-free on both
    * engines (the t19 lesson).
    *
    * Plan shape: one tokenize pass feeds the bigram explode; the bigram-
    * count and left-count tables are Heaps'-law-bounded hash aggregations
    * joined back WITHOUT broadcast hints (AQE picks broadcast when they
    * fit — same reasoning as the unigram vocab join); V rides along as a
    * broadcast 1-row cross join; the only corpus-sized shuffle is the
    * final per-doc aggregation. */
  def bigramLogProb(
      docs: DataFrame, idCol: String, textCol: String
  ): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(textCol).as("ws"))
    val bg = base.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("a"),
            element_at(col("ws"), i + 1).as("b")))).as("p"))
      .select(col("doc_id"), col("p.a"), col("p.b"))
    val bc = bg.groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val lc = bg.groupBy("a").agg(count(lit(1)).as("ca"))
    val vocab = base.select(explode(col("ws")).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    bg
      .join(bc, Seq("a", "b"))
      .join(lc, Seq("a"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp", log((col("cab") + 1.0) / (col("ca") + col("v"))))
      .withColumn("q8", round(-col("logp") * 1e8).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("q8")) / 1e8 / count(lit(1)), 4).as("nll"))
  }

  /** Per-document cross-entropy under a STUPID-BACKOFF trigram LM
    * (Brants et al. 2007, "Large Language Models in Machine
    * Translation") — the web-scale scoring scheme: no discounting, no
    * normalization, just relative frequencies with a fixed backoff
    * penalty, which is exactly what made trillion-token LMs computable.
    * Per scored trigram (a, b, c):
    *
    *   S(c | a b) = c3(a,b,c) / c2(a,b)                  if c3 > 0
    *              = α · c2(b,c) / c1(b)                  else if c2(b,c) > 0
    *              = α² · (c1(c) + 1) / (N + V)           otherwise
    *
    * with α = 0.4 (the paper's constant). The terminal level is add-one
    * smoothed (Brants' raw c1(c)/N zeroes on OOV words and the nll
    * diverges; the +1/(N+V) floor keeps every token finite and is the
    * one deliberate departure, documented here). S is a score, not a
    * probability — stupid backoff never normalizes; nll = mean −ln S
    * over the doc's size−2 interior trigrams, docs with < 3 tokens drop
    * (the t20/t36 absent-row contract). Per-trigram −ln S is rounded to
    * 8 decimals and summed as a scaled integer — order-free on both
    * engines (the t19 lesson).
    *
    * The LM corpus is a PARAMETER (unlike the self-scored t20/t36):
    * backoff only fires on n-grams UNSEEN in the LM, so a held-out
    * scoring split is what exercises it — and is also the deployment
    * shape (score candidate docs under a trusted-corpus LM).
    *
    * Plan shape (audited at sf0.01): the SCORED corpus tokenizes once —
    * its trigram stream never shuffles; every count-table lookup is a
    * broadcast hash join (no hints — AQE promotes the Heaps'-law-bounded
    * tables when they fit, the t36 reasoning) and the only corpus-sized
    * exchange is the final per-doc aggregation. The LM side tokenizes
    * exactly 3× (one pass per n-gram order): the bigram and unigram
    * tables each serve two key roles, and since exchange reuse does not
    * collapse differently-keyed consumers they are MATERIALIZED once
    * (localCheckpoint — Heaps-bounded, distributed) instead of planned
    * twice. (N, V) reduce from the materialized unigram table and ride
    * as literals. The LM frame only needs `textCol` — the id column is
    * the SCORED corpus's concern. Like [[graft.operators.Dedup
    * .semanticDecontaminate]], the guard below runs the (small) LM
    * aggregations at CALL time: an empty or token-free LM corpus fails
    * loudly here instead of silently scoring every doc against a
    * zero-denominator terminal.
    *
    * Pin discipline (r17 verdict #6): the result's lineage reads the
    * two materialized LM count tables, which this function cannot
    * release (the caller hasn't consumed the result yet) — they are
    * reaped by the ContextCleaner once the frame is garbage. A
    * long-lived serving session should use
    * [[stupidBackoffLogProbScoped]], which releases them
    * deterministically at scope exit. */
  def stupidBackoffLogProb(
      docs: DataFrame, idCol: String, textCol: String,
      lmDocs: DataFrame, alpha: Double = 0.4
  ): DataFrame = stupidBackoffPinned(docs, idCol, textCol, lmDocs, alpha)._1

  /** [[stupidBackoffLogProb]] with a caller scope: `consume` runs
    * against the per-doc score frame and the LM count-table pins are
    * released on exit ([[Pin.release]]). The frame must not escape
    * `consume`. */
  def stupidBackoffLogProbScoped[A](
      docs: DataFrame, idCol: String, textCol: String,
      lmDocs: DataFrame, alpha: Double = 0.4
  )(consume: DataFrame => A): A = {
    val (scored, pins) =
      stupidBackoffPinned(docs, idCol, textCol, lmDocs, alpha)
    try consume(scored)
    finally pins.foreach(Pin.release)
  }

  private def stupidBackoffPinned(
      docs: DataFrame, idCol: String, textCol: String,
      lmDocs: DataFrame, alpha: Double
  ): (DataFrame, Seq[DataFrame]) = {
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha out of (0,1]")
    val lmBase = lmDocs.select(TextFunctions.tokens(textCol).as("ws"))
    def lmGrams(n: Int, names: Seq[String]): DataFrame =
      lmBase.filter(size(col("ws")) >= n)
        .select(explode(
          transform(sequence(lit(1), size(col("ws")) - (n - 1)),
            i => struct(names.zipWithIndex.map { case (c, k) =>
              element_at(col("ws"), i + k).as(c) }: _*))).as("p"))
        .select(names.map(c => col(s"p.$c")): _*)
    val t3 = lmGrams(3, Seq("a", "b", "c"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("c3"))
    val b2 = lmGrams(2, Seq("x", "y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c2")).localCheckpoint()
    val u1 = lmBase.select(explode(col("ws")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1")).localCheckpoint()
    val nvRow = u1.agg(sum(col("c1")), count(lit(1))).head()
    require(!nvRow.isNullAt(0) && nvRow.getLong(0) > 0,
      "stupidBackoffLogProb: the LM corpus has no tokens — every trigram " +
        "would hit the add-one terminal over a zero denominator. Pass a " +
        "non-empty lmDocs.")
    val (n, v) = (nvRow.getLong(0), nvRow.getLong(1))
    val scored = docs
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(textCol).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("ws")) - 2),
          i => struct(element_at(col("ws"), i).as("a"),
            element_at(col("ws"), i + 1).as("b"),
            element_at(col("ws"), i + 2).as("c")))).as("p"))
      .select(col("doc_id"), col("p.a"), col("p.b"), col("p.c"))
      .join(t3, Seq("a", "b", "c"), "left")
      .join(b2.select(col("x").as("a"), col("y").as("b"),
        col("c2").as("c2ab")), Seq("a", "b"), "left")
      .join(b2.select(col("x").as("b"), col("y").as("c"),
        col("c2").as("c2bc")), Seq("b", "c"), "left")
      .join(u1.select(col("t").as("b"), col("c1").as("c1b")), Seq("b"), "left")
      .join(u1.select(col("t").as("c"), col("c1").as("c1c")), Seq("c"), "left")
      .withColumn("s",
        when(col("c3").isNotNull,
          col("c3").cast("double") / col("c2ab").cast("double"))
        .when(col("c2bc").isNotNull,
          lit(alpha) * col("c2bc").cast("double") / col("c1b").cast("double"))
        .otherwise(lit(alpha) * lit(alpha)
          * (coalesce(col("c1c"), lit(0L)).cast("double") + 1.0)
          / lit(n.toDouble + v.toDouble)))
      .withColumn("q8", round(-log(col("s")) * 1e8).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum(col("q8")) / 1e8 / count(lit(1)), 4).as("nll"))
    (scored, Seq(b2, u1))
  }
}
