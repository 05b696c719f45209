package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.io.Pin

/** Document deduplication for large-scale corpus preparation: exact
  * (normalized content hash), n-gram Jaccard, and MinHash-LSH near-dup.
  *
  * Scale design:
  *  - exact dedup is a window over the content hash — a high-cardinality
  *    key, so the shuffle is evenly spread (no 3-value partition skew);
  *  - MinHash signatures and LSH band keys are pure per-row higher-order
  *    array expressions (no explode, no shuffle, codegen'd) — signature
  *    computation runs at scan speed on 100 TB;
  *  - candidate generation joins on (band, bandHash) — only documents
  *    sharing a band bucket ever meet, never all-pairs;
  *  - exact Jaccard joins on shingle with an optional document-frequency
  *    cap (`maxDocFreq`) to break hot-shingle skew (boilerplate shingles
  *    shared by millions of docs would otherwise make one join key
  *    quadratic).
  */
object Dedup {

  /** Normalized form used for exact duplicate detection: lowercase,
    * whitespace-collapsed. */
  def normalizedSql(c: String) = s"lower(regexp_replace(trim(`$c`), '\\\\s+', ' '))"

  /** Exact-duplicate clustering on md5 of the normalized text. Adds
    * `content_hash`, `cluster_size`, `canonical_id` (min doc id of the
    * cluster), `is_duplicate`. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("content_hash")
    docs
      .withColumn("content_hash", md5(expr(normalizedSql(textCol))))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_duplicate", col(idCol) =!= col("canonical_id"))
  }

  private def toksOf(c: String) = s"split(regexp_replace(trim(`$c`), '\\\\s+', ' '), ' ')"

  /** SQL for the distinct shingle set, empty when the document has fewer
    * than n tokens (guards Spark's descending `sequence`).
    *
    * The token array is BOUND as a lambda variable (`transform` over a
    * one-element array) before the per-shingle lambda runs: higher-order
    * lambdas re-evaluate any non-bound subexpression per element, so
    * referencing `split(regexp_replace(...))` directly inside the inner
    * lambda would re-tokenize the whole document once per shingle —
    * O(len²) per document (measured ~5× slower at sf0.1). With the
    * binding, tokenization runs once and each shingle is three O(1)
    * array index reads. */
  private def shinglesSql(c: String, n: Int): String = {
    val gram = (0 until n).map(k => s"ts[i + $k]").mkString("concat_ws(' ', ", ", ", ")")
    s"""CASE WHEN size(${toksOf(c)}) < $n THEN CAST(array() AS ARRAY<STRING>)
       |ELSE array_distinct(flatten(transform(array(${toksOf(c)}),
       |       ts -> transform(sequence(0, size(ts) - $n), i -> $gram))))
       |END""".stripMargin
  }

  /** Distinct word n-gram (shingle) set as an array column. */
  def shingles(textCol: String, n: Int = 3): Column = expr(shinglesSql(textCol, n))

  /** ORDERED, non-distinct shingle sequence (positional — for winnowing). */
  def orderedShingles(textCol: String, n: Int = 3): Column = {
    val gram = (0 until n).map(k => s"ts[i + $k]").mkString("concat_ws(' ', ", ", ", ")")
    expr(
      s"""CASE WHEN size(${toksOf(textCol)}) < $n THEN CAST(array() AS ARRAY<STRING>)
         |ELSE flatten(transform(array(${toksOf(textCol)}),
         |       ts -> transform(sequence(0, size(ts) - $n), i -> $gram)))
         |END""".stripMargin)
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS rolling-hash scheme): hash every positional
    * word n-gram, slide a `window`-wide window over the hash sequence and
    * select each window's minimum; the distinct selected hashes are the
    * document's fingerprints. Guarantees any shared run of
    * `window + n - 1` tokens between two documents yields a shared
    * fingerprint.
    *
    * Spark-shaped: posexplode → one codegen'd hash per shingle → ONE
    * bounded-frame window min partitioned by doc (high-cardinality key —
    * scale-even) → hash-agg of the distinct minima. Output
    * (doc_id, n_fingerprints, fp_hash) where fp_hash is md5 over the
    * sorted fingerprint list (a compact, engine-comparable digest).
    *
    * EVERY input document appears in the output: documents shorter than
    * `window + n - 1` tokens have no full window and therefore no
    * fingerprints — they come back as (doc_id, 0, null) rather than being
    * silently dropped, so downstream joins on doc_id never lose short
    * docs. */
  def winnowFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, window: Int = 4
  ): DataFrame = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
        call_function("winnow60",
          expr(toksOf(textCol)), lit(n), lit(window)).as("__graft_fps"))
      .select(col("doc_id"),
        coalesce(size(col("__graft_fps")), lit(0)).as("n_fingerprints"),
        md5(array_join(
          expr("transform(__graft_fps, x -> cast(x AS string))"), " ")).as("fp_hash"))
  }

  /** The posexplode + bounded-frame-window formulation
    * [[winnowFingerprints]] replaced, kept as the equivalence-test
    * witness (WinnowSpec pins bit-parity, including the short-doc
    * (doc_id, 0, null) rows the left join restores here and the NULL
    * fingerprint array encodes natively). Correct, but pays one exploded
    * row per positional shingle plus a doc-keyed shuffle and per-doc
    * sort for a `window`-wide rolling minimum that never crosses
    * document boundaries. */
  private[graft] def winnowFingerprintsAgg(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, window: Int = 4
  ): DataFrame = {
    val fps = winnowSelected(docs, idCol, textCol, n, window)
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("wmin"))).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).as("n_fingerprints"),
        md5(array_join(expr("transform(fps, x -> cast(x AS string))"), " ")).as("fp_hash"))
    docs.select(col(idCol).as("doc_id"))
      .join(fps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fingerprints"), lit(0)).as("n_fingerprints"),
        col("fp_hash"))
  }

  /** The winnowing-selected fingerprint stream: (doc_id, wmin) where wmin
    * is the minimum shingle hash of each full `window`-sized frame (the
    * Schleimer et al. selection rule). One row per WINDOW — adjacent
    * windows usually select the same hash, so consumers needing the set
    * must dedup ([[winnowFingerprints]]'s collect_set does it for free;
    * [[winnowPairs]] pays one distinct). */
  private def winnowSelected(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, window: Int
  ): DataFrame = {
    val sh = docs
      .select(col(idCol).as("doc_id"),
        posexplode(orderedShingles(textCol, n)).as(Seq("pos", "sstr")))
      .select(col("doc_id"), col("pos"), shingleHash60(col("sstr")).as("h"))
    val frame = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, window - 1)
    val part = Window.partitionBy("doc_id")
    sh
      .withColumn("n_pos", count(lit(1)).over(part))
      .withColumn("wmin", min("h").over(frame))
      // only full windows select (starts 0 .. n_pos - window, 0-based pos)
      .filter(col("pos") <= col("n_pos") - window)
      .select("doc_id", "wmin")
  }

  /** Winnowing near-duplicate pairs (the MOSS report shape): unordered doc
    * pairs sharing at least `minShared` selected fingerprints, with
    * `overlap = n_shared / min(|fps_a|, |fps_b|)` — the containment-style
    * score that still flags a small document embedded in a big one.
    *
    * Same scale posture as [[jaccardPairs]]: candidates meet ONLY through
    * a shared fingerprint (the fingerprint is the shuffle key, never
    * all-pairs), winnowing already thins shingles ~2/(window+1)×, and
    * `maxHashFreq` drops fingerprints selected by more than k documents
    * BEFORE sizes and pairing — the boilerplate guard; a fingerprint that
    * common identifies a template, not a duplicate.
    *
    * Returns (doc_a, doc_b, n_shared, overlap), doc_a < doc_b,
    * overlap rounded to 4 decimals. */
  def winnowPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, window: Int = 4,
      minShared: Int = 2, maxHashFreq: Option[Int] = None
  ): DataFrame = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    // the native fingerprint set is already distinct per document, so the
    // old selected-stream .distinct() shuffle disappears with the window
    val sel = docs.select(col(idCol).as("doc_id"),
        explode(call_function("winnow60",
          expr(toksOf(textCol)), lit(n), lit(window))).as("wmin"))
    val capped = maxHashFreq.map { k =>
      val w = Window.partitionBy("wmin")
      sel.withColumn("__graft_df", count(lit(1)).over(w))
        .filter(col("__graft_df") <= k).drop("__graft_df")
    }.getOrElse(sel)
    val sz = capped.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    val shared = capped
      .join(capped.select(col("doc_id").as("doc_b"), col("wmin")), Seq("wmin"))
      .filter(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared
      .join(sz.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")), Seq("doc_b"))
      .withColumn("overlap",
        round(col("n_shared") / least(col("nfp_a"), col("nfp_b")), 4))
      .select("doc_a", "doc_b", "n_shared", "overlap")
  }

  /** Exact pairwise n-gram Jaccard similarity via a shingle co-occurrence
    * join. Returns (doc_a, doc_b, n_shared, jaccard) for unordered pairs
    * with `jaccard >= minJaccard`.
    *
    * @param maxDocFreq drop shingles occurring in more than this many
    *                   documents before pairing (skew guard); None = keep all.
    */
  /** 60-bit shingle hash (15 md5 hex digits): the co-occurrence join runs
    * on a fixed-width long instead of ~50-byte shingle strings — smaller
    * shuffle, cheaper key compare. Collision odds at 2^60 are negligible,
    * and both the Spark plan and the DuckDB oracle use the same hash, so
    * results agree identically even on a collision. */
  def shingleHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** (doc_id, s): each document's shingles as 60-bit hashes — the shared
    * front of every shingle-join operator, so a hashing/normalization
    * change lands in ONE place (and its oracle mirrors). Shingle strings
    * are distinct per document; `dedup` additionally collapses 60-bit
    * hash collisions within a doc (mirrors `SELECT DISTINCT doc_id, hash`
    * in the d2/d5/d11 oracles — the contamination oracles skip it). */
  private def docShingleHashes(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      dedup: Boolean): DataFrame = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    // native ShingleHash60: distinct shingle strings hashed in-row; with
    // dedup the 60-bit values dedup in-row too, which fully replaces the
    // old (doc_id, s) DataFrame .distinct() SHUFFLE (one row per doc in)
    docs.select(col(idCol).as("doc_id"),
      explode(call_function("shingle_hash60",
        expr(toksOf(textCol)), lit(n), lit(dedup))).as("s"))
  }

  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.8,
      maxDocFreq: Option[Int] = None
  ): DataFrame = {
    val sh0 = docShingleHashes(docs, idCol, textCol, n, dedup = true)
    val sh = maxDocFreq match {
      case Some(cap) =>
        val w = Window.partitionBy("s")
        sh0.withColumn("__graft_df", count(lit(1)).over(w))
          .filter(col("__graft_df") <= cap).drop("__graft_df")
      case None => sh0
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("na") + col("nb") - col("n_shared")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** [[jaccardPairs]] with PPJoin/AllPairs PREFIX FILTERING (Bayardo et
    * al. 2007; Xiao et al. 2008) — identical output, candidate set cut
    * to pairs sharing one of each document's RAREST few shingles.
    *
    * In a global (df, hash) shingle order, any pair with J >= t shares
    * its order-smallest common shingle within BOTH docs' first
    * `|S| - ceil(t*|S|) + 1` shingles (position of that shingle in S is
    * at most 1 + |S| - |S∩T|, and J >= t forces |S∩T| >= ceil(t*|S|)) —
    * so joining PREFIXES loses nothing, and ordering by ascending
    * document frequency makes those prefixes the rarest shingles:
    * boilerplate n-grams shared by half the corpus sort LAST and never
    * generate candidates. At t = 0.8 the prefix is ~20% of each doc, so
    * the co-occurrence join shrinks ~25x in each input — the difference
    * between a near-dup pass that survives a boilerplate-heavy 100 TB
    * crawl and one that doesn't. Candidates then verify EXACTLY (full
    * intersection count restricted to candidate pairs), so the result
    * is bit-identical to [[jaccardPairs]] — which is how the oracle
    * adjudicates it: the d22 battery entry reuses d2's plain-join SQL.
    *
    * Plan shape: the df + size + rank windows ride two exchanges of the
    * hashed shingle stream (strings never shuffle — [[shingleHash60]]),
    * the prefix join's inputs are ~t-fraction-pruned copies, and the
    * verify join touches only candidate-pair shingle lists. */
  def jaccardPairsPrefix(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.8
  ): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1, "minJaccard must be in (0, 1]")
    val sh = docShingleHashes(docs, idCol, textCol, n, dedup = true)
      .localCheckpoint() // shared by the prefix AND verify sides
    val ranked = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .withColumn("na", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
    val prefix = ranked
      // the 1e-9 backs the ceil off float representation error: if
      // minJaccard*na lands a hair ABOVE an exact integer, an unguarded
      // ceil overstates the required overlap and silently shortens the
      // prefix (dropping qualifying pairs); under-shooting only
      // lengthens the prefix, which stays lossless
      .filter(col("rn") <=
        col("na") - ceil(lit(minJaccard) * col("na") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("s"), col("na"))
    val cand = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.na").as("na"), col("b.na").as("nb"))
      .distinct()
    val out = cand
      .join(sh.alias("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.alias("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.s") === col("sb.s"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("na") + col("nb") - col("n_shared")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("jaccard"), 4).as("jaccard"))
      .localCheckpoint()
    Pin.release(sh)
    out
  }

  /** Asymmetric near-dup: CONTAINMENT pairs — `|A∩B| / min(|A|,|B|)` over
    * distinct n-gram shingles. Jaccard resemblance misses the case a
    * curation pipeline most wants gone: a short document (or quote)
    * wholly embedded in a much longer one, where the union denominator
    * drowns the overlap (1k-shingle doc inside a 100k-shingle doc:
    * jaccard ≈ 0.01, containment = 1.0). Same shingle-join scale shape as
    * [[jaccardPairs]] (shared [[docShingleHashes]] front, same optional
    * hot-shingle cap); `contained` marks which side is the smaller. */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minContainment: Double = 0.8,
      maxDocFreq: Option[Int] = None
  ): DataFrame = {
    val sh0 = docShingleHashes(docs, idCol, textCol, n, dedup = true)
    val sh = maxDocFreq match {
      case Some(cap) =>
        val w = Window.partitionBy("s")
        sh0.withColumn("__graft_df", count(lit(1)).over(w))
          .filter(col("__graft_df") <= cap).drop("__graft_df")
      case None => sh0
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained"),
        round(col("containment"), 4).as("containment"))
  }

  /** Per-document duplicate n-gram fraction: the share of a document's
    * distinct n-gram shingles that occur in at least one OTHER document —
    * the RefinedWeb/Dolma "duplicated text" curation signal, reported per
    * document instead of per pair so it scales as two aggregations and one
    * join rather than a pair join.
    *
    * Returns (doc_id, n_shingles, n_dup, dup_fraction) for documents with
    * at least one shingle (nt >= n).
    *
    * Scale shape: the per-doc-distinct shingle stream is hashed ONCE and
    * the docs-per-shingle count is a COUNT window on `s` (one shuffle —
    * shingle groups are doc-frequency-sized and stream through the
    * window's spill-backed buffer), then one per-doc aggregation (second
    * shuffle). The previous count-aggregate + join-back form paid a third
    * exchange and re-ran the md5 shingle hashing for the join side — no
    * all-pairs blow-up exists in either form regardless of skew. */
  def dupShingleFraction(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3
  ): DataFrame = {
    val sh = docShingleHashes(docs, idCol, textCol, n, dedup = true)
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_fraction",
        round(col("n_dup").cast("double") / col("n_shingles"), 4))
  }

  /** Exact duplicated-SPAN extraction — the substring-level dedup signal
    * of "train-data dedup at the span, not document, grain" (the
    * reference corpus pipelines drop repeated boilerplate spans while
    * keeping the documents around them). A position `p` in a document is
    * *duplicated* when the `n`-token gram starting at `p` occurs at least
    * `minOccurrences` times anywhere in the corpus (another document, or
    * another position of the same one); maximal runs of consecutive
    * duplicated positions are the spans.
    *
    * Returns one row per input document: (doc_id, n_spans,
    * span_tokens = Σ per-span token length (run + n - 1; adjacent spans
    * closer than n overlap in token space and are counted per span),
    * max_span = longest span's token length) — all integers, hash-exact.
    *
    * Scale shape: the positional gram stream is (id, pos, xxhash64) —
    * fixed-width rows, ~`n_tokens` per document; the corpus-frequency of
    * each gram is a COUNT window over the 8-byte hash (one shuffle; the
    * raw gram strings never shuffle — the [[dupShingleFraction]] lesson),
    * the run-merge is one per-document sort window, and the rollup rides
    * the same per-document partitioning. No pair join exists at any
    * scale; hot boilerplate grams cost one spill-backed count group, not
    * a blow-up. 64-bit hashing stands in for gram identity (expected
    * collisions ≈ (tokens²)/2⁶⁵ — negligible below ~10¹⁵ tokens). */
  def dupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minOccurrences: Int = 2
  ): DataFrame = {
    val toks = expr(toksOf(textCol))
    val grams = docs
      .select(col(idCol).as("doc_id"), toks.as("tk"))
      .select(col("doc_id"), posexplode(
        when(size(col("tk")) >= n,
          expr(s"transform(sequence(0, size(tk) - $n), i -> " +
            s"xxhash64(concat_ws(' ', slice(tk, i + 1, $n))))"))
          .otherwise(array().cast("array<bigint>"))).as(Seq("pos", "h")))
    val dupPos = grams
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("occ") >= minOccurrences)
      .select(col("doc_id"), col("pos"))
    val spans = dupPos
      .withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp")
      .agg((count(lit(1)) + lit(n - 1)).as("span_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        sum("span_len").as("span_tokens"),
        max("span_len").as("max_span"))
    docs.select(col(idCol).as("doc_id"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        coalesce(col("span_tokens"), lit(0L)).as("span_tokens"),
        coalesce(col("max_span"), lit(0L)).as("max_span"))
  }

  /** Exact-substring dedup REMOVAL — the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" operator at the n-token
    * gram grain: a position whose gram occurred EARLIER in the corpus
    * (strictly smaller (doc_id, pos) — the global first-occurrence
    * order) is duplicated, and every token its gram covers is cut from
    * the document; the first occurrence of any repeated passage survives
    * in its lowest-(doc_id, pos) home, every later copy — in another
    * document or later in the same one — is removed. This is the
    * REMOVAL end of [[dupSpans]] (which only measures): same positional
    * gram machinery, plus the cut and the rebuild.
    *
    * Returns one row per input document: (doc_id, n_tokens, n_removed,
    * kept_text), where kept_text is the surviving tokens rejoined with
    * single spaces (the output is whitespace-normalized — the same
    * convention every rebuild operator here uses, cf.
    * [[stripDuplicateChunks]]).
    *
    * Scale shape: the positional gram stream is (id, pos, xxhash64) —
    * fixed-width rows, ~n_tokens per document; first-occurrence
    * detection is ONE row_number window over the 8-byte hash (the gram
    * strings never shuffle), coverage is ONE per-document sort window
    * over the merged token+marker stream (a running max of the farthest
    * covered position — no interval self-join, no per-token candidate
    * explosion), and the rebuild rides the per-document aggregation.
    * No pair join at any scale; 64-bit hashing stands in for gram
    * identity (collisions ≈ tokens²/2⁶⁵ — negligible below ~10¹⁵
    * tokens). */
  def exactSubstringDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 50
  ): DataFrame = {
    require(n >= 1, "gram width must be at least 1")
    val tk = docs.select(col(idCol).as("doc_id"), expr(toksOf(textCol)).as("tk"))
    val tokens = tk.select(col("doc_id"),
      posexplode(col("tk")).as(Seq("p", "tok")))
    val grams = tk.select(col("doc_id"), posexplode(
        when(size(col("tk")) >= n,
          expr(s"transform(sequence(0, size(tk) - $n), i -> " +
            s"xxhash64(concat_ws(' ', slice(tk, i + 1, $n))))"))
          .otherwise(array().cast("array<bigint>"))).as(Seq("pos", "h")))
    // duplicated = not the globally-first occurrence of this gram
    val dupPos = grams
      .withColumn("rn", row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "pos")))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos").as("p"),
        (col("pos") + lit(n - 1)).cast("long").as("cov_end"))
    // one ordered stream per document: tokens + coverage markers, the
    // marker sorting BEFORE the token at its own position (it covers it);
    // a token is removed iff the farthest coverage end so far reaches it
    val merged = tokens
      .select(col("doc_id"), col("p"), col("tok"),
        lit(0).as("is_dup"), lit(-1L).as("cov_end"))
      .unionByName(dupPos.select(col("doc_id"), col("p"),
        lit(null).cast("string").as("tok"), lit(1).as("is_dup"),
        col("cov_end")))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("p"), col("is_dup").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = merged
      .withColumn("run_end", max("cov_end").over(w))
      .filter(col("is_dup") === 0)
      .withColumn("removed", col("run_end") >= col("p"))
    val agg = marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
      array_join(expr(
        "transform(array_sort(collect_list(" +
          "CASE WHEN NOT removed THEN struct(p, tok) END)), x -> x.tok)"),
        " ").as("kept_text"))
    // one row per INPUT document: null/empty-text docs have no token rows
    // (posexplode of a null array emits nothing), so without the rejoin
    // they would silently vanish from the output — same zero-fill
    // contract as dupSpans/contaminationScan
    docs.select(col(idCol).as("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Blocked fuzzy record matching — the entity-resolution join (author /
    * organization / title dedup across noisy sources): records pair only
    * inside a BLOCK (normalized-name prefix + a length band, so a raw
    * all-pairs Levenshtein never exists at any corpus size), and in-block
    * candidates keep when their edit distance clears `maxEdit`.
    *
    * Returns unordered (id_a < id_b) pairs with the normalized names and
    * the integer edit distance — hash-exact (Levenshtein is the classic
    * unit-cost DP, identical on any engine).
    *
    * Scale shape: one shuffle on the block key; per-block work is
    * quadratic IN THE BLOCK only — the standard blocking trade. The
    * length band (`|len/lenBand|` must match) prunes in the join's
    * residual before the DP runs, and a prefix typo landing records in
    * different blocks is the documented recall loss every blocking
    * scheme accepts (add a second pass on a different key to recover).
    * The Levenshtein itself is Spark's codegen'd binary expression.
    *
    * Over-full blocks are the scale killer (a bounded key space makes
    * block size linear in corpus size, so in-block pairs go quadratic —
    * measured 27× wall growth on a 10× corpus before this guard): any
    * block larger than `maxBlockSize` has its members' keys EXTENDED by
    * `splitStep` more name chars, `maxSplitRounds` times, so the block
    * sub-splits on the very next chars of the name (pairs differing in
    * those chars are the same accepted prefix-blocking recall loss).
    * Blocks still over the cap after all rounds — names too short to
    * extend, i.e. a mass of near-identical keys — are dropped outright,
    * the standard entity-resolution stop-block rule. Splitting rounds
    * are no-ops whenever every block already fits, so the cap is inert
    * on small corpora and the uncapped SQL mirror stays hash-exact.
    *
    * The stop-block drop is a RECALL LOSS with no in-band signal (a
    * dropped record simply appears in no pair): callers that must
    * account for it run [[fuzzyMatchDropped]] with the same parameters —
    * it returns exactly the records this method excluded, with their
    * final block key and block size, for logging/metrics at whatever
    * cadence the pipeline can afford (it is a separate job; a free
    * in-band count would force an action inside this method). */
  def fuzzyMatchPairs(
      recs: DataFrame,
      idCol: String,
      nameCol: String,
      maxEdit: Int = 2,
      blockPrefix: Int = 3,
      lenBand: Int = 4,
      maxBlockSize: Int = 64,
      splitStep: Int = 2,
      maxSplitRounds: Int = 3
  ): DataFrame = {
    require(maxEdit >= 0)
    val n = fuzzyBlocks(recs, idCol, nameCol, blockPrefix, lenBand,
        maxBlockSize, splitStep, maxSplitRounds)
      .filter(!col("dropped"))
      .select("id", "nm", "blk")
    n.alias("a")
      .join(n.alias("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("edit_distance", levenshtein(col("a.nm"), col("b.nm")))
      .filter(col("edit_distance") <= maxEdit)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.nm").as("name_a"), col("b.nm").as("name_b"),
        col("edit_distance"))
  }

  /** The blocking stage of [[fuzzyMatchPairs]]: every input record with
    * its normalized name, FINAL block key (after all split rounds), the
    * final block's size, and whether the stop-block rule drops it.
    * Shared by the pair join and the audit view so the two can never
    * disagree about which records were blocked where. */
  private def fuzzyBlocks(
      recs: DataFrame,
      idCol: String,
      nameCol: String,
      blockPrefix: Int,
      lenBand: Int,
      maxBlockSize: Int,
      splitStep: Int,
      maxSplitRounds: Int
  ): DataFrame = {
    require(blockPrefix >= 1 && lenBand >= 1 &&
      maxBlockSize >= 2 && splitStep >= 1 && maxSplitRounds >= 0)
    def blkOf(pfx: Column): Column =
      concat(col("nm").substr(lit(1), pfx), lit("#"),
        floor(length(col("nm")) / lenBand).cast("string"))
    var n = recs.select(col(idCol).as("id"),
        expr(normalizedSql(nameCol)).as("nm"))
      .withColumn("pfx", lit(blockPrefix))
      .withColumn("blk", blkOf(lit(blockPrefix)))
    val w = Window.partitionBy("blk")
    for (_ <- 1 to maxSplitRounds) {
      n = n.withColumn("c", count(lit(1)).over(w))
        .withColumn("pfx",
          when(col("c") > maxBlockSize && length(col("nm")) > col("pfx"),
            col("pfx") + lit(splitStep)).otherwise(col("pfx")))
        .withColumn("blk", blkOf(col("pfx")))
        .drop("c")
    }
    n.withColumn("block_size", count(lit(1)).over(w).cast("long"))
      .select(col("id"), col("nm"), col("blk"), col("block_size"),
        (col("block_size") > maxBlockSize).as("dropped"))
  }

  /** Audit companion of [[fuzzyMatchPairs]]: the records its stop-block
    * rule excluded from matching entirely, under the SAME blocking
    * parameters — (id, nm, blk, block_size), empty whenever the cap was
    * inert. Run it (or `.count()` it into a metric) next to any
    * fuzzy-match invocation whose recall accounting matters; it is the
    * blocking stage re-run without the pair join, so it costs one
    * block-keyed shuffle and nothing quadratic. */
  def fuzzyMatchDropped(
      recs: DataFrame,
      idCol: String,
      nameCol: String,
      blockPrefix: Int = 3,
      lenBand: Int = 4,
      maxBlockSize: Int = 64,
      splitStep: Int = 2,
      maxSplitRounds: Int = 3
  ): DataFrame =
    fuzzyBlocks(recs, idCol, nameCol, blockPrefix, lenBand,
      maxBlockSize, splitStep, maxSplitRounds)
      .filter(col("dropped"))
      .select("id", "nm", "blk", "block_size")

  /** MinHash prime modulus (2^31 - 1). */
  val MinHashP = 2147483647L

  /** 31-bit base hash of a single shingle string: first 8 hex digits of
    * md5, masked to 31 bits. Plain codegen'd expression — one per shingle. */
  def shingleBaseHash(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long").bitwiseAND(lit(MinHashP))

  /** MinHash signatures as (id, sig array<bigint>), computed by the native
    * codegen'd [[graft.functions.MinHash64]] expression: all `numHashes`
    * affine-permutation minima (min((2i+1)*h + i*40503 + 12345 mod p),
    * base hash = first 8 md5 hex digits of the shingle masked to 31 bits)
    * in one generated per-row loop. A pure PROJECTION — signatures come
    * off the scan with zero exchanges, so the signature stage of
    * d3/d17-style near-dedup scales like a filter and only the band join
    * that genuinely needs co-location shuffles. Documents with fewer than
    * n tokens have no shingles and are dropped, exactly like the
    * aggregate formulation's empty groups.
    *
    * [[minHashSignaturesAgg]] is the bit-identical explode + hash-agg
    * witness (MinHashSpec pins the equivalence on both codegen paths). */
  def minHashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64
  ): DataFrame = {
    // register on the FRAME's session, not just the active one — a
    // multi-session app may call this from a thread whose active
    // session is not the frame's, and the function must resolve where
    // the plan analyzes
    graft.plans.GraftExtensions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"),
        minHashSigCol(textCol, n, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** The [[minHashSignatures]] signature as a bare COLUMN, for pipelines
    * that fold it into their one signal projection instead of paying a
    * second scan ([[graft.pipeline.DocPipeline]]'s near-dedup stage).
    * NULL for documents with fewer than `n` tokens — such docs have no
    * shingle identity and must be treated as their own near-dup
    * identity by the caller. `session` must be the session the plan
    * ANALYZES against — a bare Column cannot see its frame, so callers
    * that hold one (DocPipeline holds `docs`) pass `docs.sparkSession`;
    * the active-session default covers single-session apps only, and a
    * multi-session app calling from a thread whose active session is
    * not the frame's would otherwise fail resolution (the exact failure
    * [[minHashSignatures]] fixed by registering on the frame's
    * session). */
  def minHashSigCol(textCol: String, n: Int = 3, numHashes: Int = 64,
      session: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): Column = {
    graft.plans.GraftExtensions.register(session)
    call_function("minhash64", expr(toksOf(textCol)), lit(n), lit(numHashes))
  }

  /** The explode + hash-aggregate formulation [[minHashSignatures]]
    * replaced, kept as the equivalence-test witness: explode shingles,
    * hash each ONCE (codegen'd), then ONE hash aggregation computing all
    * `numHashes` minima as separate codegen'd `min` aggregates. Nested
    * higher-order lambdas over the shingle array would run interpreted
    * and get re-inlined by projection collapse — measured 70× slower at
    * sf0.1. Correct, but pays one exploded row per shingle plus a
    * doc-keyed shuffle the native projection avoids. */
  def minHashSignaturesAgg(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64
  ): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"), explode(shingles(textCol, n)).as("s"))
      .withColumn("h", shingleBaseHash(col("s")))
    val minAggs = (0 until numHashes).map { i =>
      min((lit(2L * i + 1) * col("h") + lit(i * 40503L + 12345L)) % MinHashP).as(s"_m$i")
    }
    sh.groupBy("doc_id")
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** LSH band keys over a signature column (array<bigint>, referenced by
    * name): `bands` structs `(band, band_hash)` where band_hash = md5 of the
    * '_'-joined rows of that band. Docs sharing any (band, band_hash) are
    * near-dup candidates (s-curve threshold ≈ (1/bands)^(rowsPerBand)). */
  def lshBands(sigCol: String, bands: Int, rowsPerBand: Int): Column =
    expr(
      s"""transform(sequence(0, ${bands - 1}),
         |  b -> struct(b AS band,
         |              md5(array_join(transform(slice(`$sigCol`, b * $rowsPerBand + 1, $rowsPerBand),
         |                                       x -> CAST(x AS STRING)), '_')) AS band_hash))"""
        .stripMargin)

  /** Duplicate-cluster assignment: connected components over a pair frame
    * (e.g. [[jaccardPairs]] or verified [[minHashCandidates]]) via
    * iterative min-label propagation. Each node's component is the minimum
    * doc id reachable from it — the canonical representative to keep.
    *
    * Converges in O(graph diameter) joins; near-dup graphs are unions of
    * small cliques, so 2-3 rounds in practice. (For adversarially long
    * chains at planetary scale the standard acceleration is
    * large-star/small-star; the loop shape below is the same.)
    * Returns (doc_id, component) for every node that appears in a pair.
    * Runs in one [[Pin.scope]]: only the result's pin outlives the call
    * (a `cc-*` spill under `checkpointDir` when set).
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIterations: Int = 20, checkpointDir: Option[String] = None
  ): DataFrame = Pin.scope(pairs.sparkSession, checkpointDir, "cc") { ck =>
    // `ck` pins eagerly — a localCheckpoint, or under checkpointDir a
    // reliable parquet spill, so the pipeline orchestrators' executor-
    // loss safety covers the CC iterations too — instead of caching:
    // each iteration references the previous labels twice, so
    // without lineage truncation the logical plan DOUBLES per iteration —
    // exponential analyzer/explain cost that OOMs the driver on long
    // chains (near-dup cliques converge in 2-3 rounds and never showed it)
    val sym = ck(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())
    var labels = ck(sym.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node")))
    var iterations = 0
    var converged = false
    while (!converged && iterations < maxIterations) {
      val prop = sym.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(min("comp").as("neighbor_comp"))
      // one joined frame per iteration carries BOTH the new label and the
      // old one, so the convergence check is a filter over the checkpointed
      // join instead of a second join against the previous labels
      val joined = ck(labels.join(prop, Seq("node"), "left")
        .select(col("node"), col("comp"),
          least(col("comp"), coalesce(col("neighbor_comp"), col("comp"))).as("next_comp")))
      val changes = joined.filter(col("next_comp") =!= col("comp")).count()
      labels = joined.select(col("node"), col("next_comp").as("comp"))
      converged = changes == 0
      iterations += 1
    }
    // the result is ITSELF a pin: self-contained data, so the scope can
    // free the iteration pins it was computed from without risking an
    // unrecomputable cache eviction; callers free it with [[Pin.release]]
    // when done, or an enclosing [[Pin.scope]] does
    ck(labels.select(col("node").as("doc_id"), col("comp").as("component")))
  }

  /** Hyperplane count that pins expected per-(table, bucket) occupancy
    * near `targetOccupancy` as the corpus grows:
    * `max(4, ceil(log2(n / targetOccupancy)))`. Within-bucket candidate
    * joins are quadratic in occupancy, so holding occupancy constant holds
    * the join linear in corpus size (SCALE.md measured the fixed-4-plane
    * config 31× super-linear at 10×). Computed with integer bit math
    * (`ceil(log2(ceil(n/occ))) == ceil(log2(n/occ))` for any n > occ), so
    * there is no `log(x)/log(2)` rounding edge at powers of two; the
    * DuckDB oracle's `CEIL(LOG2(n/64.0))` agrees because power-of-two
    * ratios are exact in double. */
  def autoPlanes(corpusSize: Long, targetOccupancy: Long = 64L): Int = {
    val ratio = (corpusSize + targetOccupancy - 1) / targetOccupancy
    val ceilLog2 =
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, ratio - 1))
    math.max(4, ceilLog2)
  }

  /** Cluster count for [[semDedupPairs]] grown linearly with the corpus —
    * the SemDeDup paper's own regime (k proportional to n holds the
    * EXPECTED cluster size, and therefore the per-cluster quadratic pair
    * join, constant per cluster and linear in total). A static k is the
    * same scale failure [[autoPlanes]] exists to kill: at fixed k the join
    * is n²/k. `ceil(n / targetClusterSize)`, floored at 4 so toy corpora
    * still exercise multi-cluster plans; integer ceil-division matches the
    * oracle's `CEIL(n / 64.0)` exactly for any n < 2^52. */
  def autoClusters(corpusSize: Long, targetClusterSize: Long = 64L): Int =
    math.max(4L, (corpusSize + targetClusterSize - 1) / targetClusterSize).toInt

  /** Embedding-cosine near-duplicate pairs: unordered id pairs whose
    * embedding cosine is >= `minCosine`, found through multi-table
    * random-hyperplane LSH bucketing (the 100 TB plan: candidate pairs only
    * meet inside a shared (table, bucket) — the bucket id is a shuffle key,
    * never all-pairs) and then scored EXACTLY with the codegen'd vec_dot.
    * Recall tunes by (tables, planesPerTable) exactly like
    * [[Similarity.annTopK]].
    *
    * PLAN SHAPE: ONE corpus shuffle. Vectors ride the bucket groupBy
    * (`tables` copies of the corpus through a single exchange), pairs are
    * generated AND scored inside each bucket with codegen'd higher-order
    * transforms + vec_dot, and only the (tiny) >= minCosine survivors meet
    * the final cross-table dedup exchange. The previous shape (id-only
    * bucket self-join, global candidate distinct, then two vector-fetch
    * joins) shuffled every CANDIDATE twice with both vectors attached —
    * candidates × 2 vectors is occupancy/2 × tables corpus copies, which
    * loses to the flat `tables` copies here whenever occupancy > 2, and it
    * paid 4 exchanges where this plan pays 2 (measured 1.9× end-to-end at
    * sf0.1; both shapes produce the identical pair set).
    *
    * SCALE KNOBS:
    *  - per-bucket work is quadratic in occupancy (corpus / 2^planesPerTable
    *    per table), so planesPerTable must grow ~log2 with corpus size —
    *    the DEFAULT (`planesPerTable = 0`) derives it via [[autoPlanes]]
    *    from a metadata-cheap `count()`; pass an explicit count to pin.
    *  - `maxBucketOccupancy` (opt-in, NO silent default) drops every
    *    (table, bucket) cell whose occupancy exceeds the cap BEFORE vectors
    *    are collected — the embedding-space analog of `maxBandFreq`: a cell
    *    at many × expected occupancy is a degenerate direction (dead-encoder
    *    zeros, boilerplate templates) whose quadratic pair set no plane
    *    count can fix, and it also bounds this plan's per-group memory
    *    (cap × vector bytes). Whole-cell drop, count-based, so the result
    *    is deterministic and DuckDB-mirrorable (QUALIFY COUNT(*) <= cap).
    * Returns (doc_a, doc_b, cosine), a < b. */
  def embeddingNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      dims: Int,
      tables: Int = 8,
      planesPerTable: Int = 0,
      maxBucketOccupancy: Option[Int] = None
  ): DataFrame = {
    graft.plans.GraftExtensions.register(emb.sparkSession)
    val planes =
      if (planesPerTable > 0) planesPerTable else autoPlanes(emb.count())
    def dot(x: Column, y: Column) = call_function("vec_dot", x, y)
    // the norm is computed ONCE per (row, table) and rides the shuffle as a
    // scalar, so in-bucket scoring is one dot per pair, not three — and the
    // arithmetic (dot / (sqrt*sqrt) product) stays bit-identical to the
    // oracle's per-pair form because sqrt is deterministic
    val tb = Similarity.spreadToCores(emb)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"),
        explode(Similarity.lshBuckets(vecCol, dims, tables, planes)).as("b"))
      .select(col("id"), col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"),
        col("b.t").as("t"), col("b.bucket").as("bucket"))
    // the cap must act BEFORE collect_list so an over-full cell never
    // materializes in an agg buffer: a COUNT window over the same
    // (t, bucket) key the groupBy uses. This reuses the groupBy's own
    // exchange (WindowExec's hashpartitioning satisfies the downstream
    // aggregation's distribution — zero extra shuffles), streams over-full
    // cells through the window's spill-backed buffer instead of an agg
    // buffer, and replaces the previous id-only pre-count + semi-join,
    // which paid a second full LSH-hash pass over the corpus plus its own
    // exchange (the r9 audit's d16 cost driver).
    val bounded = maxBucketOccupancy match {
      case Some(cap) =>
        tb.withColumn("_occ", count(lit(1)).over(Window.partitionBy("t", "bucket")))
          .filter(col("_occ") <= cap).drop("_occ")
      case None => tb
    }
    val grouped = bounded.groupBy("t", "bucket")
      .agg(sort_array(collect_list(struct(col("id"), col("v"), col("nrm")))).as("xs"))
    // score inside the native BucketPairs expression and filter BEFORE
    // exploding: only >= minCosine survivors (a tiny fraction of
    // candidates) ever materialize as rows — sub-threshold pairs live and
    // die inside a generated primitive loop. NULL cosines (zero-norm
    // vectors) drop, matching the cosine() NULL contract.
    bucketPairsNative(grouped, minCosine).distinct()
  }

  /** The generated-code half of [[embeddingNearDupPairs]]'s scoring stage
    * — all >= minCosine pairs of each bucket via the native
    * [[graft.functions.BucketPairs]] expression. */
  private[graft] def bucketPairsNative(
      grouped: DataFrame, minCosine: Double): DataFrame = {
    graft.plans.GraftExtensions.register(grouped.sparkSession)
    grouped
      .select(explode(call_function("bucket_pairs", col("xs"), lit(minCosine))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.cosine").as("cosine"))
  }

  /** The nested higher-order-lambda formulation [[bucketPairsNative]]
    * replaced, kept as the equivalence-test witness (BucketPairsSpec pins
    * bit-parity — ids, cosines, zero-norm drops — on both codegen
    * paths). Correct, but pays per-pair closure dispatch and a
    * materialized struct per CANDIDATE pair on the interpreted
    * higher-order path. */
  private[graft] def bucketPairsLambda(
      grouped: DataFrame, minCosine: Double): DataFrame = {
    def dot(x: Column, y: Column) = call_function("vec_dot", x, y)
    grouped.select(explode(filter(flatten(
        transform(col("xs"), (x, i) =>
          transform(slice(col("xs"), i + lit(2), size(col("xs"))), { y =>
            val denom = x.getField("nrm") * y.getField("nrm")
            struct(
              x.getField("id").as("doc_a"), y.getField("id").as("doc_b"),
              round(when(denom > 0.0, dot(x.getField("v"), y.getField("v")) / denom), 4)
                .as("cosine"))
          }))),
        p => p.getField("cosine") >= minCosine))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.cosine").as("cosine"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): partition the embedding space with spherical k-means
    * ([[Similarity.kmeansCentroids]] — deterministic seed, Lloyd-refined)
    * and compare pairs ONLY within a cluster. The cluster id is the
    * shuffle key — vectors of a cluster co-locate and the pair join is
    * per-cluster-quadratic instead of corpus-quadratic, which is the whole
    * point of the method: at fixed expected cluster size (nClusters grown
    * linearly with the corpus, the paper's regime) the join stays linear.
    * Cross-cluster near-duplicates are invisible by design — the method
    * trades that recall for the partitionable plan; raise kmeansIters /
    * nClusters to sharpen boundaries rather than re-scoring across them.
    *
    * SCALE KNOB: the DEFAULT (`nClusters = 0`) derives k from the corpus
    * via [[autoClusters]] — one metadata-cheap `count()` keeps the
    * expected cluster size (and the per-cluster quadratic join) constant
    * at any corpus size, the paper's regime.  Pass an explicit k only to
    * pin a config (e.g. for a deterministic oracle).
    *
    * REGIME BOUND: assignment broadcasts the centroid table, and under
    * autoClusters that table grows linearly with the corpus (k = n/64 —
    * e.g. ~8 GB of float64 centroids at 500M 2048-dim vectors), so the
    * broadcast-assign plan holds to roughly that scale; beyond it,
    * assignment itself must go approximate (probe a coarse quantization of
    * the centroids, the FAISS IVF-of-centroids pattern) — a documented
    * limit, not a silent one.
    *
    * Returns (cent_id, doc_a, doc_b, cosine) with doc_a < doc_b and
    * round(cosine, 4) >= minCosine (thresholding the ROUNDED value keeps
    * the boundary decision engine-independent). */
  def semDedupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      nClusters: Int = 0,
      kmeansIters: Int = 3
  ): DataFrame = {
    graft.plans.GraftExtensions.register(emb.sparkSession)
    val k = if (nClusters > 0) nClusters else autoClusters(emb.count())
    val cent =
      Similarity.kmeansCentroids(emb, idCol, vecCol, k, kmeansIters)
    val v = Similarity.spreadToCores(emb.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v")))
    // max-cosine assignment via the native argmax over the collected
    // centroid literal (ties to the smallest centroid id, the old
    // max(struct) semantics) — a projection, no vector × k row blow-up;
    // then the within-cluster pairs come from the SAME generated
    // in-bucket scorer as embeddingNearDupPairs: one shuffle on cent_id,
    // sub-threshold pairs never materialize as rows
    val centsLit = typedLit(cent.orderBy("cent_id").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq)
    val assign = v.select(col("vid"),
      call_function("best_centroid", col("v"), centsLit, lit(true)).as("cent_id"),
      col("v"))
    val grouped = assign
      .withColumn("nrm", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .groupBy("cent_id")
      .agg(sort_array(collect_list(
        struct(col("vid").as("id"), col("v"), col("nrm")))).as("xs"))
    grouped
      .select(col("cent_id"),
        explode(call_function("bucket_pairs", col("xs"), lit(minCosine))).as("p"))
      .select(col("cent_id"), col("p.doc_a"), col("p.doc_b"),
        col("p.cosine").as("cosine"))
  }

  /** Hierarchical SemDeDup pairs — [[semDedupPairs]] with the flat n·k
    * assignment replaced by the FAISS IVF-of-centroids pattern: the
    * centroid table is itself clustered into ~√k coarse cells, each
    * vector picks its `nProbe` best coarse cells and argmaxes only over
    * the fine centroids in them (the native codegen'd
    * [[graft.functions.BestCentroidProbe]]). Assignment cost drops from
    * n·k to ~n·√k·nProbe — under the auto-k regime (k ∝ n) that is the
    * difference between a quadratic and an n^1.5 total, the super-linear
    * term the round-13 sf10 rehearsal measured (d15 at 14× on 10× rows).
    *
    * APPROXIMATION, stated: a vector whose true best fine centroid lives
    * outside its probed coarse cells is assigned to a nearby cluster
    * instead — near-dup pairs split across the two clusters go unseen,
    * the same boundary-recall trade the paper's clustering itself makes.
    * Raise `nProbe` to buy recall back linearly. The assignment is
    * DETERMINISTIC (cosine ranks, lowest-id ties at both levels), so the
    * d24 oracle mirrors the whole two-level decision structurally.
    *
    * Defaults derive everything from the corpus: k from [[autoClusters]],
    * coarse count = ceil(√k) (≥2), the paper-regime shapes. Returns the
    * same (cent_id, doc_a, doc_b, cosine) surface as [[semDedupPairs]].
    * Vectors whose probed cells hold no fine centroid drop from
    * assignment (cannot happen when every coarse cell is some centroid's
    * best, i.e. whenever coarse centroids are drawn from the fine table —
    * the construction here — but the filter keeps the contract total). */
  def semDedupPairsHier(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      nClusters: Int = 0,
      kmeansIters: Int = 3,
      nCoarse: Int = 0,
      nProbe: Int = 2,
      coarseIters: Int = 2
  ): DataFrame = {
    graft.plans.GraftExtensions.register(emb.sparkSession)
    val k = if (nClusters > 0) nClusters else autoClusters(emb.count())
    val cent =
      Similarity.kmeansCentroids(emb, idCol, vecCol, k, kmeansIters)
    val kc =
      if (nCoarse > 0) nCoarse
      else math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse =
      Similarity.kmeansCentroids(cent, "cent_id", "centv", kc, coarseIters)
    // fine→coarse membership on the driver (k × kc dots on unit vectors —
    // raw dot IS cosine; strict >, lowest-coarse-id ties, the
    // BestCentroid contract the oracle mirrors with a row_number)
    val centRows = cent.orderBy("cent_id").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val coarseRows = coarse.orderBy("cent_id").collect()
      .map(r => r.getSeq[Double](1).toArray)
    val memberLists =
      Array.fill(coarseRows.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    centRows.foreach { case (cid, cv) =>
      memberLists(Similarity.bestCentroidLocal(cv, coarseRows)) += cid
    }
    val packed = typedLit((
      centRows.map(_._2.toSeq).toSeq,
      coarseRows.map(_.toSeq).toSeq,
      memberLists.map(_.toSeq).toSeq))
    val v = Similarity.spreadToCores(emb.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v")))
    val assign = v.select(col("vid"),
      call_function("best_centroid_probe", col("v"), packed,
        lit(nProbe), lit(true)).as("cent_id"),
      col("v"))
      .filter(col("cent_id") >= 0)
    val grouped = assign
      .withColumn("nrm", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .groupBy("cent_id")
      .agg(sort_array(collect_list(
        struct(col("vid").as("id"), col("v"), col("nrm")))).as("xs"))
    grouped
      .select(col("cent_id"),
        explode(call_function("bucket_pairs", col("xs"), lit(minCosine))).as("p"))
      .select(col("cent_id"), col("p.doc_a"), col("p.doc_b"),
        col("p.cosine").as("cosine"))
  }

  /** The SemDeDup keep-set: drops every vector that has a SMALLER-id
    * semantic near-duplicate in its own cluster (the deterministic,
    * order-free version of the paper's keep-one-per-near-set rule — the
    * survivor of a near-set is its minimum id, matching [[keepCanonical]]'s
    * convention). Anti-join on the pair output, so the corpus is touched
    * once more with no extra shuffle beyond the pair join itself.
    *
    * DELIBERATE DEVIATION from the paper's greedy keep rule: a vector is
    * dropped when ANY smaller-id in-cluster near-dup exists, even if that
    * near-dup was itself dropped — on a similarity chain 1~2, 2~3, 1!~3
    * this keeps {1} where the greedy rule would keep {1, 3} (transitive
    * over-drop). Chosen on purpose: the rule is a single anti-join
    * (order-free, one pass, no iteration), whereas greedy keep is
    * inherently sequential within a near-set; callers who need
    * paper-faithful chain semantics should run [[connectedComponents]]
    * over the pair output and keep each component's min id. */
  def semDedupKeep(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      nClusters: Int = 0,
      kmeansIters: Int = 3
  ): DataFrame = {
    val drops = semDedupPairs(emb, idCol, vecCol, minCosine, nClusters, kmeansIters)
      .select(col("doc_b").as(idCol)).distinct()
    emb.join(drops, Seq(idCol), "left_anti")
  }

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — same output contract as [[connectedComponents]], but
    * converges in O(log n) rounds instead of O(diameter), the standard
    * acceleration for adversarially long chains at planetary scale.
    *
    * Invariant: edges are kept oriented (u, v) with u > v; both operations
    * emit only such edges, and the fixpoint is the star forest where every
    * node points at its component minimum.
    */
  def connectedComponentsStar(
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIterations: Int = 20
  ): DataFrame = Pin.scope(pairs.sparkSession, None, "cc") { ck =>
    // large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mnv"))
        .select(col("u"), least(col("u"), col("mnv")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star: every smaller neighbor (and u itself) links to the
    // minimum smaller neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("m"))
      val joined = e.join(m, "u")
      joined.select(col("v").as("u"), col("m").as("v"))
        .union(joined.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // localCheckpoint (eager) truncates lineage every round: each round
    // references `edges` several times (symmetrization + min-join), so an
    // un-truncated plan grows multiplicatively with iterations — the
    // classic iterative-algorithm plan blow-up.
    var edges = ck(pairs
      .select(greatest(col(aCol), col(bCol)).as("u"), least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var edgeCount = edges.count()
    var iterations = 0
    var converged = edgeCount == 0
    while (!converged && iterations < maxIterations) {
      val next = ck(smallStar(largeStar(edges)))
      val nextCount = next.count()
      // fixpoint check: identical edge SETS (counts equal and union adds
      // nothing); both frames are checkpointed so this is one cheap distinct
      converged = nextCount == edgeCount &&
        next.union(edges).distinct().count() == edgeCount
      edges = next
      edgeCount = nextCount
      iterations += 1
    }
    val nodes = pairs.select(col(aCol).as("node"))
      .union(pairs.select(col(bCol).as("node"))).distinct()
    // min-aggregate keeps the one-row-per-doc contract even if
    // maxIterations exhausted before the star-forest fixpoint (a node may
    // then still carry several outgoing edges — degrade to the minimum
    // label, like the propagation variant, instead of fanning out)
    // self-contained eager checkpoint — see connectedComponents
    ck(nodes
      .join(edges.select(col("u").as("node"), col("v").as("comp")), Seq("node"), "left")
      .groupBy("node")
      .agg(min(coalesce(col("comp"), col("node"))).as("component"))
      .select(col("node").as("doc_id"), col("component")))
  }

  /** SimHash near-duplicate candidate pairs (Charikar bit-sampling LSH):
    * the 60-bit SimHash splits into `bands` equal bit-slices; documents
    * sharing ANY slice value meet as candidates (a shuffle-key join on
    * (band, band_val), never all-pairs), and candidates are kept when the
    * FULL hashes' Hamming distance is <= `maxHamming`.
    *
    * Recall contract: by pigeonhole, every pair within `bands - 1` bit
    * flips shares an identical band, so recall is exact for
    * maxHamming <= bands - 1; above that the output is "banded candidates
    * within maxHamming" (the standard trade — more bands buys recall at
    * the cost of candidate volume). Returns (doc_a, doc_b, hamming).
    *
    * @param maxBandFreq drop (band, band_val) buckets shared by more than
    *                    this many documents before pairing — the SimHash
    *                    twin of the jaccardPairs `maxDocFreq` shingle cap.
    *                    Homogeneous corpora (templates, boilerplate)
    *                    concentrate SimHash bits, so one hot bucket makes
    *                    the candidate join quadratic (measured: uncapped
    *                    51 s vs capped 6 s on the 5k-doc synthetic
    *                    corpus, whose shared vocabulary is exactly such a
    *                    concentrator). None = keep all. */
  def simHashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3,
      maxBandFreq: Option[Int] = None
  ): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      TextFunctions.simHash(textCol).as("sh"))
    simHashPairsFromHashes(sh, bands, maxHamming, maxBandFreq)
  }

  /** The pair half of [[simHashCandidates]] over PRECOMPUTED 60-bit
    * simhashes `(doc_id, sh)` — for pipelines whose one signal
    * projection already carries the hash in per-doc metadata
    * ([[graft.pipeline.CrawlPipeline]]): candidates meet only inside a
    * shared (band, band_val) bucket, rescored by exact Hamming
    * distance. Identical semantics and plan shape to running
    * [[simHashCandidates]] on the originating text. */
  def simHashPairsFromHashes(
      sh: DataFrame,
      bands: Int = 4, maxHamming: Int = 3,
      maxBandFreq: Option[Int] = None
  ): DataFrame = {
    require(60 % bands == 0, s"bands must divide 60, got $bands")
    val width = 60 / bands
    val mask = (1L << width) - 1
    val banded0 = sh
      .select(col("doc_id"), col("sh"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("b"))
      .withColumn("band_val", expr(s"shiftright(sh, b * $width) & $mask"))
    val banded = maxBandFreq match {
      case Some(cap) =>
        val w = Window.partitionBy("b", "band_val")
        banded0.withColumn("_bf", count(lit(1)).over(w))
          .filter(col("_bf") <= cap).drop("_bf")
      case None => banded0
    }
    banded.as("x")
      .join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.sh ^ y.sh)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Benchmark-contamination scan (train/test overlap detection): for each
    * corpus document, the count and fraction of its distinct n-gram
    * shingles that also occur in the `benchmark` set — the standard
    * decontamination signal before training (docs overlapping an eval set
    * get dropped or flagged).
    *
    * Scale shape: the benchmark side is small by definition (eval sets are
    * thousands of docs, the corpus is billions), so its distinct shingle
    * hashes BROADCAST and the overlap test is a map-side left-semi join —
    * the 100 TB corpus is scanned once with no shuffle of the corpus
    * shingles; only the per-doc count aggregation shuffles (high-
    * cardinality doc key, even spread).
    *
    * Every input document appears in the output; docs with no shingles
    * (< n tokens) come back as (doc_id, 0, 0, null). */
  def contaminationScan(
      docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3
  ): DataFrame = {
    val docSh = docShingleHashes(docs, idCol, textCol, n, dedup = false)
    // in-row hash dedup + cross-doc distinct = the same benchmark set,
    // with the native expression doing the per-doc work
    val benchSh = benchmark
      .select(explode(call_function("shingle_hash60",
        expr(toksOf(textCol)), lit(n), lit(true))).as("s")).distinct()
    val total = docSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = docSh.join(broadcast(benchSh), Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    docs.select(col(idCol).as("doc_id"))
      .join(total, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        // ANSI mode: guard the 0-shingle division instead of erroring
        when(col("n_shingles") > 0,
          round(coalesce(col("n_contaminated"), lit(0L)) / col("n_shingles"), 4))
          .as("contamination"))
  }

  /** The decision end of benchmark decontamination: drop every document
    * whose contaminated-shingle fraction ([[contaminationScan]]) exceeds
    * `maxFrac`, keep the rest — the n-gram-overlap removal rule used for
    * pretraining-set hygiene (a doc sharing more than a sliver of its
    * n-grams with an evaluation set is leaking that benchmark). `maxFrac
    * = 0.0` drops on ANY overlap; docs too short to shingle (null
    * contamination) are never dropped.
    *
    * Scale shape: the scan side is the [[contaminationScan]] posture
    * (benchmark shingles broadcast, corpus never shuffles); the drop set
    * is filtered to just the contaminated ids BEFORE the anti-join, so at
    * realistic contamination rates AQE broadcasts it and the kept corpus
    * is a scan-speed filter — the [[keepCanonical]] shape. */
  def decontaminate(
      docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3, maxFrac: Double = 0.0
  ): DataFrame = {
    val dropIds = contaminationScan(docs, benchmark, idCol, textCol, n)
      .filter(col("contamination") > maxFrac)
      .select(col("doc_id").as("__graft_drop_id"))
    docs.join(dropIds, docs(idCol) === col("__graft_drop_id"), "left_anti")
  }

  /** Row ceiling for [[semanticDecontaminate]]'s eval broadcast. */
  val EvalBroadcastLimit: Long = 200000L

  /** SEMANTIC decontamination — the embedding-space complement of
    * [[decontaminate]]: drop corpus rows whose embedding sits within
    * `minCosine` of ANY eval-set embedding. A paraphrased or
    * reformatted benchmark copy shares no shingles with the original
    * (n-gram decontamination is blind to it) but still lands on top of
    * the eval point in embedding space — modern curation pipelines run
    * both gates.
    *
    * Scale shape: the eval side BROADCASTS (eval sets are
    * query-batch-sized); contamination is a THRESHOLD over the
    * broadcast cross — no top-k, no per-doc aggregation — so only the
    * contaminated-id sliver is ever distinct'd, and the corpus drops it
    * through a broadcast-able anti-join: corpus rows never shuffle.
    * The cosine is rounded to 4 dp before the compare on BOTH engines
    * (the o12 convention), so the keep/drop decision never sits on a
    * float ulp.
    *
    * The query-batch-size contract is ENFORCED, not just documented
    * (the [[graft.operators.Graph.EdgeCollectLimit]] discipline): the
    * eval side is pinned (localCheckpoint — ONE execution of the eval
    * plan serves both the guard count and the broadcast build) and
    * counted at CALL time, and a set above `evalBroadcastLimit` rows
    * fails loudly instead of silently OOMing the driver's broadcast
    * build at 100 TB posture. Real eval suites are 10^2–10^5 rows; a
    * caller with a genuinely huge one should chunk it and union the
    * contaminated-id slivers, or raise the limit deliberately. The
    * call-time job is the enforcement cost: building the frame runs
    * the (small) eval projection even if the result is never acted
    * on. */
  def semanticDecontaminate(
      emb: DataFrame, evalEmb: DataFrame,
      idCol: String, vecCol: String, minCosine: Double,
      evalBroadcastLimit: Long = EvalBroadcastLimit
  ): DataFrame = {
    graft.plans.GraftExtensions.register(emb.sparkSession)
    val c = emb.select(col(idCol).as("__graft_sd_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    // pin then count: without the pin the eval plan would execute twice
    // (once for the guard, once inside the cross at action time) — for
    // a derived, uncached eval frame that doubles real work
    val q = evalEmb.select(col(vecCol).cast("array<double>").as("_qv"))
      .localCheckpoint()
    val evalRows = q.count()
    require(evalRows <= evalBroadcastLimit,
      s"semanticDecontaminate broadcasts the eval side: got $evalRows eval " +
        s"rows > limit $evalBroadcastLimit. Eval sets are query-batch-sized " +
        "by contract; chunk the eval frame and union the contaminated ids, " +
        "or pass a higher evalBroadcastLimit deliberately.")
    val contaminated = c.crossJoin(broadcast(q))
      .filter(round(Similarity.cosine("_qv", "_cv"), 4) >= minCosine)
      .select(col("__graft_sd_id")).distinct()
    emb.join(contaminated, emb(idCol) === col("__graft_sd_id"), "left_anti")
  }

  /** Diff two corpus snapshots by id + normalized content: one row per
    * document present in either, `status` ∈ added / removed / changed /
    * unchanged. The comparison key is the same whitespace-insensitive
    * content hash the exact-dedup family uses, so a re-serialized or
    * re-wrapped document reads as `unchanged` — the property an
    * incremental pipeline needs to SKIP re-processing (re-shingling,
    * re-embedding, re-classifying) documents whose bytes moved but whose
    * content didn't.
    *
    * Scale shape: each side collapses to (id, 16-byte hash) at scan
    * speed, then one full-outer join on the id — co-partitionable, and
    * zero-shuffle when both snapshots are stored id-bucketed
    * (`Layout.writeBucketed`). */
  /** Key-wise UPSERT (merge-into): `updates` rows replace same-key
    * `base` rows, new-key updates append, untouched base rows survive —
    * the incremental-corpus maintenance write that pairs with
    * [[corpusDiff]] (diff decides WHAT changed, upsert applies it).
    * Both inputs must share a schema ([[corpusDiff]]'s contract).
    *
    * CONTRACT: `updates` must itself be key-unique — two update rows
    * for one key would BOTH survive the anti-join + union and break the
    * maintained corpus's key uniqueness. The caller pre-dedups the
    * batch (keep the latest row per key, e.g. a row_number window over
    * a version column); this operator does not pick a winner because
    * it has no ordering column to pick one BY.
    *
    * Scale shape: one left-anti join of base against the (usually much
    * smaller) update batch — AQE broadcasts the update keys, so the
    * base corpus never shuffles — then a union. No full-outer join, no
    * per-column coalesce: the update row wins WHOLE, which is also the
    * only sane semantics when a column was set to null on purpose. */
  def mergeUpsert(
      base: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String]
  ): DataFrame = {
    require(keyCols.nonEmpty, "mergeUpsert needs at least one key column")
    require(base.columns.sameElements(updates.columns),
      "mergeUpsert requires identical schemas (corpusDiff's contract)")
    base.join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(updates)
  }

  def corpusDiff(
      prev: DataFrame, cur: DataFrame, idCol: String, textCol: String
  ): DataFrame = {
    val p = prev.select(col(idCol).as("_id"),
      md5(expr(normalizedSql(textCol))).as("_prev_hash"))
    val c = cur.select(col(idCol).as("_id"),
      md5(expr(normalizedSql(textCol))).as("_cur_hash"))
    p.join(c, Seq("_id"), "full_outer")
      .select(col("_id").as(idCol),
        when(col("_prev_hash").isNull, lit("added"))
          .when(col("_cur_hash").isNull, lit("removed"))
          .when(col("_prev_hash") === col("_cur_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** The user-facing end of near-dedup: given cluster labels from
    * [[connectedComponents]] / [[connectedComponentsStar]] (doc_id,
    * component), drop every cluster member except the minimum-id
    * canonical and keep all unclustered documents.
    *
    * Scale shape: the duplicate-id set (labels where component != id) is
    * filtered BEFORE the anti-join, so the join's build side holds only
    * the documents actually being dropped; with a low duplicate rate AQE
    * turns it into a broadcast anti-join and the corpus never shuffles. */
  def keepCanonical(docs: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val dropIds = labels
      .filter(col("component") =!= col("doc_id"))
      .select(col("doc_id").as("_drop_id"))
    docs.join(dropIds, docs(idCol) === col("_drop_id"), "left_anti")
  }

  /** [[keepCanonical]]'s production variant: keep each cluster's
    * highest-QUALITY member (ties to the lowest id), not its lowest-id
    * one — near-dup clusters usually hold one clean original and N
    * mangled copies, and the id ordering has no reason to pick the clean
    * one. `quality` is any per-doc column expression; round it to a
    * fixed precision if it is float-valued so the tie contract is
    * engine-exact.
    *
    * Scale shape: quality is evaluated only for CLUSTERED docs (labels ⨝
    * corpus — cluster-sized, a sliver at real dup rates), the winner
    * window runs per component on that sliver, and the drop set feeds
    * the same AQE-broadcast-able anti-join as keepCanonical. The corpus
    * itself never shuffles. */
  def keepBestQuality(
      docs: DataFrame, idCol: String, labels: DataFrame,
      quality: org.apache.spark.sql.Column
  ): DataFrame = {
    val scored = labels.join(
      docs.select(col(idCol).as("doc_id"), quality.as("_q")), Seq("doc_id"))
    val w = Window.partitionBy("component")
      .orderBy(col("_q").desc, col("doc_id").asc)
    val dropIds = scored
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1)
      .select(col("doc_id").as("_drop_id"))
    docs.join(dropIds, docs(idCol) === col("_drop_id"), "left_anti")
  }

  /** [[contaminationScan]] with a Bloom-filter prefilter — the scale path
    * for benchmark sets too large to broadcast as raw 8-byte hashes.
    *
    * The benchmark's distinct shingle hashes build a distributed Bloom
    * filter (`DataFrameStatFunctions.bloomFilter` — a treeAggregate, no
    * driver bottleneck) at `fpp`; ~1.2 bytes per shingle at 1% instead of
    * 8+ bytes per raw hash, so a 100×-larger benchmark still broadcasts.
    * Corpus shingles probe the broadcast sketch at scan speed; only the
    * surviving sliver (true hits + fpp false positives) reaches the exact
    * semi-join that removes the false positives. Bloom filters have no
    * false negatives, so the result is IDENTICAL to [[contaminationScan]]
    * — the oracle gate checks that end to end.
    *
    * The sketch probe is the native codegen'd
    * [[graft.functions.BloomProbe]] expression — the driver-built filter
    * rides the plan as a binary literal and deserializes once per task,
    * so the shingle stream never leaves whole-stage codegen. */
  def contaminationScanBloom(
      docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      fpp: Double = 0.01
  ): DataFrame = {
    val spark = docs.sparkSession
    graft.plans.GraftExtensions.register(spark)
    // eager localCheckpoint, not cache+unpersist: the frame is consumed by
    // THREE separate executions (count, Bloom build, confirm join) and the
    // last one runs whenever the caller acts on the result — a premature
    // unpersist would recompute the whole benchmark shingle pipeline there
    val benchSh = benchmark
      .select(explode(call_function("shingle_hash60",
        expr(toksOf(textCol)), lit(n), lit(true))).as("s")).distinct()
      .localCheckpoint()
    val expected = math.max(benchSh.count(), 1L)
    val bf = benchSh.stat.bloomFilter("s", expected, fpp)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val docSh = docShingleHashes(docs, idCol, textCol, n, dedup = false)
    val total = docSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = docSh
      .filter(call_function("bloom_probe", col("s"), lit(bfBytes)))
      .join(broadcast(benchSh), Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    docs.select(col(idCol).as("doc_id"))
      .join(total, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        when(col("n_shingles") > 0,
          round(coalesce(col("n_contaminated"), lit(0L)) / col("n_shingles"), 4))
          .as("contamination"))
  }

  /** Intra-document repetition score: 1 - distinct/total positional
    * n-grams — the cheap quality filter that catches boilerplate loops and
    * degenerate generations. Pure per-row expression work (no shuffle). */
  def repetitionScore(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 3
  ): DataFrame = {
    val og = orderedShingles(textCol, n)
    docs
      .select(col(idCol).as("doc_id"),
        size(og).as("n_grams"), size(array_distinct(og)).as("n_distinct"))
      .withColumn("repetition",
        when(col("n_grams") > 0,
          round(lit(1.0) - col("n_distinct") / col("n_grams"), 4)))
  }

  /** Incremental near-duplicate scan: candidate (batch, reference) pairs
    * from MinHash-LSH band collisions — the incremental-ingestion dedup
    * workflow. A standing corpus is deduplicated once; each ARRIVING batch
    * then only needs checking against the reference (and itself, via
    * [[minHashCandidates]] on the batch alone): candidates here form
    * exclusively ACROSS the two frames, never reference², so the recurring
    * cost is `batch × collision rate`, not another full-corpus pass.
    *
    * Scale posture: both sides reduce to (id, band, band_hash) streams and
    * meet on the band key — the reference side shuffles once at its full
    * size but is never self-joined; in production the reference band table
    * is the thing to persist (clustered by band_hash — [[graft.io.Layout]])
    * so a batch probe prunes to the colliding buckets and the per-batch
    * cost stops depending on reference size entirely. The batch side
    * broadcasts when small (AQE size-based — no hint, same contract as the
    * Keywords vocab joins).
    *
    * Returns (doc_id, ref_id, shared_bands): one row per batch-reference
    * band collision, `doc_id` from `batch`. Id spaces may overlap (the
    * frames are distinct corpora); no self-pair filtering is applied. */
  def incrementalNearDup(
      reference: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    val rows = numHashes / bands
    def withBands(docs: DataFrame, out: String) =
      minHashSignatures(docs, idCol, textCol, n, numHashes)
        .select(col("doc_id").as(out), explode(lshBands("sig", bands, rows)).as("bb"))
        .select(col(out), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
    withBands(batch, "doc_id")
      .join(withBands(reference, "ref_id"), Seq("band", "band_hash"))
      .groupBy("doc_id", "ref_id")
      .agg(count(lit(1)).as("shared_bands"))
  }

  /** Chunk-level exact dedup — repeated-passage removal (the CCNet move:
    * boilerplate paragraphs — headers, navigation, license blocks — repeat
    * across documents even when no two documents are near-duplicates, and
    * removing the repeated CHUNKS recovers the unique text). Documents
    * split into fixed non-overlapping token chunks ([[TextFunctions.chunks]]
    * with overlap 0 — overlapping chunks would make every within-doc
    * neighbor a false "duplicate"); chunk identity is the md5 of the
    * chunk's tokens; the FIRST occurrence in (doc_id, chunk_id) order is
    * canonical and every other occurrence is flagged.
    *
    * Plan shape: one corpus pass + one window on the chunk hash — a
    * high-cardinality key, so the shuffle spreads evenly and per-partition
    * window state is tiny (the [[exactDedup]] posture, at chunk grain).
    *
    * Returns one row per chunk occurrence:
    * (doc_id, chunk_id, chunk_hash, occurrences, is_duplicate). Callers
    * reassemble kept text by filtering `!is_duplicate` and re-joining
    * chunks in chunk_id order; a per-doc duplicate-chunk fraction is one
    * groupBy away. */
  def chunkDedup(
      docs: DataFrame, idCol: String, textCol: String, size: Int = 32
  ): DataFrame = {
    require(size > 0, "chunk size must be positive")
    val ch = docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.chunks(textCol, size, 0)).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        md5(array_join(col("c.toks"), " ")).as("chunk_hash"))
    val wh = Window.partitionBy("chunk_hash")
    val ord = Window.partitionBy("chunk_hash").orderBy(col("doc_id"), col("chunk_id"))
    ch.withColumn("occurrences", count(lit(1)).over(wh))
      .withColumn("is_duplicate", row_number().over(ord) > 1)
  }

  /** The reassembly end of [[chunkDedup]]: strip every repeated chunk
    * (keeping its FIRST occurrence in (doc_id, chunk_id) order) and
    * rebuild each document from its surviving chunks — repeated-passage
    * removal applied, not just flagged. Returns one row per input doc
    * that produced chunks: (doc_id, n_chunks, n_kept, kept_hash) where
    * `kept_hash` is the md5 of the kept chunks re-joined in chunk order
    * (a doc whose every chunk was seen before hashes the empty string).
    *
    * Plan shape: one corpus pass to chunk, ONE window on the
    * high-cardinality chunk hash to pick first occurrences, one per-doc
    * aggregation to reassemble — the [[chunkDedup]] posture plus a
    * doc-keyed agg; chunk text rides the window shuffle once, there is
    * no self-join and no pair blow-up at any corpus size. */
  def stripDuplicateChunks(
      docs: DataFrame, idCol: String, textCol: String, size: Int = 32
  ): DataFrame = {
    require(size > 0, "chunk size must be positive")
    val ch = docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.chunks(textCol, size, 0)).as("__graft_c"))
      .select(col("doc_id"), col("__graft_c.chunk_id").as("chunk_id"),
        array_join(col("__graft_c.toks"), " ").as("__graft_cstr"))
    val ord = Window.partitionBy(md5(col("__graft_cstr")))
      .orderBy(col("doc_id"), col("chunk_id"))
    ch.withColumn("__graft_keep", row_number().over(ord) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("__graft_keep"), lit(1))).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("__graft_keep"),
            struct(col("chunk_id"), col("__graft_cstr").as("s"))))),
          c => c.getField("s")), " ")).as("kept_hash"))
  }

  /** Candidate near-duplicate pairs from MinHash-LSH: unordered doc pairs
    * sharing >= 1 band bucket, with the count of shared bands. Join is on
    * (band, band_hash) — never all-pairs. */
  def minHashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame =
    minHashCandidatesFromSignatures(
      minHashSignatures(docs, idCol, textCol, n, numHashes), numHashes, bands)

  /** [[minHashCandidates]] from a precomputed `(doc_id, sig)` frame —
    * the face for pipelines whose one signal projection already carries
    * the signature (the [[simHashPairsFromHashes]] convention, applied
    * to MinHash). Same banded-join plan shape: pairs meet only through
    * a shared `(band, band_hash)` bucket, never all-pairs. NULL
    * signatures (docs too short to shingle) are skipped — they can pair
    * with nothing.
    *
    * `minSigAgreement` adds a VERIFY stage on the candidates: the
    * fraction of equal signature components estimates the pair's
    * Jaccard (the MinHash guarantee), so requiring
    * `agree >= ceil(minSigAgreement * numHashes)` tightens the banded
    * s-curve into a hard similarity threshold WITHOUT re-reading any
    * text — the verification joins only the candidate-scale pair frame
    * back onto the doc-scale signature sliver (twice, id-keyed,
    * broadcast-able), never the corpus. The integer ceil comparison
    * keeps the decision exact in any engine. */
  def minHashCandidatesFromSignatures(
      sigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      minSigAgreement: Option[Double] = None
  ): DataFrame = {
    val rows = numHashes / bands
    val nn = sigs.filter(col("sig").isNotNull)
    val withBands = nn
      .select(col("doc_id"), explode(lshBands("sig", bands, rows)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
    val cand = withBands.as("a")
      .join(withBands.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_bands"))
    minSigAgreement match {
      case None => cand
      case Some(t) =>
        // t > 1 would make need > numHashes and silently drop EVERY
        // candidate pair; t < 0 silently degenerates to no verification
        require(t >= 0.0 && t <= 1.0,
          s"minSigAgreement must be in [0, 1], got $t (fraction of the " +
            s"$numHashes signature rows that must agree)")
        val need = math.ceil(t * numHashes).toLong
        val agree = expr(
          "aggregate(zip_with(_sa, _sb, (x, y) -> IF(x = y, 1L, 0L)), 0L, (s, v) -> s + v)")
        cand
          .join(nn.select(col("doc_id").as("doc_a"), col("sig").as("_sa")), "doc_a")
          .join(nn.select(col("doc_id").as("doc_b"), col("sig").as("_sb")), "doc_b")
          .filter(agree >= need)
          .select(col("doc_a"), col("doc_b"), col("shared_bands"))
    }
  }
}
