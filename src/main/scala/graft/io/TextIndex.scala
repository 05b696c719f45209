package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Persisted inverted text index — the search-serving layout (the text
  * analog of the persisted IVF index): postings partitioned by a hash
  * BUCKET of the term, so a query reads only its terms' bucket
  * directories instead of scanning the corpus.
  *
  * Layout under `dir`:
  *  - `postings/` — (term, doc_id, tf, dl), `partitionBy(term_bucket)`
  *    where term_bucket = hash60(term) mod `buckets`; a term's postings
  *    live in exactly one directory;
  *  - `stats/` — one row (n_docs, avgdl), the BM25 normalizers.
  *
  * [[bm25SearchIndex]] reproduces [[graft.operators.Keywords.bm25Search]]
  * EXACTLY (same tokenizer, same scoring, same q8 accumulation, same tie
  * order) — the IvfIndexSpec-style contract: index-served results equal
  * the corpus-scan operator, while the executed plan proves the scan
  * touched only the probed buckets. Document frequency is derived from
  * the probed postings themselves (df = posting count per term), so a
  * search reads NOTHING outside its buckets.
  *
  * At 100 TB: the postings build is one tokenize + one (doc, term)
  * aggregation; bucket count sizes directories against the term
  * distribution (Heaps-bounded); queries cost |terms| directory reads
  * regardless of corpus size. */
object TextIndex {

  val DefaultBuckets = 64

  // the engine-wide 60-bit hash (15 md5 hex digits), column form
  private def bucketOf(term: org.apache.spark.sql.Column, buckets: Int) =
    pmod(conv(substring(md5(term), 1, 15), 16, 10).cast("long"), lit(buckets.toLong))

  def writeIndex(
      docs: DataFrame, idCol: String, textCol: String, dir: String,
      buckets: Int = DefaultBuckets
  ): Unit = {
    require(buckets >= 1, "need at least one bucket")
    Watermark.clear(docs.sparkSession, dir)
    // fresh build → fresh snapshot lineage (v1 committed at the end)
    Manifest.reset(docs.sparkSession, dir)
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(textCol).as("toks"))
    // sum_dl is stored alongside so stats MERGE exactly on append
    // (dl is integer-valued — the double sum is exact at any order);
    // the bucket count is persisted too, so append/search verify against
    // the layout the postings were actually written with instead of
    // trusting the caller's parameter
    // stats live as a LEDGER of per-batch delta rows (batch=<id> dirs),
    // aggregated at read: a batch-scoped overwrite is replay-IDEMPOTENT,
    // which is what makes the streaming [[appendBatch]] exactly-once —
    // the old read-add-overwrite single row double-added on any replay
    new org.apache.hadoop.fs.Path(s"$dir/stats")
      .getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$dir/stats"), true)
    toks.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(size(col("toks"))), lit(0L)).cast("long").as("sum_dl"))
      .withColumn("buckets", lit(buckets))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/stats/batch=base")
    // repartition on the bucket key first: without it every shuffle
    // partition writes a sliver into every bucket directory (partitions ×
    // buckets small files — 2048 at bench config, and the file-commit
    // storm was the dominant, high-variance cost of the index build);
    // with it each bucket directory gets whole files from the tasks that
    // own its key. At larger corpora raise spark.sql.shuffle.partitions —
    // the hash-partitioning spreads buckets across however many tasks
    // exist.
    // second partition level `ingest_batch`: every maintenance write owns
    // its own leaf directories, so appends never touch standing data and
    // the streaming face needs NO standing read (see [[appendBatch]])
    postings(toks, buckets)
      .withColumn("ingest_batch", lit("base"))
      .repartition(col("term_bucket"))
      .write.mode("overwrite")
      .partitionBy("term_bucket", "ingest_batch").parquet(s"$dir/postings")
    // 0-row schema sidecar (the CorpusStore discipline): a DAY-ZERO
    // index (built from an empty corpus — the bootstrap shape of the
    // steady-state loop) has no parquet footer to infer from, and the
    // id column's type is the caller's; the sidecar keeps every read
    // well-typed so an empty index SERVES (empty) instead of throwing
    postings(toks, buckets).withColumn("ingest_batch", lit("base"))
      .limit(0).write.mode("overwrite").parquet(s"$dir/schema")
    Manifest.initFromListing(docs.sparkSession, dir,
      Seq("postings", "stats")): Unit
  }

  /** The postings tree through the resolved snapshot (ONE per serve
    * call, so postings and stats are read from the same committed
    * instant), typed by the 0-row schema sidecar so a day-zero index
    * serves empty. */
  private def postingsFrame(spark: SparkSession, dir: String,
      snap: Manifest.Snapshot): DataFrame =
    Manifest.readSubtree(spark, dir, snap, "postings",
      Some(spark.read.parquet(s"$dir/schema").schema))

  /** The stats ledger through the same snapshot. */
  private def statsFrame(spark: SparkSession, dir: String,
      snap: Manifest.Snapshot): DataFrame =
    Manifest.readSubtree(spark, dir, snap, "stats", None)

  /** The committed snapshot every face resolves first. */
  private def live(spark: SparkSession, dir: String): Manifest.Snapshot =
    Manifest.live(spark, dir, "TextIndex.writeIndex")

  /** Positional postings: (term, doc_id, tf, dl, positions) — positions
    * are the term's sorted 1-based token offsets, what phrase queries
    * intersect. */
  private def postings(toks: DataFrame, buckets: Int): DataFrame =
    toks.select(col("doc_id"), size(col("toks")).as("dl"),
        posexplode(col("toks")).as(Seq("pos0", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"),
        array_sort(collect_list(col("pos0") + 1)).as("positions"))
      .withColumn("term_bucket", bucketOf(col("term"), buckets))

  /** The bucket count the index at `dir` was written with, from the stats
    * ledger. A mismatched caller value would silently split a term's
    * postings across two directories (append) or probe the wrong
    * directory (search) — so every entry point after the build resolves
    * through here, and none takes a bucket count. */
  private def storedBuckets(spark: SparkSession, dir: String,
      snap: Manifest.Snapshot): Int =
    statsFrame(spark, dir, snap)
      .agg(max(col("buckets").cast("int"))).head().getInt(0)

  /** Corpus totals aggregated over the stats ledger. */
  private def statsTotals(spark: SparkSession, dir: String,
      snap: Manifest.Snapshot): (Long, Long) = {
    val r = statsFrame(spark, dir, snap)
      .agg(sum(col("n_docs").cast("long")), sum(col("sum_dl").cast("long")))
      .head()
    (if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Fold the stats ledger back to ONE row (r17 advisory): every append
    * adds a `stats/batch=*` directory forever, so without this the BM25
    * normalizer read pays an ever-growing many-tiny-files scan. The fold
    * is a NEW ledger row plus one commit that retires the old rows —
    * nothing deleted, so a pinned reader keeps summing the old rows to
    * the same totals. */
  private def consolidateStats(spark: SparkSession, dir: String,
      casRetries: Int): Unit = {
    val snap = live(spark, dir)
    val old = snap.under("stats")
    if (old.size <= 1) return
    val (nDocs, sumDl) = statsTotals(spark, dir, snap)
    val nBuckets = storedBuckets(spark, dir, snap)
    val tag = s"c${java.util.UUID.randomUUID().toString.take(12)}"
    spark.createDataFrame(Seq((nDocs, sumDl, nBuckets)))
      .toDF("n_docs", "sum_dl", "buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/stats/batch=$tag")
    Manifest.commitAdd(spark, dir,
      Manifest.listFiles(spark, dir, s"stats/batch=$tag"), old,
      casRetries): Unit
  }

  /** Incremental maintenance: add a DELTA corpus (document ids disjoint
    * from the indexed ones) to an existing index. Delta postings append
    * into the same bucket directories (each term still lives in exactly
    * one directory), and the stats sidecar merges by addition —
    * integer-valued totals, so a search over the appended index is
    * bit-identical to re-indexing the full corpus (TextIndexSpec pins
    * it). A delta batch costs one tokenize + one aggregation over the
    * BATCH; the standing index is never rewritten.
    *
    * RETRYABLE (r17 advisory): the ingest tag is derived from the
    * delta's CONTENT (xor of per-doc hashes over id + token list), not
    * a random UUID, so a caller's naive retry converges to exactly one
    * copy of the delta instead of double-appending postings and
    * double-counting the BM25 normalizers. (Two DIFFERENT deltas
    * colliding on the 64-bit tag is a hash-collision event, not an
    * operational one; the streaming face [[appendBatch]] uses the
    * batch id and is immune outright.)
    *
    * Each attempt writes its own SUFFIXED tag (`a<hash>-<rand>`) and
    * the commit retires every other attempt of the same content hash
    * (r19 advisory: a same-tag dynamic overwrite would physically
    * delete the prior COMMITTED attempt's files before the new commit —
    * yanking bytes from under a pinned reader mid-scan when a caller
    * retried after an ambiguous failure). Retired attempts stay on disk
    * for pinned readers until [[vacuum]]; a torn attempt's files are
    * orphans no snapshot ever references. The bucket count is the
    * persisted one ([[storedBuckets]]). */
  def appendToIndex(
      delta: DataFrame, idCol: String, textCol: String, dir: String
  ): Unit = {
    val spark = delta.sparkSession
    val snap = live(spark, dir)
    val nBuckets = storedBuckets(spark, dir, snap)
    // pinned: feeds the content tag, the postings write, and the stats
    // row — without it the delta would tokenize three times
    val toks = delta.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(textCol).as("toks")).localCheckpoint()
    try {
      // empty delta: nothing to index — writing a 0-row stats ledger
      // row would churn a manifest version for no content (r19
      // advisory, the empty-micro-batch rule)
      if (toks.isEmpty) return
      val contentHash = toks
        .agg(coalesce(bit_xor(xxhash64(col("doc_id"), col("toks"))), lit(0L)))
        .head().getLong(0)
      val base = "a" + java.lang.Long.toHexString(contentHash)
      val tag = attemptTag(base)
      postings(toks, nBuckets)
        .withColumn("ingest_batch", lit(tag))
        .repartition(col("term_bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("term_bucket", "ingest_batch").parquet(s"$dir/postings")
      // a fresh ledger row per append: totals aggregate at read time
      toks.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("toks"))), lit(0L)).cast("long").as("sum_dl"))
        .withColumn("buckets", lit(nBuckets))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/stats/batch=$tag")
      commitAppend(spark, dir, snap, base, tag)
    } finally Pin.release(toks)
  }

  /** A per-attempt suffix, so a retry never overwrites committed leaf
    * directories (see [[appendToIndex]]). Bases never contain '-' (hex
    * hashes, `b<id>` batch ids), so attempt-of-base matching is
    * unambiguous. */
  private def attemptTag(base: String): String =
    s"$base-${java.util.UUID.randomUUID().toString.take(8)}"

  /** One snapshot commit per append: adopt the fresh ATTEMPT's files,
    * drop every prior attempt of the same BASE tag (a retried append —
    * its prior attempt may have committed even though the caller saw a
    * failure, the ambiguous-failure retry). Postings and stats flip
    * together, so a reader never sees one without the other. */
  private def commitAppend(spark: SparkSession, dir: String,
      snap: Manifest.Snapshot, base: String, tag: String): Unit = {
    val ofBase = (f: String) =>
      f.contains(s"/ingest_batch=$base/") ||
        f.contains(s"/ingest_batch=$base-") ||
        f.startsWith(s"stats/batch=$base/") ||
        f.startsWith(s"stats/batch=$base-")
    val ofTag = (f: String) =>
      f.contains(s"/ingest_batch=$tag/") || f.startsWith(s"stats/batch=$tag/")
    val stale = snap.files.filter(ofBase)
    // precise add: only this attempt's freshly-written files (a
    // tag-scoped filter over the listing — never a blind adoption)
    val added = (Manifest.listFiles(spark, dir, "postings")
      ++ Manifest.listFiles(spark, dir, "stats")).filter(ofTag)
    Manifest.commitAdd(spark, dir, added, stale): Unit
  }

  /** EXACTLY-ONCE streaming maintenance (the foreachBatch body of
    * [[graft.streaming.Streaming.textIndexMaintenance]], parity harness
    * #17) — stronger than [[graft.io.BandIndex.appendBatch]]'s
    * tolerate-and-heal posture, because this index cannot tolerate
    * duplicates at all: a double-appended posting doubles `tf` and a
    * double-added stats row corrupts the BM25 normalizers. The layout
    * does the work — every attempt owns attempt-tagged leaf directories
    * (`term_bucket=X/ingest_batch=b<id>-<rand>`, `stats/batch=b<id>-
    * <rand>`), so:
    *  - the postings and the stats row are written into fresh
    *    directories — standing ones are never touched
    *    (delta-proportional: no standing read, nothing to lose);
    *  - one manifest commit adopts this attempt and retires every
    *    other attempt of batch `b<id>`, so a replay leaves exactly one
    *    live copy of the batch;
    *  - the [[Watermark]] gate skips batches already marked done.
    * Every crash interleaving converges on the replayed apply. Returns
    * true iff the batch was applied. */
  def appendBatch(
      delta: DataFrame, idCol: String, textCol: String, dir: String,
      batchId: Long
  ): Boolean = {
    val spark = delta.sparkSession
    MaintenanceFace.gated(spark, dir, batchId) {
      val snap = live(spark, dir)
      val nBuckets = storedBuckets(spark, dir, snap)
      // pinned: feeds the postings write and the stats row
      val toks = delta.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(textCol).as("toks")).localCheckpoint()
      try if (!toks.isEmpty) {
        // attempt-suffixed like [[appendToIndex]] — a replay after a
        // crash between the manifest commit and the watermark mark must
        // not overwrite the committed attempt's live files (it writes a
        // fresh attempt; the commit retires the old one)
        val base = s"b$batchId"
        val tag = attemptTag(base)
        postings(toks, nBuckets)
          .withColumn("ingest_batch", lit(tag))
          .repartition(col("term_bucket"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("term_bucket", "ingest_batch")
          .parquet(s"$dir/postings")
        toks.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(size(col("toks"))), lit(0L)).cast("long").as("sum_dl"))
          .withColumn("buckets", lit(nBuckets))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/stats/batch=$tag")
        commitAppend(spark, dir, snap, base, tag)
      } finally Pin.release(toks)
    }
  }

  /** Consolidate the batch-scoped layout: every append leaves its own
    * `ingest_batch=<tag>` leaf under each touched bucket, so fan-in
    * grows with append count; compaction reads the live postings,
    * collapses (term, doc_id) duplicates (a torn previous
    * consolidation's residue — identical rows, so the collapse is
    * content-free), and writes everything as ONE fresh consolidated tag
    * (dynamic overwrite of the new tag's directories only, additive with
    * respect to every standing file). One [[Manifest]] commit then
    * retires the old tags without deleting them: snapshot-pinned
    * readers keep serving them bit-identically until
    * [[Manifest.vacuum]]. A crash before the commit leaves orphans no
    * snapshot references. A no-op when a single tag remains.
    *
    * Also folds the STATS LEDGER back to one row ([[consolidateStats]]
    * — r17 advisory: without it every append's batch dir lives
    * forever and the normalizer read decays into a many-tiny-files
    * scan), by the same additive write and commit. */
  def compact(spark: SparkSession, dir: String,
      casRetries: Int = 0): Compact.CompactStats = {
    val snap = live(spark, dir)
    val oldPostings = snap.under("postings")
    val tagOf = (f: String) => f.split('/')
      .find(_.startsWith("ingest_batch=")).getOrElse("")
    val oldTags = oldPostings.map(tagOf).filter(_.nonEmpty).distinct
    if (oldTags.length <= 1) return Compact.CompactStats(0, 0, 0)
    val oldBuckets = oldPostings
      .map(_.stripPrefix("postings/").takeWhile(_ != '/')).distinct
    val tag = s"c${java.util.UUID.randomUUID().toString.take(12)}"
    val consolidated = postingsFrame(spark, dir, snap)
      .drop("ingest_batch")
      .dropDuplicates("term", "doc_id")
      .withColumn("term_bucket", col("term_bucket").cast("long"))
      .withColumn("ingest_batch", lit(tag))
      .localCheckpoint() // one derivation for the one write
    try
      consolidated.repartition(col("term_bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("term_bucket", "ingest_batch").parquet(s"$dir/postings")
    finally Pin.release(consolidated)
    val added = Manifest.listFiles(spark, dir, "postings")
      .filter(_.contains(s"/ingest_batch=$tag/"))
    val next = Manifest.commitAdd(spark, dir, added, oldPostings, casRetries)
    consolidateStats(spark, dir, casRetries)
    Compact.CompactStats(oldBuckets.size, oldPostings.size,
      next.under("postings").size)
  }

  /** Physically reclaim superseded bytes — old batch tags and ledger
    * rows [[compact]] retired for snapshot-pinned readers, plus any
    * torn run's orphans — on the serving fleet's retention cadence
    * ([[Manifest.vacuum]]). */
  def vacuum(spark: SparkSession, dir: String, retainVersions: Int = 0,
      orphanGraceMs: Long = 0L): Manifest.VacuumStats =
    Manifest.vacuum(spark, dir, Seq("postings", "stats"),
      retainVersions, orphanGraceMs)

  /** BM25 top-k against a persisted index: the query terms' buckets
    * become a literal partition predicate (query metadata, not row
    * data), postings filter to the exact terms inside those directories,
    * and scoring matches `Keywords.bm25Search` bit-for-bit. The bucket
    * count is the persisted one ([[storedBuckets]]). */
  def bm25SearchIndex(
      spark: SparkSession, dir: String, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75
  ): DataFrame =
    bm25Core(spark, dir, live(spark, dir), queryTerms, k, k1, b)

  /** [[bm25SearchIndex]] pinned to a COMMITTED VERSION — the
    * reproducible-eval face (r20, the index-family counterpart of
    * [[CorpusStore.readVersion]]): a search-quality eval records the
    * version it ran against, and re-running it serves the exact same
    * postings and normalizers until [[vacuum]]'s retention expires the
    * version — maintenance committed in between is invisible. Fails
    * loudly on a never-committed or vacuumed version. */
  def bm25SearchIndexAt(
      spark: SparkSession, dir: String, version: Long,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75
  ): DataFrame = {
    val snap = Manifest.at(spark, dir, version).getOrElse(sys.error(
      s"TextIndex.bm25SearchIndexAt($dir, $version): no such committed " +
        s"version on disk (horizon: " +
        s"${Manifest.versions(spark, dir).mkString(",")}) — it was never " +
        "committed, or vacuum reclaimed it; raise vacuum's retainVersions " +
        "to keep the eval horizon"))
    bm25Core(spark, dir, snap, queryTerms, k, k1, b)
  }

  private def bm25Core(
      spark: SparkSession, dir: String, snap: Manifest.Snapshot,
      queryTerms: Seq[String], k: Int, k1: Double, b: Double
  ): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    require(k > 0, "k must be positive")
    val terms = queryTerms.distinct
    // ONE snapshot for the whole serve call: stats and postings read
    // from the same committed instant, and a concurrent maintenance
    // commit can never invalidate this query's file list
    // NOTE: named nBuckets, not b — `b` is the BM25 length-normalization
    // parameter in scope here
    val nBuckets = storedBuckets(spark, dir, snap)
    // bucket ids are computable driver-side: same hash, tiny input
    val probed = terms.map { t =>
      math.floorMod(graft.functions.Winnow60.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)), nBuckets.toLong)
    }.distinct
    val (nDocs, sumDl) = statsTotals(spark, dir, snap)
    // avgdl computed driver-side: the in-plan literal division constant-
    // folds at analysis, and a DAY-ZERO index (n_docs = 0) would throw
    // ANSI DIVIDE_BY_ZERO before the (empty) scan even runs. The IEEE
    // double division is identical either way; null on an empty index
    // (nothing scores anyway — the postings sliver is empty).
    val avgdl: Option[Double] =
      if (nDocs == 0L) None else Some(sumDl.toDouble / nDocs.toDouble)
    val stats = broadcast(spark.range(1).select(
      lit(nDocs).as("n_docs"), lit(sumDl).as("sum_dl"),
      lit(avgdl.orNull).cast("double").as("avgdl")))
    // dropDuplicates on the posting key: a no-op on a healthy index
    // ((term, doc_id) is unique; duplicate rows are identical), it
    // collapses the residue a torn [[compact]] can leave (old tags +
    // a partial consolidated tag) — runs on the pruned sliver only
    val tf = postingsFrame(spark, dir, snap)
      .filter(col("term_bucket").isin(probed: _*))
      .filter(col("term").isin(terms: _*))
      .dropDuplicates("term", "doc_id")
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val perTerm = tf.join(dft, "term").crossJoin(stats)
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

  /** Exact phrase search SERVED FROM THE INDEX — no corpus scan: the
    * phrase terms' postings (bucket-pruned like [[bm25SearchIndex]])
    * join per document, and a phrase start is a position p with term_j
    * at p + j for every j — computed by folding array_intersect over the
    * per-term position lists shifted left by their offset. Results equal
    * [[graft.operators.Keywords.phraseSearch]] (same 1-based positions,
    * same overlap counting). Returns (doc_id, n_occurrences) for
    * matching documents.
    *
    * Repeated terms in the phrase read ONE posting (the join dedups by
    * term), and a document lacking any phrase term drops at the inner
    * join — so the work is |phrase| posting lookups, corpus-size-free. */
  def phraseSearchIndex(
      spark: SparkSession, dir: String, phrase: Seq[String]
  ): DataFrame =
    phraseCore(spark, dir, live(spark, dir), phrase)

  /** [[phraseSearchIndex]] pinned to a COMMITTED VERSION — see
    * [[bm25SearchIndexAt]] for the reproducible-eval contract. */
  def phraseSearchIndexAt(
      spark: SparkSession, dir: String, version: Long, phrase: Seq[String]
  ): DataFrame = {
    val snap = Manifest.at(spark, dir, version).getOrElse(sys.error(
      s"TextIndex.phraseSearchIndexAt($dir, $version): no such committed " +
        s"version on disk (horizon: " +
        s"${Manifest.versions(spark, dir).mkString(",")}) — it was never " +
        "committed, or vacuum reclaimed it; raise vacuum's retainVersions " +
        "to keep the eval horizon"))
    phraseCore(spark, dir, snap, phrase)
  }

  private def phraseCore(
      spark: SparkSession, dir: String, snap: Manifest.Snapshot,
      phrase: Seq[String]
  ): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val terms = phrase.distinct
    val nBuckets = storedBuckets(spark, dir, snap)
    val probed = terms.map { t =>
      math.floorMod(graft.functions.Winnow60.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)), nBuckets.toLong)
    }.distinct
    val posts = postingsFrame(spark, dir, snap)
      .filter(col("term_bucket").isin(probed: _*))
      .filter(col("term").isin(terms: _*))
      .dropDuplicates("term", "doc_id") // torn-compact residue (see bm25)
      .select("doc_id", "term", "positions")
    // one frame per distinct term, joined per doc; each phrase slot j
    // contributes its term's positions shifted by -j, and the fold
    // intersects them into the set of valid phrase starts
    val byTerm = terms.map(t =>
      t -> posts.filter(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"_p_$t"))).toMap
    val joined = phrase.indices.foldLeft(Option.empty[DataFrame]) { (acc, j) =>
      val t = phrase(j)
      val shifted = byTerm(t).select(col("doc_id"),
        transform(col(s"_p_$t"), x => x - j).as(s"_s_$j"))
      Some(acc.fold(shifted)(_.join(shifted, "doc_id")))
    }.get
    val starts = phrase.indices.map(j => col(s"_s_$j"): org.apache.spark.sql.Column)
      .reduceLeft((a, b) => array_intersect(a, b))
    joined
      .withColumn("n_occurrences", size(starts))
      .filter(col("n_occurrences") > 0)
      .select("doc_id", "n_occurrences")
  }
}
