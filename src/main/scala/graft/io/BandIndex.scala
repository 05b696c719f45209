package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted MinHash band index — the standing-corpus side of
  * continuous-ingestion near-dup made durable (the near-dup analog of
  * [[TextIndex]] / the IVF layouts): a deduplicated reference corpus's
  * LSH band table lives ON DISK, partitioned by a hash bucket of the
  * band value, so each arriving batch probes only the bucket
  * directories its own bands land in instead of re-deriving (and
  * re-shuffling) the full reference band table every batch — the gap
  * [[Dedup.incrementalNearDup]]'s scaladoc documents as "the thing to
  * persist in production".
  *
  * Layout under `dir`:
  *  - `bands/` — (ref_id, band, band_hash), `partitionBy(band_bucket)`
  *    where band_bucket = the band_hash's leading 60 bits mod
  *    `buckets`; a band value lives in exactly one directory;
  *  - `meta/` — one row (n, num_hashes, bands, buckets): probe and
  *    append MUST shingle/hash with the parameters the index was built
  *    with, so they resolve them from the layout instead of trusting
  *    the caller (the [[TextIndex]] `storedBuckets` discipline).
  *
  * [[probe]] reproduces [[Dedup.incrementalNearDup]] EXACTLY
  * (BandIndexSpec pins it): the bucket filter only drops reference
  * rows whose bucket no batch band hashes into — rows that could not
  * have joined — so the candidate set is identical while the scan
  * reads only the probed directories (the pruning pin). [[append]]
  * adds a delta of NEW reference docs (ids disjoint from the indexed
  * ones, the [[Dedup.mergeUpsert]] keep-set contract) at one
  * batch-sized signature pass; append == full rebuild is pinned too.
  *
  * At 100 TB: the index build is the one full-corpus signature pass a
  * standing dedup pays ONCE; per-batch cost is then
  * `batch bands × bucket fan-in` — reference-size-free when buckets
  * are sized so directories stay near-constant (band_hash is md5, so
  * load balances), which is the whole point of a continuous-ingestion
  * dedup at that scale. */
object BandIndex {

  val DefaultBuckets = 64

  // same 60-bit-of-md5 derivation as the engine-wide hash60 (band_hash
  // IS already an md5 hex string, so the bucket is its leading 15 hex
  // digits mod buckets — computable on any engine)
  private def bucketOf(bandHash: Column, buckets: Int): Column =
    pmod(conv(substring(bandHash, 1, 15), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** The (out, band, band_hash, band_bucket) band stream of `docs` —
    * the SAME signature/banding path as [[Dedup.incrementalNearDup]]
    * (shared code is what makes index-served == in-flight exact). */
  private def bandRows(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, buckets: Int, out: String
  ): DataFrame =
    Dedup.minHashSignatures(docs, idCol, textCol, n, numHashes)
      .select(col("doc_id").as(out),
        explode(Dedup.lshBands("sig", bands, numHashes / bands)).as("bb"))
      .select(col(out), col("bb.band").as("band"),
        col("bb.band_hash").as("band_hash"))
      .withColumn("band_bucket", bucketOf(col("band_hash"), buckets))

  def writeIndex(
      reference: DataFrame, idCol: String, textCol: String, dir: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      buckets: Int = DefaultBuckets
  ): Unit = {
    require(buckets >= 1, "need at least one bucket")
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes=$numHashes must divide into bands=$bands")
    val spark = reference.sparkSession
    Watermark.clear(spark, dir)
    // fresh build → fresh snapshot lineage (v1 committed below)
    Manifest.reset(spark, dir)
    spark.createDataFrame(Seq((n, numHashes, bands, buckets)))
      .toDF("n", "num_hashes", "bands", "buckets")
      .write.mode("overwrite").parquet(s"$dir/meta")
    // repartition on the bucket key first — the TextIndex lesson: without
    // it every shuffle partition writes a sliver into every bucket
    // directory (partitions × buckets small files and a file-commit storm)
    val rows =
      bandRows(reference, idCol, textCol, n, numHashes, bands, buckets, "ref_id")
    rows.repartition(col("band_bucket"))
      .write.mode("overwrite").partitionBy("band_bucket").parquet(s"$dir/bands")
    // 0-row schema sidecar (the CorpusStore/TextIndex discipline): a
    // DAY-ZERO index — the steady-state loop's bootstrap shape, built
    // before any reference doc exists — has no parquet footer to infer
    // from and the id column's type is the caller's; the sidecar keeps
    // [[probe]] well-typed so an empty index serves an empty candidate
    // set instead of throwing
    rows.limit(0).write.mode("overwrite").parquet(s"$dir/schema")
    Manifest.initFromListing(spark, dir, Seq("bands")): Unit
  }

  private val BuildFace = "BandIndex.writeIndex"

  /** The bands tree through the committed snapshot (maintenance commits
    * never invalidate an executing read — see [[Manifest]]), typed by
    * the schema sidecar so a day-zero index serves empty. */
  private def bandsFrame(spark: SparkSession, dir: String): DataFrame =
    Manifest.readSubtree(spark, dir, Manifest.live(spark, dir, BuildFace),
      "bands", Some(spark.read.parquet(s"$dir/schema").schema))

  private def storedMeta(spark: SparkSession, dir: String): (Int, Int, Int, Int) = {
    val r = spark.read.parquet(s"$dir/meta")
      .select(col("n").cast("int"), col("num_hashes").cast("int"),
        col("bands").cast("int"), col("buckets").cast("int")).head()
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
  }

  /** Incremental maintenance: add a DELTA of reference docs (ids
    * disjoint from the indexed ones — the caller's keep-set discipline,
    * e.g. a [[Dedup.mergeUpsert]] output's new keys). Costs one
    * signature pass over the BATCH; the standing band table is never
    * rewritten, and a subsequent [[probe]] is bit-identical to probing
    * a full rebuild (BandIndexSpec pins it). */
  def appendToIndex(
      delta: DataFrame, idCol: String, textCol: String, dir: String
  ): Unit = {
    val spark = delta.sparkSession
    Manifest.live(spark, dir, BuildFace): Unit // fail before writing
    val (n, numHashes, bands, buckets) = storedMeta(spark, dir)
    // before/after listing brackets the append so the manifest commit
    // adds precisely this write's files (see SeenSet.appendToSet)
    val before = Manifest.listFiles(spark, dir, "bands").toSet
    bandRows(delta, idCol, textCol, n, numHashes, bands, buckets, "ref_id")
      .repartition(col("band_bucket"))
      .write.mode("append").partitionBy("band_bucket").parquet(s"$dir/bands")
    Manifest.commitAdd(spark, dir,
      Manifest.listFiles(spark, dir, "bands").filterNot(before), Nil): Unit
  }

  /** Physically reclaim superseded bytes ([[Manifest.vacuum]]) on the
    * serving fleet's retention cadence. */
  def vacuum(spark: SparkSession, dir: String, retainVersions: Int = 0,
      orphanGraceMs: Long = 0L): Manifest.VacuumStats =
    Manifest.vacuum(spark, dir, Seq("bands"), retainVersions, orphanGraceMs)

  /** Replay-safe append for streaming maintenance (the
    * [[graft.streaming.Streaming.bandIndexMaintenance]] foreachBatch
    * body): a micro-batch id gates the append behind a high-watermark
    * marker (`watermark/`, one row), so Structured Streaming's replay
    * of the last batch after a restart is a no-op instead of a double
    * append. Returns true iff the batch was applied.
    *
    * The one unprotected window — a crash AFTER the data append but
    * BEFORE the marker advance — replays as a PHYSICAL duplicate of
    * that batch's band rows; [[probe]] collapses physical duplicates
    * before counting (the merge-on-read discipline), so the window
    * costs wasted bytes, never wrong `shared_bands`. Marker reads
    * take max(batch_id) over whatever rows exist, so a torn marker
    * overwrite degrades to a replayed (healed) append too. */
  def appendBatch(
      delta: DataFrame, idCol: String, textCol: String, dir: String,
      batchId: Long
  ): Boolean =
    MaintenanceFace.gated(delta.sparkSession, dir, batchId) {
      appendToIndex(delta, idCol, textCol, dir)
    }

  /** Compact fragmented bucket directories (see [[Compact]]) and make
    * [[probe]]'s duplicate tolerance free by removing the physical
    * duplicates a replayed [[appendBatch]] crash window leaves: the
    * served pairs are unchanged, the per-bucket scan fan-in returns
    * to one file. */
  def compact(spark: SparkSession, dir: String,
      casRetries: Int = 0): Compact.CompactStats =
    Compact.compactTree(spark, dir, BuildFace, s"$dir/bands", "band_bucket",
      dedupCols = Some(Seq("ref_id", "band", "band_hash")),
      casRetries = casRetries)

  /** Candidate (batch, reference) near-dup pairs against the persisted
    * index: the batch's band stream is computed in-flight (with the
    * INDEX's stored parameters), its distinct band buckets become a
    * literal partition predicate (batch metadata, not row data), and
    * the reference scan reads ONLY those bucket directories. Returns
    * (doc_id, ref_id, shared_bands) — exactly
    * [[Dedup.incrementalNearDup]](reference, batch, ...) at the build
    * parameters.
    *
    * Pin discipline (r17 verdict #6): the result's lineage reads a
    * batch-sized `localCheckpoint` of the band frame, reaped by the
    * ContextCleaner once the frame is garbage; a long-lived
    * serving/maintenance session should use [[probeScoped]], which
    * releases it deterministically at scope exit. */
  def probe(
      spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String
  ): DataFrame = probePinned(spark, dir, batch, idCol, textCol)._1

  /** [[probe]] with a caller scope: `consume` runs against the
    * candidate-pair frame and the probe's internal pin is released on
    * exit ([[Pin.release]]). The frame must not escape `consume`. */
  def probeScoped[A](
      spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String
  )(consume: DataFrame => A): A = {
    val (pairs, pin) = probePinned(spark, dir, batch, idCol, textCol)
    try consume(pairs) finally Pin.release(pin)
  }

  private def probePinned(
      spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String
  ): (DataFrame, DataFrame) = {
    // resolved before the batch pin below, so a manifest-less dir fails
    // with nothing to release
    val standing = bandsFrame(spark, dir)
    val (n, numHashes, bands, buckets) = storedMeta(spark, dir)
    // eager localCheckpoint: the band frame feeds TWO executions (the
    // bucket collect below and the served join) and the batch's
    // shingle/minhash projection is the probe's dominant cost — without
    // the pin it would run twice per probe
    val bb = bandRows(batch, idCol, textCol, n, numHashes, bands, buckets,
      "doc_id").localCheckpoint()
    // the probed bucket ids: one batch-sized job; a re-ingestion batch is
    // delta-sized by definition, so this collect is metadata, not corpus
    val probed = bb.select(col("band_bucket")).distinct()
      .collect().map(_.getLong(0))
    // dropDuplicates is a semantic no-op on a clean index ((ref_id, band)
    // is unique by construction) and heals the physical duplicates a
    // replayed streaming append can leave (see [[appendBatch]]); it runs
    // on the bucket-pruned sliver only. The explicit repartition keys the
    // dedup's exchange on the JOIN keys — hash on (band, band_hash)
    // clusters the (ref_id, band, band_hash) groups too, so the dedup
    // runs exchange-free on top of it and a sort-merge join reuses the
    // same partitioning: one sliver shuffle total, what the join alone
    // would cost (when AQE instead broadcasts the sliver, the exchange
    // is the broadcast's input — still one, still sliver-sized)
    val ref = standing
      .filter(col("band_bucket").isin(probed.toIndexedSeq: _*))
      .select(col("ref_id"), col("band"), col("band_hash"))
      .repartition(col("band"), col("band_hash"))
      .dropDuplicates("ref_id", "band", "band_hash")
    val pairs = bb.drop("band_bucket")
      .join(ref, Seq("band", "band_hash"))
      .groupBy("doc_id", "ref_id")
      .agg(count(lit(1)).as("shared_bands"))
    (pairs, bb)
  }
}
