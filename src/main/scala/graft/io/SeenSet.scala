package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted URL-seen set — the crawl fleet's "have we fetched this
  * before?" membership artifact made durable (the fifth persisted index
  * family next to [[TextIndex]], the IVF/IVF+PQ layouts and
  * [[BandIndex]]): a standing set of canonical URLs lives ON DISK,
  * bucket-partitioned by a hash of the URL, with a Bloom-filter sidecar
  * so each discovery delta answers membership at scan speed and only
  * the CLAIMED sliver pays an exact confirm against only ITS bucket
  * directories.
  *
  * Reference framing: the reference engine has no crawl front end; this
  * is the LLM-pipeline component a Common-Crawl-scale acquisition loop
  * needs between discovery ([[graft.sources.Sitemaps]], w10) and
  * scheduling ([[graft.operators.Frontier]]) — a frontier that re-feeds
  * every sitemap's URL list forever without a seen gate re-fetches the
  * whole web every round.
  *
  * Layout under `dir`:
  *  - `meta/` — one row (buckets, expected_urls, fpp): probe and append
  *    resolve the layout from the index itself (the [[TextIndex]]
  *    `storedBuckets` discipline), so a mismatched caller value can
  *    never split buckets or probe wrong directories;
  *  - `bloom/` — one row holding the serialized Bloom filter over
  *    xxhash64(url), built at `expected_urls`/`fpp`; rewritten on
  *    append by merging a parameter-compatible delta filter;
  *  - `urls/` — (url), `partitionBy(url_bucket)` where url_bucket =
  *    pmod(xxhash64(url), buckets); a URL lives in exactly one
  *    directory.
  *
  * [[probeNovel]] is EXACT — bit-identical to the plain anti-join
  * `batch LEFT ANTI JOIN seen ON url` (SeenSetSpec pins it): Bloom
  * filters have no false negatives, so unclaimed rows are novel with no
  * further work, and the false positives among claimed rows are removed
  * by the string-equality confirm join. A 64-bit hash collision between
  * two distinct URLs can only ever ADD a row to the claimed sliver —
  * the confirm is on the URL string itself, so correctness never rests
  * on hash injectivity.
  *
  * At 100 TB crawl scale: the seen set is billions of URLs. The Bloom
  * sidecar costs ~1.2 bytes/URL at 1% fpp and rides the probe plan as a
  * literal (the [[graft.pipeline.KeepJoin]] driver-memory posture —
  * size `expectedUrls` with driver heap in mind; past-capacity appends
  * SATURATE the filter, degrading the prefilter's selectivity but never
  * correctness). The exact store reads `claimed buckets / buckets` of
  * its bytes per probe — size `buckets` so a directory stays near one
  * HDFS-block-ish file (≈ seen_bytes / 128 MB) and a small re-crawl
  * delta touches a small fraction of the set; the delta itself is the
  * only thing that ever shuffles. */
object SeenSet {

  val DefaultBuckets = 64
  val DefaultFpp = 0.01

  private def bucketOf(urlCol: Column, buckets: Int): Column =
    pmod(xxhash64(urlCol), lit(buckets.toLong))

  private def bloomOf(urls: DataFrame, urlCol: String,
      expected: Long, fpp: Double): org.apache.spark.util.sketch.BloomFilter = {
    val hashed = urls.select(xxhash64(col(urlCol)).as("__graft_h"))
    // df.stat.bloomFilter NPEs on a ZERO-ROW frame (null aggregate
    // buffer) — which is exactly what a fully-seen discovery batch
    // feeds back through dedupBatch→appendToSet (r18 spec finding). An
    // explicitly-created empty filter has the same (expected, fpp)
    // geometry, so sidecar merges stay bit-exact.
    if (hashed.isEmpty)
      org.apache.spark.util.sketch.BloomFilter.create(
        math.max(expected, 1L), fpp)
    else hashed.stat.bloomFilter("__graft_h", math.max(expected, 1L), fpp)
  }

  private def bloomBytes(
      bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    // presized to the filter's bit array (+64 B header slack): the
    // default-growth ByteArrayOutputStream would transiently hold ~2×
    // the filter in doubling copies at seen-set sizes
    val bos = new java.io.ByteArrayOutputStream(
      math.toIntExact(bf.bitSize() / 8L + 64L))
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** The serialized sidecar must fit a JVM byte array (and the plan
    * literal it rides in): ~`-n ln(fpp) / ln²2` bits. Named here so the
    * failure is this message at [[writeSet]] entry, not an arithmetic
    * overflow from a private helper mid-build. */
  private def requireBloomFits(expected: Long, fpp: Double): Unit = {
    val bits = (-expected * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    require(bits / 8L + 64L <= Int.MaxValue.toLong,
      s"Bloom sidecar for expectedUrls=$expected at fpp=$fpp would exceed " +
        "2 GB (the byte-array/plan-literal ceiling). Raise fpp, or shard " +
        "the seen set across several directories and union the probes.")
  }

  private def writeBloom(spark: SparkSession, dir: String,
      bytes: Array[Byte]): Unit = {
    import spark.implicits._
    Seq(bytes).toDF("bloom").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/bloom")
    // engine-owned commit gate for [[storedBloom]]'s tear detection —
    // committer-independent, unlike _SUCCESS (see [[Commit]])
    Commit.mark(spark, s"$dir/bloom")
  }

  /** Build the set from a URL frame. `expectedUrls = 0` sizes the Bloom
    * filter from the distinct count; pass the PLANNED capacity (today's
    * count plus the appends you intend) explicitly for a long-lived set,
    * since append never re-sizes the filter. */
  def writeSet(
      urls: DataFrame, urlCol: String, dir: String,
      buckets: Int = DefaultBuckets, fpp: Double = DefaultFpp,
      expectedUrls: Long = 0L
  ): Unit = {
    require(buckets >= 1, "need at least one bucket")
    require(fpp > 0 && fpp < 1, s"fpp=$fpp out of (0,1)")
    if (expectedUrls > 0L) requireBloomFits(expectedUrls, fpp)
    val spark = urls.sparkSession
    Watermark.clear(spark, dir)
    // a fresh build invalidates the previous snapshot lineage wholesale
    // (the io-family full-rebuild rule), then commits v1 below
    Manifest.reset(spark, dir)
    // eager localCheckpoint: the distinct frame feeds three executions
    // (count when auto-sizing, Bloom build, bucket write)
    val u = urls.select(col(urlCol).as("url")).distinct().localCheckpoint()
    try {
      val expected =
        if (expectedUrls > 0L) expectedUrls else math.max(u.count(), 1L)
      requireBloomFits(expected, fpp)
      spark.createDataFrame(Seq((buckets, expected, fpp)))
        .toDF("buckets", "expected_urls", "fpp")
        .write.mode("overwrite").parquet(s"$dir/meta")
      writeBloom(spark, dir, bloomBytes(bloomOf(u, "url", expected, fpp)))
      u.withColumn("url_bucket", bucketOf(col("url"), buckets))
        .repartition(col("url_bucket"))
        .write.mode("overwrite").partitionBy("url_bucket").parquet(s"$dir/urls")
      Manifest.initFromListing(spark, dir, Seq("urls")): Unit
    } finally Pin.release(u)
  }

  /** The urls tree's contract schema (url + the bucket key) — what the
    * manifest read and the day-zero guard type empty slivers with. */
  private val urlsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("url",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("url_bucket",
      org.apache.spark.sql.types.LongType)))

  private val BuildFace = "SeenSet.writeSet"

  /** The urls tree through the committed snapshot (explicit file list —
    * maintenance commits never invalidate an executing read). A DAY-ZERO
    * set (written from zero URLs — the steady-state loop's bootstrap
    * shape) has an empty sliver; the schema is fixed by contract (url
    * string + the bucket key), so it serves a typed empty frame. */
  private def urlsFrame(spark: SparkSession, dir: String): DataFrame =
    Manifest.readSubtree(spark, dir, Manifest.live(spark, dir, BuildFace),
      "urls", Some(urlsSchema))

  private def storedMeta(spark: SparkSession, dir: String): (Int, Long, Double) = {
    val r = spark.read.parquet(s"$dir/meta")
      .select(col("buckets").cast("int"), col("expected_urls").cast("long"),
        col("fpp").cast("double")).head()
    (r.getInt(0), r.getLong(1), r.getDouble(2))
  }

  /** The committed Bloom sidecar — or, when a crash tore the sidecar's
    * overwrite window (mode("overwrite") deletes the old copy before the
    * new one commits; the engine-owned [[Commit]] sentinel is the commit
    * marker), a REBUILD from `urls/`, which is the set's source of truth: inserting the same
    * element set into a same-geometry filter yields bit-identical bits
    * regardless of insertion order or batching, so the rebuilt sidecar
    * IS the lost one. The rebuild is persisted so the recovery cost (one
    * full-set scan) is paid once, and the set is never bricked by a
    * mid-append crash. */
  private def storedBloom(spark: SparkSession, dir: String): Array[Byte] = {
    // the committed read can still lose a race with a concurrent
    // writer's overwrite (delete-then-write is not atomic): a vanished
    // or torn dir falls through to the rebuild path below — the Bloom
    // is always recoverable exactly from the urls store, so a torn
    // sidecar heals instead of throwing (multi-writer mode hits this
    // window; single-writer never does)
    val committed =
      if (!Commit.isCommitted(spark, s"$dir/bloom")) None
      else try
        Some(spark.read.parquet(s"$dir/bloom").select(col("bloom")).head()
          .getAs[Array[Byte]](0))
      catch { case scala.util.control.NonFatal(_) => None }
    committed.getOrElse {
      val (_, expected, fpp) = storedMeta(spark, dir)
      val bytes = bloomBytes(bloomOf(
        urlsFrame(spark, dir).select(col("url")), "url",
        expected, fpp))
      writeBloom(spark, dir, bytes)
      bytes
    }
  }

  /** Incremental maintenance: add a delta of URLs (typically
    * [[probeNovel]]'s own output — the fetch loop's natural feedback
    * edge). Costs one delta-sized pass: delta URLs append into their
    * bucket directories and a parameter-compatible delta Bloom filter
    * merges into the sidecar (same expected/fpp ⇒ same bit geometry, so
    * `mergeInPlace` is exact). Duplicates WITHIN the delta collapse;
    * re-adding an already-seen URL is harmless for probe correctness
    * (membership joins tolerate duplicates) but wastes bucket bytes —
    * feed the novel sliver, not the raw batch.
    *
    * `casRetries` (r20): this face is a PURE APPEND — its manifest
    * commit adds only its own uniquely-named files and drops nothing,
    * and the Bloom sidecar merge is monotone — so it commutes with
    * concurrent appends and compaction, and a fleet that wants two
    * writers on one seen set (e.g. a compaction daemon beside the
    * discovery stream) may pass a retry budget instead of the default
    * loud single-maintainer failure (doc/PLANS.md r20 ledger).
    *
    * Multi-writer caveat on the add-list: the before/after listing
    * bracket below is PRECISE only under one writer — with a
    * concurrent writer, files it lands under `urls/` between the two
    * listings are adopted into THIS commit's add-list (including a
    * crashed compactor's uncommitted output, which then serves
    * alongside the files it rewrote). That is correctness-neutral
    * HERE because seen-set membership reads are duplicate-tolerant by
    * contract — but it is exactly why this casRetries pattern must
    * not be copied to a face whose reads are not, without switching
    * the add-list to a tag-scoped listing (the text index's
    * attempt-tag discipline).
    *
    * Multi-writer caveat on the BLOOM: two concurrent APPENDERS can
    * race the sidecar's read-merge-overwrite and lose each other's
    * merged bits (last writer wins) — a lost bit makes [[probeNovel]]
    * re-emit an already-seen URL as novel WITHOUT the exact confirm
    * (unclaimed rows skip it by design). For pure membership /
    * crawl-frontier use that is wasted work, nothing more; but a
    * pipeline that feeds the novel sliver into faces with a
    * DISJOINT-ID contract (the steady-state loop's text/band/vector
    * appends) must keep ONE appender per seen set — the blessed
    * two-writer fleet there is appender + compaction daemon, which
    * never touches the Bloom. [[rebuildBloom]] heals accumulated bit
    * loss exactly; run it on the daemon's cadence if two appenders
    * are unavoidable. */
  def appendToSet(delta: DataFrame, urlCol: String, dir: String,
      casRetries: Int = 0): Unit = {
    val spark = delta.sparkSession
    Manifest.live(spark, dir, BuildFace): Unit // fail before writing
    val (buckets, expected, fpp) = storedMeta(spark, dir)
    val u = delta.select(col(urlCol).as("url")).distinct().localCheckpoint()
    try {
      // bloom BEFORE urls: a crash between them leaves delta urls in the
      // filter but not the store — false positives the confirm join
      // removes; the reverse order would create false NEGATIVES and emit
      // seen URLs as novel
      val merged = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(storedBloom(spark, dir)))
      merged.mergeInPlace(bloomOf(u, "url", expected, fpp))
      writeBloom(spark, dir, bloomBytes(merged))
      // before/after listing brackets the append so the manifest commit
      // adds PRECISELY the files this write produced (never a torn
      // run's orphans — those stay invisible until vacuum)
      val before = Manifest.listFiles(spark, dir, "urls").toSet
      u.withColumn("url_bucket", bucketOf(col("url"), buckets))
        .repartition(col("url_bucket"))
        .write.mode("append").partitionBy("url_bucket").parquet(s"$dir/urls")
      Manifest.commitAdd(spark, dir,
        Manifest.listFiles(spark, dir, "urls").filterNot(before), Nil,
        casRetries): Unit
    } finally Pin.release(u)
  }

  /** Rebuild the Bloom sidecar EXACTLY from the urls store — the
    * maintenance face that heals accumulated bit loss from racing
    * appenders' last-writer-wins sidecar overwrites (see
    * [[appendToSet]]'s multi-writer caveats). Costs one pass over the
    * membership; after it, every stored URL claims again and
    * [[probeNovel]]'s wasted re-emissions stop. Idempotent; safe on
    * any cadence (a compaction daemon's is the natural one). */
  def rebuildBloom(spark: SparkSession, dir: String): Unit = {
    val (_, expected, fpp) = storedMeta(spark, dir)
    writeBloom(spark, dir, bloomBytes(bloomOf(
      urlsFrame(spark, dir).select(col("url")), "url", expected, fpp)))
  }

  /** Physically reclaim superseded bytes — retired files [[compact]]
    * left for snapshot-pinned readers plus any torn run's orphans —
    * on whatever retention cadence the serving fleet needs
    * ([[Manifest.vacuum]]). */
  def vacuum(spark: SparkSession, dir: String, retainVersions: Int = 0,
      orphanGraceMs: Long = 0L): Manifest.VacuumStats =
    Manifest.vacuum(spark, dir, Seq("urls"), retainVersions, orphanGraceMs)

  /** Compact fragmented bucket directories (one parquet file per append
    * accumulates — see [[Compact]]) and collapse the physically
    * duplicated URLs membership-idempotent re-appends leave behind:
    * membership is unchanged, probe fan-in and bytes shrink. */
  def compact(spark: SparkSession, dir: String,
      casRetries: Int = 0): Compact.CompactStats =
    Compact.compactTree(spark, dir, BuildFace, s"$dir/urls", "url_bucket",
      dedupCols = Some(Seq("url")), casRetries = casRetries)

  /** Replay-safe streaming novelty: probe the batch, EMIT the novel
    * sliver — ONE row per novel URL, an arbitrary representative when
    * the batch discovered it several times (unlike [[probeNovel]], whose
    * anti-join contract preserves batch duplicates; an emission queues a
    * fetch, and two pages linking the same target must not fetch it
    * twice) — to `novelDir/batch_id=<batchId>/`, feed it back into the
    * set, and advance the set's batch-id high-watermark — the
    * [[graft.streaming.Streaming.seenSetMaintenance]] foreachBatch
    * body. Returns true iff the batch was applied.
    *
    * The emission is EXACTLY-ONCE and the membership is exact under
    * every crash-replay interleaving, without a transaction log:
    *  - batchId ≤ watermark → the whole body is a no-op (the normal
    *    restart replay);
    *  - emit dir exists WITHOUT a commit marker (torn mid-write emit,
    *    or a crash between a completed write and the mark) → the append
    *    never ran (it only runs after a committed emit), so the set is
    *    unchanged and the probe re-computes the same novelty; the
    *    overwrite discards the earlier files;
    *  - emit dir committed (crash before/inside the append or before
    *    the marker) → the novel sliver is read BACK from the emit dir
    *    instead of re-probed — probing again would return EMPTY if the
    *    append had finished and would silently overwrite the committed
    *    emission with nothing — and re-appended: duplicate URL rows and
    *    a re-merged delta Bloom are both harmless (the anti-join
    *    tolerates duplicate seen rows; merging the same filter twice is
    *    a bitwise OR no-op), so re-running the append costs bucket
    *    bytes, never correctness.
    *
    * Cross-batch dedup falls out of the feedback edge: a URL novel in
    * batch k is in the set before batch k+1 probes, so each URL is
    * emitted exactly once, attributed to its first batch. Readers take
    * the whole `novelDir` tree (batch_id is a hive partition column). */
  def dedupBatch(
      batch: DataFrame, urlCol: String, dir: String, novelDir: String,
      batchId: Long
  ): Boolean = {
    val spark = batch.sparkSession
    MaintenanceFace.gated(spark, dir, batchId) {
      val emitDir = s"$novelDir/batch_id=$batchId"
      if (!Commit.isCommitted(spark, emitDir)) {
        // dropDuplicates on the URL: probeNovel deliberately preserves
        // batch duplicates (the anti-join contract), but the EMISSION
        // contract here is one row per novel URL — two pages discovering
        // the same target within one batch must not queue two fetches
        // (an arbitrary representative row's other columns survive)
        probeNovelScoped(spark, dir, batch, urlCol)(
          _.dropDuplicates(urlCol)
            .write.mode("overwrite").parquet(emitDir))
        Commit.mark(spark, emitDir)
      }
      val novel = spark.read.parquet(emitDir)
      appendToSet(novel, urlCol, dir)
    }
  }

  /** The rows of `batch` whose `urlCol` is NOT in the set — exactly
    * `batch LEFT ANTI JOIN seen ON url` (all batch columns survive;
    * duplicate novel URLs in the batch all return, the anti-join
    * contract). The Bloom sidecar answers most rows at scan speed via
    * the native codegen'd [[graft.functions.BloomProbe]]; only the
    * claimed sliver's distinct buckets (metadata — at most `buckets`
    * longs) become a literal partition predicate, so the exact store
    * reads only the directories a claimed URL could live in.
    *
    * Pin discipline (r17 verdict #6): the result's lineage reads a
    * delta-sized `localCheckpoint` of the flagged batch, which this
    * face cannot release (the caller hasn't consumed the result yet) —
    * it is reaped by the ContextCleaner after the frame is garbage.
    * A LONG-LIVED serving/maintenance session should use
    * [[probeNovelScoped]], which releases the pin deterministically at
    * scope exit instead of at an eventual driver GC. */
  def probeNovel(
      spark: SparkSession, dir: String,
      batch: DataFrame, urlCol: String
  ): DataFrame = probeNovelPinned(spark, dir, batch, urlCol)._1

  /** [[probeNovel]] with a caller scope: `consume` runs against the
    * novel frame, and the probe's internal pin is released on exit —
    * the [[Pin.release]] discipline the batch faces
    * use, made available to serving callers. The frame must not escape
    * `consume` (its backing blocks are gone after). */
  def probeNovelScoped[A](
      spark: SparkSession, dir: String,
      batch: DataFrame, urlCol: String
  )(consume: DataFrame => A): A = {
    val (novel, pin) = probeNovelPinned(spark, dir, batch, urlCol)
    try consume(novel) finally Pin.release(pin)
  }

  private def probeNovelPinned(
      spark: SparkSession, dir: String,
      batch: DataFrame, urlCol: String
  ): (DataFrame, DataFrame) = {
    graft.plans.GraftExtensions.register(spark)
    // resolved before the batch pin below, so a manifest-less dir fails
    // with nothing to release
    val standing = urlsFrame(spark, dir)
    val (buckets, _, _) = storedMeta(spark, dir)
    val bfBytes = storedBloom(spark, dir)
    val outCols = batch.columns.map(col).toIndexedSeq
    // eager localCheckpoint: the flagged batch feeds three executions
    // (bucket collect, the unclaimed branch, the confirm branch) and a
    // probe batch is delta-sized by definition
    val bb = batch
      .withColumn("__graft_claimed",
        call_function("bloom_probe", xxhash64(col(urlCol)), lit(bfBytes)))
      .withColumn("__graft_bucket", bucketOf(col(urlCol), buckets))
      .localCheckpoint()
    val probed = bb.filter(col("__graft_claimed"))
      .select(col("__graft_bucket")).distinct().collect().map(_.getLong(0))
    val seen = standing
      .filter(col("url_bucket").isin(probed.toIndexedSeq: _*))
      .select(col("url").as("__graft_seen_url"))
    val novel = bb.filter(!col("__graft_claimed")).select(outCols: _*)
      .unionByName(
        bb.filter(col("__graft_claimed"))
          .join(seen, col(urlCol) === col("__graft_seen_url"), "left_anti")
          .select(outCols: _*))
    (novel, bb)
  }
}
