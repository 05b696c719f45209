package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, id-bucketed standing corpus with DELTA-PROPORTIONAL keyed
  * maintenance — the on-disk home of the curation loop's kept set (the
  * sixth persisted family): [[graft.operators.Dedup.mergeUpsert]] and
  * the eviction anti-join give the LOGICAL upsert/delete over
  * DataFrames, but materializing their output naively rewrites the
  * whole corpus per batch — at 100 TB that is the difference between a
  * nightly job and an impossibility. Here the corpus lives
  * `partitionBy(id_bucket)` (id_bucket = pmod(xxhash64(id), buckets)),
  * and a change batch rewrites ONLY the bucket directories its ids hash
  * into: read those buckets, anti-join the change keys, union the new
  * rows, dynamic-partition-overwrite those directories. Cost per batch
  * = (touched buckets) × (bucket size), delta-proportional when buckets
  * are sized so each holds a small slice (≈ corpus_bytes / 512 MB;
  * bucket count is fixed at write time — the [[Layout.writeBucketed]]
  * caveat).
  *
  * Crash posture (single WRITER — a streaming maintenance query — by
  * contract; readers need no coordination): both
  * [[upsert]] and [[delete]] are IDEMPOTENT keyed rewrites
  * (re-applying the same batch to any half-applied state converges to
  * the same final rows), so the replay protocol is just the
  * [[Watermark]] gate. The rewrite is an ADDITIVE snapshot flip (see
  * [[rewriteKeyed]]) — new files commit, old files retire undeleted,
  * every crash window converges, and a reader in any process pinned on
  * the previous snapshot is untouched. [[applyCurationBatch]] packages
  * gate + upsert + evict + watermark as the foreachBatch body of
  * [[graft.streaming.Streaming.curateStream]].
  *
  * Key-uniqueness is the caller's contract, exactly as
  * [[graft.operators.Dedup.mergeUpsert]] documents: the standing store
  * is key-unique by construction; a change batch with two rows for one
  * key would install both (upsert has no ordering column to pick a
  * winner by). Compact CDC batches to one change per key first. */
object CorpusStore {

  val DefaultBuckets = 64

  private def bucketOf(idCol: Column, buckets: Int): Column =
    pmod(xxhash64(idCol), lit(buckets.toLong))

  /** Build the store. `df` must be key-unique on `idCol`. A 0-row
    * `schema/` sidecar pins the logical schema so reads stay well-typed
    * even when maintenance legitimately empties the store (a fully
    * drained corpus has no parquet files to infer from). */
  def write(df: DataFrame, idCol: String, dir: String,
      buckets: Int = DefaultBuckets): Unit = {
    require(buckets >= 1, "need at least one bucket")
    val spark = df.sparkSession
    Watermark.clear(spark, dir)
    // fresh build → fresh snapshot lineage (v1 committed below)
    Manifest.reset(spark, dir)
    spark.createDataFrame(Seq(Tuple1(buckets))).toDF("buckets")
      .write.mode("overwrite").parquet(s"$dir/meta")
    df.limit(0).write.mode("overwrite").parquet(s"$dir/schema")
    df.withColumn("__graft_bucket", bucketOf(col(idCol), buckets))
      .repartition(col("__graft_bucket"))
      .write.mode("overwrite").partitionBy("__graft_bucket")
      .parquet(s"$dir/rows")
    Manifest.initFromListing(spark, dir, Seq("rows")): Unit
  }

  private def storedBuckets(spark: SparkSession, dir: String): Int =
    spark.read.parquet(s"$dir/meta")
      .select(col("buckets").cast("int")).head().getInt(0)

  private def live(spark: SparkSession, dir: String): Manifest.Snapshot =
    Manifest.live(spark, dir, "CorpusStore.write")

  /** The rows of snapshot `snap` with a schema-stable `__graft_bucket:
    * long` column — read through the schema sidecar, so an emptied store
    * (an empty sliver) is an empty frame, not an inference error, and
    * the partition column's dirname-inferred int never leaks into a
    * union. */
  private def rowsFrame(spark: SparkSession, dir: String,
      snap: Manifest.Snapshot): DataFrame = {
    val logical = spark.read.parquet(s"$dir/schema")
    if (snap.under("rows").isEmpty)
      logical.withColumn("__graft_bucket", lit(null).cast("long"))
    else
      Manifest.readSubtree(spark, dir, snap, "rows", Some(logical.schema))
        .withColumn("__graft_bucket", col("__graft_bucket").cast("long"))
  }

  /** The standing corpus (layout column dropped). */
  def read(spark: SparkSession, dir: String): DataFrame =
    rowsFrame(spark, dir, live(spark, dir)).drop("__graft_bucket")

  /** TIME TRAVEL: the corpus as committed manifest version `version`
    * saw it — every keyed rewrite commits a version, so a training run
    * that records the version it read can reproduce its exact input
    * bytes later (the provenance contract data pipelines are asked for
    * first), until the operator's [[vacuum]] cadence reclaims the
    * retired files. Fails loudly on a never-committed or
    * vacuumed-away version — silently serving the nearest one would
    * forge provenance. [[graft.io.Manifest.versions]] lists the
    * horizon. */
  def readVersion(spark: SparkSession, dir: String,
      version: Long): DataFrame = {
    val snap = Manifest.at(spark, dir, version).getOrElse(sys.error(
      s"CorpusStore.readVersion($dir, $version): no such committed " +
        s"version on disk (horizon: " +
        s"${Manifest.versions(spark, dir).mkString(",")}) — it was " +
        "never committed, or vacuum reclaimed it"))
    val logical = spark.read.parquet(s"$dir/schema")
    if (snap.under("rows").isEmpty) logical
    else Manifest.readSubtree(spark, dir, snap, "rows",
      Some(logical.schema)).drop("__graft_bucket")
  }

  /** Physically reclaim non-live bytes (a torn run's orphans; the
    * store's in-place rewrites retire nothing) — [[Manifest.vacuum]]
    * on the maintenance cadence. */
  def vacuum(spark: SparkSession, dir: String, retainVersions: Int = 0,
      orphanGraceMs: Long = 0L): Manifest.VacuumStats =
    Manifest.vacuum(spark, dir, Seq("rows"), retainVersions, orphanGraceMs)

  /** Keyed upsert: `delta` rows replace same-key standing rows, new keys
    * append — [[graft.operators.Dedup.mergeUpsert]] semantics, at
    * touched-buckets cost. `delta` must share [[read]]'s schema and be
    * key-unique. */
  def upsert(delta: DataFrame, idCol: String, dir: String): Unit = {
    val spark = delta.sparkSession
    // pinned once: the change-key view and the install view below are
    // two selects off the SAME materialization, not two delta computes
    val flagged = delta.withColumn("__graft_bucket",
      bucketOf(col(idCol), storedBuckets(spark, dir))).localCheckpoint()
    try rewriteKeyed(spark, dir,
      flagged.select(col(idCol), col("__graft_bucket")), Some(flagged), idCol)
    finally Pin.release(flagged)
  }

  /** Keyed delete: standing rows whose id is in `ids` are removed;
    * absent ids are a no-op. `ids` needs only `idCol`. */
  def delete(ids: DataFrame, idCol: String, dir: String): Unit = {
    val spark = ids.sparkSession
    rewriteKeyed(spark, dir,
      ids.select(col(idCol)).withColumn("__graft_bucket",
        bucketOf(col(idCol), storedBuckets(spark, dir))),
      None, idCol)
  }

  /** The shared rewrite: `changeKeys` (id, bucket) names every key whose
    * standing row must go; `install` (full schema + bucket), when
    * present, carries the rows to put in their place — so one call
    * expresses upsert (install = change rows), delete (no install), and
    * the curation batch's combined install-some-evict-others in a
    * SINGLE pass over the touched buckets. Touched buckets = the change
    * keys' distinct buckets (metadata — at most `buckets` longs);
    * standing rows of ONLY those directories are read (partition-pruned
    * — CorpusStoreSpec pins it), change keys anti-joined away, install
    * rows unioned back. The merged sliver is pinned (localCheckpoint)
    * before the write: one derivation, and the write must not re-derive
    * its own input mid-flight.
    *
    * The rewrite is ADDITIVE (r19): the merged sliver's files append
    * into the touched bucket directories and ONE snapshot commit makes
    * them live while the buckets' previous files retire undeleted — so
    * the store's keyed maintenance is reader-invisible across
    * processes, a crash anywhere converges (orphans before the commit,
    * vacuum sweep after), the LIVE per-bucket fan-in stays at one file
    * (each rewrite's commit drops the previous), and nothing is ever
    * deleted on the write path, so there is no lost-bucket window.
    * Emptied buckets simply leave the live set; their directories are
    * pruned by the vacuum face. */
  private def rewriteKeyed(spark: SparkSession, dir: String,
      changeKeys: DataFrame, install: Option[DataFrame], idCol: String): Unit = {
    val snap = live(spark, dir)
    val keys = changeKeys.localCheckpoint()
    try {
      val touched = keys.select(col("__graft_bucket")).distinct()
        .collect().map(_.getLong(0))
      if (touched.nonEmpty) {
        val standing = rowsFrame(spark, dir, snap)
          .filter(col("__graft_bucket").isin(touched.toIndexedSeq: _*))
        val survivors = standing
          .join(keys.select(col(idCol)), Seq(idCol), "left_anti")
        val merged0 = install.fold(survivors)(survivors.unionByName(_))
        val merged = merged0.localCheckpoint()
        try {
          val before = Manifest.listFiles(spark, dir, "rows").toSet
          merged.repartition(col("__graft_bucket"))
            .write.mode("append").partitionBy("__graft_bucket")
            .parquet(s"$dir/rows")
          val added = Manifest.listFiles(spark, dir, "rows")
            .filterNot(before)
          val touchedDirs =
            touched.map(b => s"rows/__graft_bucket=$b/").toSet
          val dead = snap.under("rows")
            .filter(f => touchedDirs.exists(f.startsWith))
          Manifest.commitAdd(spark, dir, added, dead): Unit
        } finally Pin.release(merged)
      }
    } finally Pin.release(keys)
  }

  /** Watermark-gated install + evict with the keep verdict computed by
    * the CALLER — the [[graft.streaming.Streaming.steadyStateIngest]]
    * (harness #18) building block, where the quality gate runs once in
    * the composed body and serves the store AND the index appends:
    * `kept` rows install (replacing any same-key standing row),
    * `evictIds` keys are removed, all in ONE pass over the touched
    * buckets ([[rewriteKeyed]]). Same idempotence and replay posture as
    * [[applyCurationBatch]]; `kept` must share [[read]]'s schema and be
    * key-unique, `evictIds` needs only `idCol`. Returns true iff
    * applied. */
  def applyGatedBatch(kept: DataFrame, evictIds: DataFrame, idCol: String,
      dir: String, batchId: Long): Boolean = {
    val spark = kept.sparkSession
    MaintenanceFace.gated(spark, dir, batchId) {
      val buckets = storedBuckets(spark, dir)
      // pinned: the install frame's lineage executes twice below (the
      // change-key materialization and the merged-sliver one), and this
      // is a foreachBatch building block — a caller handing it the raw
      // micro-batch frame must not trigger a second source scan (the
      // applyCurationBatch discipline; r18 review finding)
      val k = kept.withColumn("__graft_bucket", bucketOf(col(idCol), buckets))
        .localCheckpoint()
      try {
        val e = evictIds.select(col(idCol))
          .withColumn("__graft_bucket", bucketOf(col(idCol), buckets))
        rewriteKeyed(spark, dir,
          k.select(col(idCol), col("__graft_bucket")).unionByName(e),
          Some(k), idCol)
      } finally Pin.release(k)
    }
  }

  /** Replay-safe streaming curation: apply one CDC micro-batch —
    * `opCol` ∈ "upsert" / "delete" — through the quality gate into the
    * store, [[graft.pipeline.DocPipeline.incrementalCurate]]'s live
    * semantics: upserted docs that PASS the gate install (replacing any
    * stale standing row), upserted docs that fail — including a NULL
    * gate verdict, the keep-IS-NOT-TRUE rule — are EVICTED (their stale
    * standing row must not survive a doc's decay), deletes evict.
    * Returns true iff applied; the [[Watermark]] gate skips a restart's
    * replayed batch, and since upsert/delete are idempotent keyed
    * overwrites, the unprotected window (changes applied, marker not
    * advanced) converges on the replayed apply. One change per key per
    * batch is the caller's CDC-compaction contract. */
  def applyCurationBatch(batch: DataFrame, opCol: String, idCol: String,
      textCol: String, dir: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    MaintenanceFace.gated(spark, dir, batchId) {
      val buckets = storedBuckets(spark, dir)
      // the batch pinned once (a streaming source is not free to rescan),
      // then the gate pinned once on top: the keep verdict computes ONCE
      // and serves both the install filter and the evict filter
      val b = batch.localCheckpoint()
      val gated = b.filter(col(opCol) === "upsert").drop(opCol)
        .withColumn("__graft_keep",
          graft.functions.TextFunctions.qualityFilter(textCol)
            .getField("keep"))
        .withColumn("__graft_bucket", bucketOf(col(idCol), buckets))
        .localCheckpoint()
      try {
        val kept = gated.filter(col("__graft_keep")).drop("__graft_keep")
        val evictKeys = b.filter(col(opCol) === "delete")
          .select(col(idCol))
          .withColumn("__graft_bucket", bucketOf(col(idCol), buckets))
          .unionByName(gated
            .filter(!coalesce(col("__graft_keep"), lit(false)))
            .select(col(idCol), col("__graft_bucket")))
        // ONE pass over the touched buckets: install the keepers, drop
        // every changed/evicted key — a bucket holding both a kept and
        // an evicted id is read and rewritten once, not twice
        rewriteKeyed(spark, dir,
          kept.select(col(idCol), col("__graft_bucket"))
            .unionByName(evictKeys),
          Some(kept), idCol)
      } finally {
        Pin.release(gated)
        Pin.release(b)
      }
    }
  }
}
