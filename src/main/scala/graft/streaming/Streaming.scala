package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators for continuous ingest — the streaming
  * face of the engine (batch parity has no streaming surface; a live
  * training-data pipeline needs it for incremental corpus building).
  *
  *  - [[windowedAgg]]: event-time tumbling-window aggregation with a
  *    watermark bounding state (late data beyond the watermark is dropped,
  *    closed windows are emitted/evicted).
  *  - [[dedupWithinWatermark]]: streaming exact dedup — each key admitted
  *    once; state for a key is released once the watermark passes it, so
  *    state size tracks the watermark horizon, not the stream history.
  *  - [[runningStats]]: custom per-key state via `flatMapGroupsWithState`
  *    (running count/sum with processing-time timeout) — the escape hatch
  *    for state machines the built-in operators can't express.
  *
  * All operators take event-time as epoch-ms longs (the engine's timestamp
  * convention) and work identically on batch DataFrames, so unit tests and
  * backfills share the code path.
  */
object Streaming {

  /** Tumbling-window sum/mean/count per (window, feature). */
  def windowedAgg(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "feature",
      valueCol: String = "value",
      windowDuration: String = "1 hour",
      watermarkDelay: String = "10 minutes"
  ): DataFrame =
    events
      .withColumn("event_time", timestamp_millis(col(tsCol)))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowDuration), col(keyCol))
      .agg(
        sum(valueCol).as("w_sum"),
        avg(valueCol).as("w_mean"),
        count(lit(1)).as("w_count"))
      .select(
        unix_millis(col("window.start")).as("window_start"),
        col(keyCol),
        col("w_sum"), col("w_mean"), col("w_count"))

  /** Streaming exact dedup on `idCols` with watermark-bounded state. */
  def dedupWithinWatermark(
      events: DataFrame,
      idCols: Seq[String],
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"
  ): DataFrame =
    events
      .withColumn("event_time", timestamp_millis(col(tsCol)))
      .withWatermark("event_time", watermarkDelay)
      // dedup key is idCols ONLY: a re-delivery with the same ids but a
      // different event time must still be dropped (the watermark column
      // need not be part of the subset — it only bounds state retention)
      .dropDuplicatesWithinWatermark(idCols)
      .drop("event_time")

  /** Streaming sessionization — the streaming face of
    * `operators.Sessionize`: Spark's native `session_window` merges
    * events whose gaps are below `gapDuration` into one growing window
    * per key, emitting a session's stats once the watermark passes its
    * close (state is bounded by open sessions, not stream history).
    * Output mirrors `Sessionize.sessionStats` minus the per-key session
    * index (streams have no global order to number sessions by; the
    * session's start time is the stable identifier). */
  def sessionizedStats(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      gapDuration: String = "12 hours",
      watermarkDelay: String = "10 minutes"
  ): DataFrame =
    events
      .withColumn("event_time", timestamp_millis(col(tsCol)))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(session_window(col("event_time"), gapDuration), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(keyCol),
        unix_millis(col("session_window.start")).as("session_start"),
        unix_millis(col("session_window.end")).as("session_end"),
        col("n_events"))

  /** Streaming near-duplicate scan against a standing reference corpus —
    * the streaming face of [[graft.operators.Dedup.incrementalNearDup]]
    * (continuous re-ingestion dedup: every arriving document is checked
    * against the deduplicated corpus before admission). The plan is the
    * SAME MinHash band machinery, and it is streaming-legal end to end:
    * signatures/bands are native per-row projections, the band-key join
    * is a STATELESS stream-static join (the static side is re-scannable
    * per micro-batch — at 100 TB, persist the reference bands clustered
    * by band hash so each micro-batch's join prunes to the touched
    * partitions), and the (doc_id, ref_id) shared-band count is the only
    * stateful operator. Run it in update/complete output mode; state is
    * keyed by colliding pairs, which the LSH banding keeps sparse.
    *
    * StreamingSpec pins batch↔streaming parity: the final streamed
    * result equals the batch operator on the same data. */
  def nearDupAgainstReference(
      stream: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame =
    graft.operators.Dedup.incrementalNearDup(
      reference, stream, idCol, textCol, n, numHashes, bands)

  /** The crawl front end's GATE prefix as a stream — live WARC
    * acquisition: binary WARC payloads arrive continuously (a fetcher
    * fleet's output topic), and each micro-batch walks the records,
    * extracts text, and applies the language + quality gates ENTIRELY
    * STATELESSLY — [[graft.sources.Warc.records]] is a mapPartitions
    * walk and every signal is a codegen'd projection, so the stream
    * needs no watermark and no state store for the gates themselves.
    * Emits the surviving page records plus `text` and `content_hash`
    * (the [[graft.operators.Dedup]] normalized-md5 identity), so exact
    * dedup composes downstream as [[dedupWithinWatermark]] on
    * `content_hash` — first arrival keeps, state bounded by the
    * watermark horizon. Robots legality belongs UPSTREAM of the fetch
    * (the [[graft.operators.Frontier]] schedule feeds fetchers only
    * legal URLs), not in this post-hoc gate.
    *
    * Batch parity: on a batch frame this is exactly
    * [[graft.pipeline.CrawlPipeline]]'s kept set for the gate-only
    * config (robots/dedup stages off) — StreamingSpec pins it. */
  def crawlGateStream(
      warcFiles: DataFrame,
      idCol: String,
      allowedLangs: Seq[String] = Seq("en")
  ): DataFrame = {
    import graft.functions.TextFunctions
    graft.sources.Warc.records(warcFiles, idCol)
      .filter(col("record_type") === "response" &&
        col("http_body").isNotNull && col("target_uri").isNotNull)
      .withColumn("text", TextFunctions.htmlText(col("http_body")))
      .filter(length(col("text")) > 0 &&
        TextFunctions.langId("text").getField("predicted")
          .isin(allowedLangs: _*) &&
        TextFunctions.qualityFilter("text").getField("keep"))
      .withColumn("content_hash",
        md5(expr(graft.operators.Dedup.normalizedSql("text"))))
  }

  /** Incoming image payloads matched against a static reference corpus
    * by perceptual hash — the multimodal twin of
    * [[nearDupAgainstReference]]: the stream decodes + dHash60s in place
    * (stateless mapPartitions), bands join stream-static against the
    * reference's band table, and the per-(in, ref) dedup aggregation is
    * the only state (update mode, pair-sparse). Batch parity: the same
    * call on batch frames IS the batch operator (StreamingSpec pins it).
    * The static side re-plans per micro-batch — at scale, pre-hash the
    * reference ONCE (`Multimodal.imageDHash(ref, id).cache()`) and call
    * `Multimodal.hammingPairsAgainstRef` directly so each batch pays a
    * cached 16-byte-row scan, not a full re-decode of the reference. */
  def imageNearDupStream(
      stream: DataFrame,
      reference: DataFrame,
      idCol: String,
      maxHamming: Int = 3
  ): DataFrame =
    graft.operators.Multimodal.hammingPairsAgainstRef(
      graft.operators.Multimodal.imageDHash(stream, idCol),
      graft.operators.Multimodal.imageDHash(reference, idCol),
      maxHamming)

  /** Stream-stream interval join — the streaming face of
    * [[graft.operators.RangeJoin.joinPointInRange]]: point rows of `left`
    * matched to rows of `right` whose `[rightTs, rightTs + windowMs)`
    * interval contains them, on equal `keys`.
    *
    * Both sides are watermarked so Spark can BOUND the join state: a
    * buffered right row is droppable once the left watermark passes
    * `rightTs + windowMs`, a left row once the right watermark passes it
    * — without the time-range condition the state would grow forever.
    * Batch parity: the same call on batch frames returns exactly
    * [[graft.operators.RangeJoin]]'s rows (StreamingSpec pins it), so
    * backfills and live attribution share one definition. */
  def intervalJoinStreams(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      windowMs: Long,
      watermarkDelay: String = "10 minutes"
  ): DataFrame = {
    val l = left
      .withColumn("_lt", timestamp_millis(col(leftTsCol)))
      .withWatermark("_lt", watermarkDelay)
    val r = right
      .withColumn("_rt", timestamp_millis(col(rightTsCol)))
      .withWatermark("_rt", watermarkDelay)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      l("_lt") >= r("_rt") &&
      l("_lt") < r("_rt") + expr(s"INTERVAL $windowMs MILLISECONDS")
    // drop the duplicated key columns from the right side, keep payloads
    keys.foldLeft(l.join(r, cond))((d, k) => d.drop(r(k)))
      .drop("_lt").drop("_rt")
  }

  final case class KeyStats(key: String, count: Long, total: Double)

  final case class HostQueue(tail: Int, seen: Set[String])
  final case class ScheduledFetch(host: String, url: String,
    priority: Option[Long], fetch_rank: Int, scheduled_offset_sec: Long)
  /** [[ScheduledFetch]] with the per-host-delay queue's DOUBLE offset
    * (Crawl-delay is legitimately fractional — the batch dtype rule). */
  final case class ScheduledFetchD(host: String, url: String,
    priority: Option[Long], fetch_rank: Int, scheduled_offset_sec: Double)

  final case class HllRegs(regs: Map[Int, Int], n_values: Long)
  final case class KeyDistinct(
      key: String, est_distinct: Double, n_buckets: Int, n_values: Long)

  /** Running per-key DISTINCT-count estimate over a stream — the
    * HyperLogLog register frame as `flatMapGroupsWithState` state.
    *
    * The state for a key is its occupied-register map: ≤ 2^p entries
    * REGARDLESS of stream length — unlike exact streaming dedup, no
    * watermark eviction is needed to bound state, which is what makes a
    * running distinct count viable on an unbounded stream. Each batch
    * merges its rows' (bucket, rho) by max and emits the updated
    * estimate; hashing/bucketing ride [[graft.operators.Sketches
    * .hllProject]] and the estimate is [[graft.operators.Sketches
    * .estimateRegisters]], so the emitted numbers are bit-identical to
    * the batch `hllDistinct` over the same prefix (StreamingSpec pins
    * the parity). */
  def hllDistinctStream(
      events: DataFrame,
      keyCol: String,
      valueCol: String,
      p: Int = 12
  ): Dataset[KeyDistinct] = {
    val spark = events.sparkSession
    import spark.implicits._
    graft.operators.Sketches
      .hllProject(events.select(col(keyCol).cast("string").as("k"), col(valueCol)),
        Seq("k"), valueCol, p)
      .select(col("k"), col("hll_bucket").cast("int"), col("hll_rho").cast("int"))
      .as[(String, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HllRegs, KeyDistinct](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Int, Int)], state: GroupState[HllRegs]) =>
          val prev = state.getOption.getOrElse(HllRegs(Map.empty, 0L))
          val regs = scala.collection.mutable.Map.empty[Int, Int] ++ prev.regs
          var n = prev.n_values
          rows.foreach { case (_, bucket, rho) =>
            n += 1
            if (rho > regs.getOrElse(bucket, 0)) regs(bucket) = rho
          }
          state.update(HllRegs(regs.toMap, n))
          // n_values grows strictly every batch the key appears in — the
          // consumer's "which emission is latest" ordering column
          Iterator.single(KeyDistinct(key,
            graft.operators.Sketches.estimateRegisters(regs, p), regs.size, n))
      }
  }

  final case class FunnelChain(slots: Seq[Long])
  final case class UserFunnel(
      user: Long, level: Int, anchor_ms: Option[Long], depth_ms: Option[Long])

  /** The conversion funnel live — [[graft.operators.Funnel.windowFunnel]]
    * as per-user `flatMapGroupsWithState` state. State per user is the
    * k-slot chain (k = steps), CONSTANT regardless of stream length;
    * each batch sorts its own rows by (ms, type) and folds them through
    * the same greedy anchored-chain rules as the batch operator, then
    * emits the user's updated (level, anchor, depth).
    *
    * Parity contract (StreamingSpec): equal to the batch fold whenever
    * micro-batches arrive in nondecreasing event-time order per user —
    * the watermark-sorted-ingestion regime. Equal-timestamp events may
    * split across batches freely (the strict-after rule makes their
    * relative order immaterial). A genuinely late event (older than an
    * already-consumed one) is ignored by the greedy chain — the
    * documented streaming trade, same as any in-order fold. */
  def funnelStream(
      events: DataFrame,
      userCol: String,
      tsMsCol: String,
      typeCol: String,
      steps: Seq[String],
      windowMs: Long
  ): Dataset[UserFunnel] = {
    val spark = events.sparkSession
    import spark.implicits._
    val k = steps.length
    val stepIdx = steps.zipWithIndex
    events
      .filter(col(typeCol).isin(steps: _*))
      .select(col(userCol).cast("long"), col(tsMsCol).cast("long"),
        col(typeCol).cast("string"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelChain, UserFunnel](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, String)],
         state: GroupState[FunnelChain]) =>
          val chain = state.getOption
            .map(_.slots.toArray).getOrElse(Array.fill(k)(-1L))
          // within-batch sort by (ms, type): the batch operator's
          // sort_array order restricted to this batch's rows
          rows.toSeq.map { case (_, ms, et) => (ms, et) }.sorted
            .foreach { case (ms, et) =>
              // first unfilled slot whose step type matches and whose
              // predecessor chain + anchor window admit this event —
              // identical rules to the batch fold's transform lambda
              var i = 0
              var done = false
              while (i < k && !done) {
                if (chain(i) == -1L) {
                  val typeOk = stepIdx(i)._1 == et
                  val ok =
                    if (i == 0) typeOk
                    else typeOk && chain(i - 1) != -1L && ms > chain(i - 1) &&
                      ms <= chain(0) + windowMs
                  if (ok) chain(i) = ms
                  done = true // only the first unfilled slot is eligible
                }
                i += 1
              }
            }
          state.update(FunnelChain(chain.toSeq))
          val level = chain.takeWhile(_ != -1L).length
          Iterator.single(UserFunnel(user, level,
            if (level > 0) Some(chain(0)) else None,
            if (level > 0) Some(chain(level - 1)) else None))
      }
  }

  final case class UserPeriods(periods: Seq[Long])
  final case class UserRetention(user: Long, cohort_period: Long, offsets: Seq[Long])

  /** Streaming face of [[graft.operators.Retention.cohortRetention]]: per
    * user, the distinct-activity-period set as `flatMapGroupsWithState`
    * state (bounded by |active periods| — days or weeks, not events), the
    * cohort re-derived as its minimum on every emission so LATE data that
    * predates the known cohort re-anchors the user correctly (the batch
    * operator's global-min semantics, maintained incrementally). Each
    * batch a user appears in emits the user's full current retention row;
    * exploding the LATEST row per user into (cohort, offset) pairs and
    * counting users reproduces the batch matrix at every prefix — the
    * StreamingSpec parity contract. */
  def retentionStream(
      events: DataFrame,
      userCol: String,
      tsMsCol: String,
      periodMs: Long
  ): Dataset[UserRetention] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(userCol).cast("long"),
        floor(col(tsMsCol).cast("long") / periodMs).cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserPeriods, UserRetention](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[UserPeriods]) =>
          val seen = scala.collection.mutable.SortedSet.empty[Long]
          state.getOption.foreach(s => seen ++= s.periods)
          rows.foreach { case (_, p) => seen += p }
          state.update(UserPeriods(seen.toSeq))
          val cohort = seen.head
          Iterator.single(UserRetention(user, cohort, seen.toSeq.map(_ - cohort)))
      }
  }

  /** STREAMING frontier maintenance (parity harness #12) — the live
    * face of [[graft.operators.Frontier.mergeSchedule]]: discovered
    * URLs arrive as a stream, and each host's queue is
    * `flatMapGroupsWithState` state `(tail rank, seen URLs)`; a
    * micro-batch's new keys for a host are ranked priority DESC / URL
    * ASC among themselves (exactly the batch merge's delta window),
    * appended after the host's standing tail, and emitted ONCE with
    * their final `(fetch_rank, scheduled_offset_sec)` — rank/offset
    * continuity across batches, already-seen URLs dropped, a URL
    * discovered twice within one batch admitted once (max priority
    * wins). Folding the same batches through the batch operator
    * (schedule → mergeSchedule → …) yields the identical schedule
    * (StreamingSpec #12) — for the FIRST batch the identity assumes
    * `(host, url)`-unique rows, because [[Frontier.schedule]] documents
    * uniqueness as its input contract and does not dedup; the stream
    * (like [[Frontier.mergeSchedule]]) dedups every batch itself. A
    * null priority ranks LAST within its batch (Spark's DESC NULLS
    * LAST, the batch window's behavior) instead of killing the query;
    * URL ties break in UTF-8 binary order, matching the batch
    * window's UTF8String comparison, not Java's UTF-16 order.
    *
    * INTEGRAL-PRIORITY CONTRACT (the offset-dtype note's sibling): the
    * priority column is cast to LONG on ingestion — the typed state/
    * output row needs one concrete type, and every shipped frontier
    * priority is integer-valued. A fractional priority column (e.g. a
    * double score) would silently truncate here while the batch
    * operators order on the native type — pre-scale such scores to
    * integers (e.g. `round(score * 1e6)`) before feeding the stream,
    * exactly as the batch/stream parity spec does.
    *
    * State honesty at scale: the per-host seen-set grows with the
    * host's queue length — the same O(frontier) state any exact
    * URL-dedup keeps (a real crawler backs it with a disk-resident
    * store or accepts a Bloom's false-drop rate); ranks and offsets
    * are O(1) per host. Hosts are independent, so state partitions by
    * host exactly like the batch merge's exchanges. */
  def frontierStream(
      discoveries: DataFrame,
      hostCol: String,
      urlCol: String,
      priorityCol: String,
      perHostDelaySec: Int
  ): Dataset[ScheduledFetch] = {
    require(perHostDelaySec >= 0, "perHostDelaySec must be non-negative")
    val spark = discoveries.sparkSession
    import spark.implicits._
    discoveries
      .select(col(hostCol).cast("string"), col(urlCol).cast("string"),
        col(priorityCol).cast("long"))
      .as[(String, String, Option[Long])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HostQueue, ScheduledFetch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (host: String, rows: Iterator[(String, String, Option[Long])],
         state: GroupState[HostQueue]) =>
          val prev = state.getOption.getOrElse(HostQueue(0, Set.empty))
          // intra-batch dedup: max priority per URL (the batch merge's
          // intra-delta rule; max over Option = null loses to any
          // value, like SQL max), then the delta ordering — priority
          // DESC with NULLS LAST, URL ties in UTF-8 binary order (the
          // batch window's UTF8String comparison; Java's default
          // UTF-16 order disagrees above the BMP). Long.compare, not
          // negation: -Long.MinValue overflows back to itself.
          val fresh = rows.map { case (_, u, p) => (u, p) }.toSeq
            .groupBy(_._1)
            .map { case (u, ps) =>
              val vs = ps.flatMap(_._2)
              (u, if (vs.isEmpty) None else Some(vs.max))
            }
            .filterNot { case (u, _) => prev.seen(u) }
            .toSeq
            .sorted(new Ordering[(String, Option[Long])] {
              def compare(x: (String, Option[Long]),
                  y: (String, Option[Long])): Int = {
                val c = (x._2, y._2) match {
                  case (Some(a), Some(b)) => java.lang.Long.compare(b, a)
                  case (Some(_), None) => -1 // nulls last under DESC
                  case (None, Some(_)) => 1
                  case (None, None) => 0
                }
                if (c != 0) c else utf8BinaryCompare(x._1, y._1)
              }
            })
          val out = fresh.zipWithIndex.map { case ((u, p), i) =>
            val rank = prev.tail + i + 1
            ScheduledFetch(host, u, p, rank,
              (rank - 1).toLong * perHostDelaySec)
          }
          state.update(HostQueue(prev.tail + fresh.size,
            prev.seen ++ fresh.map(_._1)))
          out.iterator
      }
  }

  /** STREAMING frontier maintenance with PER-HOST politeness delays
    * (parity harness #13) — the live face of
    * [[graft.operators.Frontier.mergeScheduleWithDelays]], completing
    * the [[frontierStream]] pair the way the batch operators pair: a
    * fleet honoring robots Crawl-delay needs the HOST'S OWN delay in
    * the appended offsets, not a global constant. Discovered rows carry
    * a `delaySecCol` (host-constant, e.g. the [[graft.operators.Robots
    * .crawlDelays]] join that feeds the batch scheduler; legitimately
    * fractional, hence the double offset); intra-batch duplicates take
    * the max non-null delay exactly like the batch merge's `max`
    * carry-aggregate. Null delays follow the batch policy:
    * `defaultDelaySec = Some(d)` coalesces the crawler default, `None`
    * (the default) fails the query loudly on the first null-delay
    * append, naming the host. Ranking, dedup, rank/offset continuity,
    * UTF-8 tie order, NULLS-LAST priorities, and the integral-priority
    * contract are all [[frontierStream]]'s; folding the same batches
    * through scheduleWithDelays → mergeScheduleWithDelays yields the
    * identical schedule (StreamingSpec #13, including a delay-carrying
    * first batch). Per-host state is unchanged — (tail rank, seen set);
    * the delay is batch data, not state, exactly as in the batch merge
    * (a later batch's changed delay affects only rows appended from it,
    * never standing offsets). */
  def frontierStreamWithDelays(
      discoveries: DataFrame,
      hostCol: String,
      urlCol: String,
      priorityCol: String,
      delaySecCol: String,
      defaultDelaySec: Option[Double] = None
  ): Dataset[ScheduledFetchD] = {
    defaultDelaySec.foreach(d =>
      require(d >= 0, "defaultDelaySec must be non-negative"))
    val spark = discoveries.sparkSession
    import spark.implicits._
    discoveries
      .select(col(hostCol).cast("string"), col(urlCol).cast("string"),
        col(priorityCol).cast("long"), col(delaySecCol).cast("double"))
      .as[(String, String, Option[Long], Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HostQueue, ScheduledFetchD](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (host: String,
         rows: Iterator[(String, String, Option[Long], Option[Double])],
         state: GroupState[HostQueue]) =>
          val prev = state.getOption.getOrElse(HostQueue(0, Set.empty))
          val fresh = rows.map { case (_, u, p, dl) => (u, p, dl) }.toSeq
            .groupBy(_._1)
            .map { case (u, ps) =>
              val vs = ps.flatMap(_._2)
              val ds = ps.flatMap(_._3)
              (u, if (vs.isEmpty) None else Some(vs.max),
                if (ds.isEmpty) None else Some(ds.max))
            }
            .filterNot { case (u, _, _) => prev.seen(u) }
            .toSeq
            .sorted(new Ordering[(String, Option[Long], Option[Double])] {
              def compare(x: (String, Option[Long], Option[Double]),
                  y: (String, Option[Long], Option[Double])): Int = {
                val c = (x._2, y._2) match {
                  case (Some(a), Some(b)) => java.lang.Long.compare(b, a)
                  case (Some(_), None) => -1 // nulls last under DESC
                  case (None, Some(_)) => 1
                  case (None, None) => 0
                }
                if (c != 0) c else utf8BinaryCompare(x._1, y._1)
              }
            })
          val out = fresh.zipWithIndex.map { case ((u, p, dl), i) =>
            val delay = dl.orElse(defaultDelaySec).getOrElse(throw
              new IllegalStateException(
                s"Streaming.frontierStreamWithDelays: null delay for host " +
                  s"$host (column '$delaySecCol'); coalesce a crawler " +
                  "default upstream or pass defaultDelaySec"))
            val rank = prev.tail + i + 1
            ScheduledFetchD(host, u, p, rank, (rank - 1).toDouble * delay)
          }
          state.update(HostQueue(prev.tail + fresh.size,
            prev.seen ++ fresh.map(_._1)))
          out.iterator
      }
  }

  /** Unsigned byte-wise comparison of the UTF-8 encodings — code-point
    * order, identical to Spark's binary `UTF8String.compareTo`. */
  private def utf8BinaryCompare(a: String, b: String): Int = {
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(ab.length, bb.length)
    var i = 0
    while (i < n) {
      val c = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    ab.length - bb.length
  }

  /** STREAMING index maintenance (parity harness #14) — the live face
    * of [[graft.io.BandIndex.appendToIndex]]: a stream of KEPT documents
    * (a dedup pipeline's accepted sliver) drains into the persisted
    * MinHash band index via `foreachBatch`, so the standing corpus's
    * near-dup index stays current without ever re-deriving the standing
    * band table (the d17/ir5 steady state, live).
    *
    * Replay safety: each micro-batch routes through
    * [[graft.io.BandIndex.appendBatch]], which gates on the index's own
    * batch-id high-watermark — Structured Streaming re-runs the last
    * uncommitted batch after a restart with the SAME batchId, and the
    * gate turns that replay into a no-op. The residual crash window
    * (data appended, marker not yet advanced) leaves physical duplicate
    * band rows that [[graft.io.BandIndex.probe]] collapses before
    * counting, so end-to-end the maintained index serves EXACTLY the
    * batch-built one (StreamingSpec #14 pins stream-maintained ==
    * full-rebuild probe, replayed-batch no-op, and the healed window).
    *
    * ID discipline is the caller's, same as the batch append: streamed
    * ids must be disjoint from the already-indexed ones (feed the
    * NOVEL sliver — [[graft.io.BandIndex.probe]]'s non-matches or a
    * [[graft.operators.Dedup.mergeUpsert]] output's new keys).
    *
    * Returns the started query; pass a durable `checkpointDir` (the
    * stream's offset log — batch-id continuity across restarts is what
    * makes the watermark gate meaningful). At 100 TB the per-batch cost
    * is one batch-sized signature pass + a bucket-partitioned append,
    * reference-size-free like the batch face. */
  def bandIndexMaintenance(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      checkpointDir: String,
      compactEvery: Int = 0
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // the shared skeleton: gated apply + compaction cadence (every
        // appended batch adds a file per touched bucket; every Kth batch
        // bounds the probe fan-in at K files/bucket, replay-safe and
        // content-identical — see [[graft.io.MaintenanceFace]])
        graft.io.MaintenanceFace.step(batchId, compactEvery)(
          graft.io.BandIndex.appendBatch(batch.toDF(), idCol, textCol,
            indexDir, batchId))(
          graft.io.BandIndex.compact(batch.sparkSession, indexDir): Unit): Unit
      }
      .start()

  /** STREAMING text-index maintenance (parity harness #17) — kept docs
    * drain into the persisted inverted index via `foreachBatch` →
    * [[graft.io.TextIndex.appendBatch]], which is EXACTLY-ONCE (not
    * tolerate-and-heal like #14: a doubled posting doubles tf and a
    * doubled stats row corrupts the BM25 normalizers, so duplicates are
    * structurally impossible — attempt-tagged postings committed
    * through the manifest + a batch-scoped stats ledger row + the
    * watermark gate; the interleaving argument lives on appendBatch).
    * Same `compactEvery` cadence as the other maintenance faces. Ids
    * must be disjoint from the indexed corpus (the append contract). */
  def textIndexMaintenance(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      checkpointDir: String,
      compactEvery: Int = 0
  ): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.io.MaintenanceFace.step(batchId, compactEvery)(
          graft.io.TextIndex.appendBatch(batch.toDF(), idCol, textCol,
            indexDir, batchId))(
          graft.io.TextIndex.compact(batch.sparkSession, indexDir): Unit): Unit
      }
      .start()

  /** STREAMING discovery novelty (parity harness #15) — the live face
    * of [[graft.io.SeenSet]]: a stream of discovered URLs dedups itself
    * against the persisted seen set via `foreachBatch`, emitting each
    * URL EXACTLY ONCE (attributed to its first batch, under crash
    * replays included) into `novelDir/batch_id=<n>/` and feeding the
    * novel sliver straight back into the set — the crawl fleet's
    * discovery→novelty→fetch-queue edge with no re-fetching, live.
    *
    * All the replay machinery lives in
    * [[graft.io.SeenSet.dedupBatch]] (batch-id watermark, commit-
    * sentinel-gated emit-dir reuse, membership-idempotent re-append — see its
    * scaladoc for the interleaving-by-interleaving argument);
    * StreamingSpec #15 pins streamed emissions == the batch
    * first-occurrence fold, replayed-batch no-op, committed-emit
    * recovery, and torn-emit recomputation.
    *
    * State is the DISK-RESIDENT set, not stream state: the
    * per-host-seen problem [[frontierStream]]'s scaladoc flags as
    * O(frontier) memory is exactly what this face solves at 100 TB —
    * the stream job holds no URL state at all, and each batch pays one
    * Bloom-prefiltered probe + a delta-sized append. */
  def seenSetMaintenance(
      discoveries: DataFrame,
      urlCol: String,
      seenDir: String,
      novelDir: String,
      checkpointDir: String,
      compactEvery: Int = 0
  ): org.apache.spark.sql.streaming.StreamingQuery =
    discoveries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // the shared skeleton, compaction on the urls store
        graft.io.MaintenanceFace.step(batchId, compactEvery)(
          graft.io.SeenSet.dedupBatch(batch.toDF(), urlCol, seenDir,
            novelDir, batchId))(
          graft.io.SeenSet.compact(batch.sparkSession, seenDir): Unit): Unit
      }
      .start()

  /** STREAMING corpus curation (parity harness #16) — the w11
    * incremental-curation loop LIVE against a DISK-RESIDENT standing
    * corpus: a CDC stream of document changes (`opCol` ∈ "upsert" /
    * "delete") drains through the quality gate into a
    * [[graft.io.CorpusStore]] via `foreachBatch`, installing passing
    * upserts, evicting failing ones (keep-IS-NOT-TRUE, so a doc's decay
    * removes its stale standing row) and deletes — each batch rewrites
    * only the bucket directories its keys hash into
    * (delta-proportional, the store's whole point at 100 TB).
    *
    * Replay safety rides [[graft.io.CorpusStore.applyCurationBatch]]:
    * watermark-gated, and both store mutations are idempotent keyed
    * overwrites, so every crash interleaving converges on the replayed
    * apply. StreamingSpec #16 pins the CONVERGENCE contract — after the
    * stream drains, the store equals the batch gate applied to the
    * final snapshot from scratch — plus replayed-batch no-op and
    * crash-window re-apply. CDC batches are compacted to one change per
    * key (the store's key-uniqueness contract). */
  def curateStream(
      changes: DataFrame,
      opCol: String,
      idCol: String,
      textCol: String,
      storeDir: String,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // no compactEvery knob, deliberately (the one maintenance face
        // without it): CorpusStore's upsert/delete REWRITES each touched
        // bucket directory wholesale (read-merge-overwrite), so file
        // count per bucket never accumulates with batch count — there is
        // nothing to compact, unlike the append-only band/text/seen
        // layouts whose every batch adds a file per touched bucket
        graft.io.MaintenanceFace.step(batchId, compactEvery = 0)(
          graft.io.CorpusStore.applyCurationBatch(batch.toDF(), opCol, idCol,
            textCol, storeDir, batchId))(()): Unit
      }
      .start()

  /** STREAMING vector-index maintenance (parity harness #19) — the
    * live face of [[graft.operators.Similarity.ivfPqIndexAppend]],
    * completing the streaming-maintenance story for the LAST persisted
    * family (band #14, seen #15, store #16, text #17): a stream of new
    * embedding rows drains into the persisted IVF+PQ index via
    * `foreachBatch` → `ivfPqIndexAppendBatch` — watermark-gated, with
    * the crash window's physical duplicates collapsed by the serve path
    * (and removed for good by the compaction cadence, which dedups on
    * the vector id).
    *
    * The FAISS contract shapes what streaming can maintain: `train()`
    * stays frozen, so appends quantize against the build-time
    * artifacts and drift accumulates silently. `gaugeEvery > 0` closes
    * that loop operationally: every Kth applied batch, the batch
    * ITSELF (the most recent data — exactly where a frozen quantizer
    * drifts first) serves as both the candidate sliver and the query
    * sample for [[graft.operators.Similarity.ivfPqIndexDriftGauge]],
    * and the per-query recall rows land in `gaugeDir/batch_id=<n>` —
    * sentinel-gated: an APPLIED batch overwrites its entry
    * unconditionally (so a stale ledger from a previous stream, whose
    * batch ids restarted at 0 after a rebuild, can never serve as the
    * new index's evidence), while a replayed batch reuses a committed
    * entry and recomputes an uncommitted one (no permanent gap from a
    * crash between the watermark advance and the ledger write). The
    * stream never rebuilds — a rebuild is corpus-sized
    * and retrains, so it belongs to a maintenance window; the ledger
    * is the trigger an operator (or a scheduled job) thresholds to
    * call [[graft.operators.Similarity.ivfPqIndexRebuild]].
    *
    * Ids must be disjoint from the indexed corpus (the append
    * contract — feed a novelty-gated sliver, as #18 does for the other
    * families). At 100 TB each batch costs one batch-sized encode
    * projection + a cell-partitioned append; the gauge adds
    * batch × batch work on its cadence, never corpus-sized. */
  def vectorIndexMaintenance(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      gaugeEvery: Int = 0,
      gaugeDir: String = "",
      gaugeK: Int = 5,
      gaugeNProbe: Int = 4
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    require(gaugeEvery <= 0 || gaugeDir.nonEmpty,
      "gaugeEvery > 0 needs a gaugeDir for the recall ledger")
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF().localCheckpoint() // one source scan: append + gauge
        try vectorFaceStep(spark, b, batchId, idCol, vecCol, indexDir,
          compactEvery, gaugeEvery, gaugeDir, gaugeK, gaugeNProbe): Unit
        finally graft.io.Pin.release(b)
      }
      .start()
  }

  /** The vector face of one micro-batch — watermark-gated IVF+PQ append
    * + compaction cadence + the drift-gauge recall ledger — shared by
    * [[vectorIndexMaintenance]] (harness #19) and the composed
    * steady-state loop ([[steadyStateStep]], #18e). `b` must be pinned
    * by the caller. Returns true iff the batch applied.
    *
    * Ledger rule (two r18 review findings, one on each side):
    *  - a batch THIS invocation applied is live new work under the
    *    current stream/index — recompute and OVERWRITE unconditionally,
    *    so a stale committed entry left by a PREVIOUS stream (batch ids
    *    restart at 0 after a fresh [[graft.operators.Similarity
    *    .ivfPqIndexWrite]]) can never masquerade as this index's drift
    *    evidence;
    *  - a replayed batch (applied=false) reuses a committed entry, and
    *    recomputes an uncommitted one — the crash between the watermark
    *    advance and the ledger write no longer leaves a permanent gap
    *    (the replayed source batch is identical, so the rewrite is too).
    *
    * The gauge runs with `excludeSelf = true` (r18 advisory): the batch
    * serves as both candidate sliver and query set here, so without the
    * exclusion every query's own vector burns an approx-side slot that
    * can never be a truth hit (the exact side excludes self by
    * contract) — recall@k reads up to 1/k off purely from the overlap,
    * muting exactly the drift the ledger exists to catch. */
  private def vectorFaceStep(
      spark: SparkSession, b: DataFrame, batchId: Long,
      idCol: String, vecCol: String, indexDir: String,
      compactEvery: Int, gaugeEvery: Int, gaugeDir: String,
      gaugeK: Int, gaugeNProbe: Int): Boolean = {
    val applied = graft.io.MaintenanceFace.step(batchId, compactEvery)(
      graft.operators.Similarity.ivfPqIndexAppendBatch(b, idCol,
        vecCol, indexDir, batchId))(
      graft.operators.Similarity.ivfPqIndexCompact(spark, indexDir): Unit)
    if (gaugeEvery > 0 && (batchId + 1) % gaugeEvery == 0) {
      val ledgerDir = s"$gaugeDir/batch_id=$batchId"
      if (applied || !graft.io.Commit.isCommitted(spark, ledgerDir)) {
        graft.operators.Similarity.ivfPqIndexDriftGauge(spark,
            indexDir, b, b, idCol, vecCol, gaugeK, gaugeNProbe,
            excludeSelf = true)
          .write.mode("overwrite").parquet(ledgerDir)
        graft.io.Commit.mark(spark, ledgerDir)
      }
    }
    applied
  }

  /** The drift-gauge ledger folded into the REBUILD DECISION — the
    * operator call ir8 left as prose, as a frame (the oracle face):
    * the newest `window` COMMITTED ledger entries' per-query recalls
    * average into one row `(n_batches, n_queries, mean_recall,
    * should_rebuild)`, where should_rebuild = the window is non-empty
    * AND its mean recall sits below `threshold`. Day-zero (no committed
    * entries, or entries with zero scored queries) reads NO EVIDENCE —
    * never a rebuild trigger. Reads only the selected entries' files
    * (the ledger is batch_id-partitioned), so the decision costs
    * `window` tiny reads regardless of stream age. */
  def gaugeLedgerDecision(
      spark: SparkSession, gaugeDir: String, threshold: Double,
      window: Int = 3): DataFrame = {
    require(window >= 1, "window must be at least one ledger entry")
    val root = new org.apache.hadoop.fs.Path(gaugeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
        .filter(id => graft.io.Commit.isCommitted(spark,
          s"$gaugeDir/batch_id=$id"))
        .sorted.takeRight(window)
    val empty = spark.range(1).select(
      lit(0L).as("n_batches"), lit(0L).as("n_queries"),
      lit(null).cast("double").as("mean_recall"),
      lit(false).as("should_rebuild"))
    if (committed.isEmpty) empty
    else {
      val rows = spark.read.option("basePath", gaugeDir)
        .parquet(committed.map(id => s"$gaugeDir/batch_id=$id"): _*)
      rows.agg(
          countDistinct(col("batch_id")).as("n_batches"),
          count(lit(1)).as("n_queries"),
          round(avg(col("recall")), 4).as("mean_recall"))
        .withColumn("should_rebuild",
          col("n_queries") > 0 && col("mean_recall") < threshold)
    }
  }

  /** [[gaugeLedgerDecision]] as the boolean the maintenance window
    * acts on: rebuild ([[graft.operators.Similarity.ivfPqIndexRebuild]]
    * — a reader-invisible generation flip) when
    * the recent gauge window's mean recall decays below `threshold`. */
  def shouldRebuild(
      spark: SparkSession, gaugeDir: String, threshold: Double,
      window: Int = 3): Boolean =
    gaugeLedgerDecision(spark, gaugeDir, threshold, window)
      .select(col("should_rebuild")).head().getBoolean(0)

  /** Retention GC for the steady-state loop's own plumbing (r18 verdict
    * "what's wrong" #2): `novelDir/batch_id=*`, `.curated/batch_id=*`
    * and `gaugeDir/batch_id=*` accumulate one directory per micro-batch
    * FOREVER — they are the replay-safety substrate, so they cannot be
    * deleted casually, but at production cadence that is ~500k small
    * directories a year. An emission for batch N is REPLAY-DEAD by
    * construction once every consuming face's committed watermark is
    * strictly above N: Structured Streaming only ever replays the last
    * started batch, and every face has already applied N, so no code
    * path reads the emission again. This face deletes exactly those
    * (minus `retainTrailing` extra newest ones — give the gauge ledger
    * a window's worth of history), and is idempotent and safe on any
    * cadence. Faces that never applied anything read watermark −1, so a
    * bootstrapping loop GCs nothing. Returns the directories removed. */
  def emissionRetention(
      spark: SparkSession,
      emissionDirs: Seq[String],
      faceDirs: Seq[String],
      retainTrailing: Int = 0): Int = {
    require(faceDirs.nonEmpty, "need the consuming faces' watermarks")
    val minMark = faceDirs.map(graft.io.Watermark.read(spark, _)).min
    val cutoff = minMark - retainTrailing.toLong
    if (cutoff <= 0) return 0
    var removed = 0
    emissionDirs.foreach { d =>
      val root = new org.apache.hadoop.fs.Path(d)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root))
        fs.listStatus(root).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
          .filter(_.getPath.getName.stripPrefix("batch_id=").toLong < cutoff)
          .foreach { s => fs.delete(s.getPath, true); removed += 1 }
    }
    removed
  }

  /** Drop every ledger entry after a generation flip (#18h): committed
    * gauge rows measured the RETIRED generation's quantization, so they
    * are not evidence about the live index — leaving them would re-trip
    * [[shouldRebuild]] on every cadence until the window rolled past
    * them. Deleting (not marking) reuses the ledger's existing replay
    * rule: a replayed batch finds its entry uncommitted and recomputes
    * it against the live (new) generation. */
  private def sweepGaugeLedger(
      spark: SparkSession, gaugeDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(gaugeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .foreach(s => fs.delete(s.getPath, true): Unit)
  }

  /** STREAMING steady-state ingestion (parity harness #18) — the
    * COMPOSED fleet loop. Harnesses #14–#17 each maintain ONE persisted
    * artifact; the real steady-state shape is a single discovery stream
    * driving ALL of them per micro-batch, in one foreachBatch:
    *
    *  1. seen-set novelty ([[graft.io.SeenSet.dedupBatch]]): the batch
    *     dedups against the disk-resident URL set, the novel sliver is
    *     emitted exactly-once to `novelDir/batch_id=<n>` and fed back;
    *  2. the quality gate runs ONCE over the emitted sliver
    *     (`qualityFilter(textCol).keep`, pinned — the verdict serves
    *     every downstream face);
    *  3. the kept sliver installs into the [[graft.io.CorpusStore]] and
    *     failing ids evict ([[graft.io.CorpusStore.applyGatedBatch]] —
    *     keep-IS-NOT-TRUE, one pass over the touched buckets);
    *  4. the SAME kept sliver appends into the [[graft.io.BandIndex]]
    *     and the [[graft.io.TextIndex]] — their ids-disjoint append
    *     contract is GUARANTEED by the novelty gate: only first-seen
    *     URLs reach the appends, so an id can never arrive twice.
    *
    * Batch-read accounting: the source batch is pinned once
    * (`localCheckpoint`) and its ONLY consumer is the novelty probe —
    * every downstream face reads the EMITTED novel sliver back from
    * disk (authoritative under replay: the emit commits before the
    * seen watermark advances), so the stream source is scanned exactly
    * once per batch (StreamingSpec #18 pins it with an accumulator).
    *
    * Replay safety COMPOSES per artifact: each face keeps its own
    * batch-id watermark, so a crash between faces replays the batch
    * and every already-applied face no-ops while the rest catch up —
    * no cross-artifact transaction needed, because face order doesn't
    * matter for convergence (each consumes the same on-disk sliver).
    * StreamingSpec #18 pins: final store == the batch gate applied to
    * first-occurrence-per-URL from scratch, both index probes == full
    * rebuilds over the same kept set, a replayed batch is a whole-body
    * no-op, and a mid-crash (seen-set applied, rest not) heals.
    *
    * Caller contract: one row per (url, id) with id derived from the
    * URL (key-unique batches, the CDC-compaction discipline).
    * `compactEvery` spans the three append-maintained artifacts;
    * the store needs none (see [[curateStream]]). At 100 TB each batch
    * pays delta-proportional work only: one Bloom-prefiltered probe,
    * one gate pass, touched-bucket rewrites, two batch-sized appends.
    *
    * `nearDupMinBands > 0` adds the fourth fleet gate: kept docs probe
    * the STANDING band index and any doc sharing ≥ that many bands
    * with standing content is DROPPED (not installed, not indexed) —
    * the [[graft.operators.Dedup.incrementalNearDup]] admission rule,
    * live. Because the probe's answer depends on index state, the
    * whole gated verdict (keep flag + dup flag per novel row) is
    * EMITTED exactly-once to `<novelDir>.curated/batch_id=<n>` BEFORE
    * any face applies — a replay that lands after this batch's own
    * band append would otherwise see the batch's docs as standing
    * content and compute a DIFFERENT (smaller) sliver, desynchronizing
    * faces that had not yet applied. With the emission, every face of
    * every replay consumes the same persisted verdict. Batch-INTERNAL
    * near-dups are deliberately admitted together (the
    * incrementalNearDup batch-vs-reference contract); a replay-time
    * self-match (`ref_id == doc_id`) is filtered. */
  def steadyStateIngest(
      discoveries: DataFrame,
      urlCol: String,
      idCol: String,
      textCol: String,
      seenDir: String,
      novelDir: String,
      storeDir: String,
      bandDir: String,
      textDir: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      nearDupMinBands: Int = 0,
      qualityGate: Option[Column] = None,
      vecCol: String = "",
      vectorDir: String = "",
      gaugeEvery: Int = 0,
      gaugeDir: String = "",
      gaugeK: Int = 5,
      gaugeNProbe: Int = 4,
      rebuildThreshold: Option[Double] = None,
      rebuildWindow: Int = 3
  ): org.apache.spark.sql.streaming.StreamingQuery =
    discoveries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        steadyStateStep(batch.toDF(), batchId, urlCol, idCol, textCol,
          seenDir, novelDir, storeDir, bandDir, textDir, compactEvery,
          nearDupMinBands, qualityGate, vecCol, vectorDir, gaugeEvery,
          gaugeDir, gaugeK, gaugeNProbe, rebuildThreshold, rebuildWindow)
      }
      .start()

  /** The [[steadyStateIngest]] batch body — public so the replay specs
    * (and a batch backfill) can drive it directly with explicit batch
    * ids.
    *
    * `qualityGate` (r18 verdict "what's wrong" #3): the per-row keep
    * verdict as a Column over the novel sliver's columns — defaults to
    * [[graft.functions.TextFunctions.qualityFilter]]'s composite keep
    * at its published thresholds; pass a re-tuned gate (every curation
    * pipeline re-tunes per corpus, the [[graft.pipeline.DocPipeline]]
    * posture) without forking the loop. The keep-IS-NOT-TRUE eviction
    * rule applies to whatever gate runs.
    *
    * `vecCol` non-empty composes the VECTOR FACE (#18e) into the same
    * foreachBatch: the kept sliver's embeddings append into the
    * persisted IVF+PQ index at `vectorDir` ([[graft.operators
    * .Similarity.ivfPqIndexAppendBatch]] — the novelty gate guarantees
    * its ids-disjoint contract, exactly as for the band/text appends),
    * with harness #19's compaction cadence and drift-gauge recall
    * ledger (`gaugeEvery`/`gaugeDir`, self-matches excluded).
    *
    * `rebuildThreshold` (harness #18h) closes that loop AUTONOMICALLY:
    * on the gauge cadence the step itself thresholds the ledger's
    * newest `rebuildWindow` committed entries ([[shouldRebuild]]) and,
    * on a trip, re-trains the index on the corpus store's current
    * content at the live generation's own geometry
    * ([[graft.operators.Similarity.ivfPqIndexRetrain]]) — a
    * reader-invisible generation flip that runs BETWEEN batches of the
    * live loop (the manifest layer's point), preserves the batch-id
    * watermark, and sweeps the now-stale ledger so the retired
    * generation's drift evidence can't re-trip the next cadence.
    * Callers that prefer the maintenance-window posture leave it None
    * and threshold the ledger themselves.
    *
    * On the `compactEvery` cadence the loop also runs
    * [[emissionRetention]] over its own emission/ledger directories —
    * replay-dead batch dirs (older than every face's committed
    * watermark) are reclaimed, bounding the loop's plumbing at
    * ~cadence-many directories instead of one per batch forever; the
    * gauge ledger retains a decision window's worth extra. */
  def steadyStateStep(
      batch: DataFrame, batchId: Long,
      urlCol: String, idCol: String, textCol: String,
      seenDir: String, novelDir: String, storeDir: String,
      bandDir: String, textDir: String,
      compactEvery: Int = 0,
      nearDupMinBands: Int = 0,
      qualityGate: Option[Column] = None,
      vecCol: String = "",
      vectorDir: String = "",
      gaugeEvery: Int = 0,
      gaugeDir: String = "",
      gaugeK: Int = 5,
      gaugeNProbe: Int = 4,
      rebuildThreshold: Option[Double] = None,
      rebuildWindow: Int = 3
  ): Unit = {
    require(vecCol.isEmpty == vectorDir.isEmpty,
      "the vector face needs BOTH vecCol and vectorDir (or neither)")
    require(gaugeEvery <= 0 || (vecCol.nonEmpty && gaugeDir.nonEmpty),
      "gaugeEvery > 0 needs the vector face on and a gaugeDir")
    require(rebuildThreshold.isEmpty || gaugeEvery > 0,
      "rebuildThreshold needs the drift-gauge ledger on (gaugeEvery > 0)" +
        " — the decision thresholds its entries")
    val spark = batch.sparkSession
    // the ONE source materialization (see scan accounting above)
    val b = batch.localCheckpoint()
    try {
      graft.io.MaintenanceFace.step(batchId, compactEvery)(
        graft.io.SeenSet.dedupBatch(b, urlCol, seenDir, novelDir, batchId))(
        graft.io.SeenSet.compact(spark, seenDir): Unit): Unit
      // the emitted sliver is this batch's authoritative novel set —
      // present even when dedupBatch was a replay no-op
      val novel = spark.read.parquet(s"$novelDir/batch_id=$batchId")
      // the per-row verdict frame every face consumes: (novel columns,
      // __graft_keep, __graft_dup) — computed in-flight on the plain
      // path, persisted exactly-once on the near-dup path (its probe
      // answer depends on index state; see [[steadyStateIngest]])
      // the gate: caller-tuned, or the published-threshold default
      // (computed ONCE per batch; every face consumes the verdict)
      val gate = qualityGate.getOrElse(
        graft.functions.TextFunctions.qualityFilter(textCol)
          .getField("keep"))
      val verdicts =
        if (nearDupMinBands <= 0)
          novel.withColumn("__graft_keep", gate)
            .withColumn("__graft_dup", lit(false))
            .localCheckpoint()
        else {
          val cur = s"$novelDir.curated/batch_id=$batchId"
          if (!graft.io.Commit.isCommitted(spark, cur)) {
            val gated = novel.withColumn("__graft_keep", gate)
              .localCheckpoint()
            try {
              val kept = gated
                .filter(coalesce(col("__graft_keep"), lit(false)))
              // probe the STANDING index (this batch's own append runs
              // later); self-matches guard the replay-after-append case
              val dupIds = graft.io.BandIndex.probeScoped(spark, bandDir,
                  kept, idCol, textCol) { pairs =>
                pairs.filter(col("ref_id") =!= col("doc_id"))
                  .filter(col("shared_bands") >= nearDupMinBands)
                  .select(col("doc_id").as("__graft_dup_id")).distinct()
                  .localCheckpoint() // materialized INSIDE the scope
              }
              try gated
                .join(dupIds, col(idCol) === col("__graft_dup_id"),
                  "left")
                .withColumn("__graft_dup", col("__graft_dup_id").isNotNull)
                .drop("__graft_dup_id")
                .write.mode("overwrite").parquet(cur)
              finally graft.io.Pin.release(dupIds)
              graft.io.Commit.mark(spark, cur)
            } finally graft.io.Pin.release(gated)
          }
          spark.read.parquet(cur).localCheckpoint()
        }
      try {
        val kept = verdicts
          .filter(coalesce(col("__graft_keep"), lit(false))
            && !col("__graft_dup"))
          .drop("__graft_keep", "__graft_dup")
        // gate-failing docs evict (keep-IS-NOT-TRUE); standing-dup docs
        // only DROP — they are copies of standing content, and as novel
        // ids they have no standing row to evict
        val failedIds = verdicts
          .filter(!coalesce(col("__graft_keep"), lit(false)))
          .select(col(idCol))
        graft.io.CorpusStore.applyGatedBatch(
          kept, failedIds, idCol, storeDir, batchId): Unit
        graft.io.MaintenanceFace.step(batchId, compactEvery)(
          graft.io.BandIndex.appendBatch(kept, idCol, textCol, bandDir,
            batchId))(
          graft.io.BandIndex.compact(spark, bandDir): Unit): Unit
        graft.io.MaintenanceFace.step(batchId, compactEvery)(
          graft.io.TextIndex.appendBatch(kept, idCol, textCol, textDir,
            batchId))(
          graft.io.TextIndex.compact(spark, textDir): Unit): Unit
        // #18e: the SAME kept sliver feeds the vector index (pinned via
        // verdicts — the batch is still scanned exactly once); the
        // novelty gate guarantees the append face's ids-disjoint
        // contract, and the drift ledger rides the same cadence rules
        // as harness #19
        if (vecCol.nonEmpty) {
          vectorFaceStep(spark, kept, batchId, idCol, vecCol, vectorDir,
            compactEvery, gaugeEvery, gaugeDir, gaugeK, gaugeNProbe): Unit
          // #18h — the AUTONOMIC rebuild: on the gauge cadence (right
          // after this batch's ledger entry may have landed), threshold
          // the window; a trip re-trains on the CORPUS STORE — the
          // loop's corpus of record, whose content is by construction
          // the id set the index accumulated (every kept sliver feeds
          // both; the bootstrap corpus must too — caller contract) —
          // and generation-flips the live index READER-INVISIBLY
          // (ivfPqIndexRetrain preserves the batch-id watermark, so
          // replays of this same stream stay gated). The ledger is then
          // SWEPT: every committed entry measured the RETIRED
          // generation, and stale evidence would re-trip the rebuild on
          // every subsequent cadence. Post-sweep the decision reads
          // day-zero until fresh entries accumulate against the new
          // generation. Crash accounting: a crash between the flip and
          // the sweep replays the batch — faces no-op, the batch's
          // gauge entry is still COMMITTED (it is not recomputed; it
          // measured the retired generation), so the stale window trips
          // ONCE more — a second deterministic retrain on the same
          // corpus, wasteful never wrong — and the sweep then clears
          // it, leaving that batch with no ledger entry; rebuilds are
          // at-least-once, serving is exact throughout.
          if (rebuildThreshold.isDefined &&
              (batchId + 1) % gaugeEvery == 0 &&
              shouldRebuild(spark, gaugeDir, rebuildThreshold.get,
                rebuildWindow)) {
            val corpus = graft.io.CorpusStore.read(spark, storeDir)
              .select(col(idCol), col(vecCol))
            // trainability gate: PQ training fails loudly below `codes`
            // usable (non-null, nonzero-norm) vectors, and inside
            // foreachBatch that loud failure is a restart-replay CRASH
            // LOOP (the stale ledger re-trips every restart). The
            // corpus-wide count is EXACT against the training require
            // because the train sample drops untrainable rows before
            // its cap. A corpus the quality gate has thinned below the
            // live geometry keeps serving the old generation and
            // re-checks on the next cadence instead.
            val (dims, nCentroids, m, codes) =
              graft.operators.Similarity.ivfPqIndexGeometry(spark, vectorDir)
            val usable = corpus.filter(col(vecCol).isNotNull)
              .filter(aggregate(col(vecCol).cast("array<double>"),
                lit(0.0), (acc, x) => acc + x * x) > 0.0)
              .limit(codes).count()
            if (usable >= codes) {
              // geometry already read for the gate — the explicit
              // rebuild overload skips retrain's second meta read
              graft.operators.Similarity.ivfPqIndexRebuild(corpus, idCol,
                vecCol, vectorDir, dims, nCentroids, m, codes)
              sweepGaugeLedger(spark, gaugeDir)
            } else
              org.slf4j.LoggerFactory.getLogger("graft.streaming")
                .warn(s"autonomic rebuild of $vectorDir SKIPPED on batch " +
                  s"$batchId: drift decision tripped but the corpus of " +
                  s"record holds only $usable usable vectors (< codes=" +
                  s"$codes); serving the standing generation, re-checking " +
                  "next cadence")
          }
        }
      } finally graft.io.Pin.release(verdicts)
      // retention rides the compaction cadence: replay-dead emissions
      // (strictly below every face's committed watermark) reclaim; the
      // gauge ledger keeps a decision window's worth of extra history
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
        val faces = Seq(seenDir, storeDir, bandDir, textDir) ++
          (if (vecCol.nonEmpty) Seq(vectorDir) else Nil)
        emissionRetention(spark,
          Seq(novelDir) ++
            (if (nearDupMinBands > 0) Seq(s"$novelDir.curated") else Nil),
          faces): Unit
        if (gaugeEvery > 0)
          emissionRetention(spark, Seq(gaugeDir), faces,
            retainTrailing = gaugeEvery * 8): Unit
      }
    } finally graft.io.Pin.release(b)
  }

  /** Running per-key count/sum with custom state; emits updated stats on
    * every batch a key appears in. */
  def runningStats(
      events: DataFrame,
      keyCol: String = "feature",
      valueCol: String = "value"
  ): Dataset[KeyStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[KeyStats, KeyStats](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[KeyStats]) =>
          val prev = state.getOption.getOrElse(KeyStats(key, 0L, 0.0))
          var count = prev.count
          var total = prev.total
          rows.foreach { case (_, v) => count += 1; total += v }
          val next = KeyStats(key, count, total)
          state.update(next)
          Iterator.single(next)
      }
  }
}
