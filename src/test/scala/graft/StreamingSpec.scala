package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streaming

/** Streaming operator semantics driven through MemoryStream micro-batches:
  * watermarked window aggregation, watermark-bounded dedup, custom state. */
class StreamingSpec extends SparkSpec {

  private val H = 3600L * 1000L // one hour in ms

  test("windowed aggregation closes windows and drops late data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, Double)]
    val agg = Streaming.windowedAgg(
      input.toDF().toDF("ts", "feature", "value"),
      windowDuration = "1 hour", watermarkDelay = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win")
      .outputMode("append").start()
    try {
      // batch 1: two events in hour 0, one in hour 1
      input.addData((10L * 60 * 1000, "A", 1.0), (20L * 60 * 1000, "A", 3.0), (H + 1000, "A", 10.0))
      q.processAllAvailable()
      // batch 2: advance watermark past hour 0 (event at 2h20m)
      input.addData((2 * H + 20L * 60 * 1000, "A", 5.0))
      q.processAllAvailable()
      // batch 3: a LATE hour-0 event (beyond watermark) must be dropped
      input.addData((15L * 60 * 1000, "A", 100.0))
      q.processAllAvailable()

      val rows = spark.table("win")
        .select("window_start", "feature", "w_sum", "w_count")
        .collect().map(_.toSeq).toSet
      // hour-0 window closed with the ORIGINAL two events only
      assert(rows.contains(Seq(0L, "A", 4.0, 2L)))
      // hour-1 window may or may not have closed yet, but hour-0 must not
      // have been re-emitted with the late event
      assert(!rows.exists(r => r(0) == 0L && r(2) == 104.0))
    } finally q.stop()
  }

  test("dedupWithinWatermark admits each id once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, Double)]
    val deduped = Streaming.dedupWithinWatermark(
      input.toDF().toDF("id", "ts", "value"), Seq("id"), watermarkDelay = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData((1L, 1000L, 1.0), (2L, 2000L, 2.0), (1L, 1000L, 1.0))
      q.processAllAvailable()
      // (2L, 9000L): same id, DIFFERENT event time — still a duplicate
      input.addData((2L, 2000L, 2.0), (2L, 9000L, 2.5), (3L, 3000L, 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("id").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("file-source ingest: readStream -> windowed agg -> checkpointed parquet sink") {
    // the production-shaped path: new parquet files land in a directory,
    // the stream picks them up incrementally, state survives via the
    // checkpoint, results append to a parquet sink
    import spark.implicits._
    val root = SparkSpec.tempDir("graftstream").toString
    val (in, out, chk) = (s"$root/in", s"$root/out", s"$root/chk")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))

    def land(rows: (Long, String, Double)*): Unit =
      rows.toSeq.toDF("ts", "feature", "value")
        .coalesce(1).write.mode("append").parquet(in)

    land((10L * 60 * 1000, "A", 1.0), (20L * 60 * 1000, "A", 3.0))
    val src = spark.readStream
      .schema("ts LONG, feature STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = Streaming.windowedAgg(src, windowDuration = "1 hour",
        watermarkDelay = "10 minutes")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // second file advances the watermark past hour 0 -> window closes
      land((3 * H, "A", 5.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
        .select("window_start", "feature", "w_sum", "w_count")
        .collect().map(_.toSeq).toSet
      assert(rows.contains(Seq(0L, "A", 4.0, 2L)))
    } finally q.stop()
  }

  test("session_window merges sub-gap events and closes sessions at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long)]
    val sessions = Streaming.sessionizedStats(
      input.toDF().toDF("user_id", "ts"), keyCol = "user_id",
      gapDuration = "1 hour", watermarkDelay = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: two events 30 min apart (one session); user 2: one event
      input.addData((1L, 0L), (1L, 30L * 60 * 1000), (2L, 0L))
      q.processAllAvailable()
      // far-future event advances the watermark past both sessions' close
      input.addData((1L, 10 * H))
      q.processAllAvailable()
      val rows = spark.table("sess")
        .select("user_id", "session_start", "n_events")
        .collect().map(_.toSeq).toSet
      assert(rows.contains(Seq(1L, 0L, 2L)))  // merged: 2 events, one session
      assert(rows.contains(Seq(2L, 0L, 1L)))
    } finally q.stop()
  }

  test("streaming sessions equal batch Sessionize on the same events") {
    // THE batch<->streaming parity harness: one fixture, both engines, the
    // closed streaming sessions must be exactly the batch sessions under
    // the documented mapping (streaming session_end = batch end + gap —
    // session_window extends the window one gap past the last event).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val M = 60L * 1000L
    val gapMs = 10 * M
    // u1: two sessions (0,1m,2m | 30m,31m); u2: one singleton (5m);
    // u3: events straddling the gap boundary exactly (gap NOT exceeded at
    // == gap in batch; session_window also merges events gap apart)
    val events = Seq(
      (1L, 0L), (1L, 1 * M), (1L, 2 * M), (1L, 30 * M), (1L, 31 * M),
      (2L, 5 * M),
      (3L, 0L), (3L, gapMs))
    val batch = graft.operators.Sessionize.sessionStats(
        events.toDF("user_id", "ts"), Seq("user_id"), "ts", gapMs = gapMs)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap

    val input = MemoryStream[(Long, Long)]
    val sessions = Streaming.sessionizedStats(
      input.toDF().toDF("user_id", "ts"), keyCol = "user_id",
      gapDuration = "10 minutes", watermarkDelay = "1 minute")
    val q = sessions.writeStream.format("memory").queryName("paritysess")
      .outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData((99L, 100 * H)) // flusher: watermark past every close
      q.processAllAvailable()
      val stream = spark.table("paritysess")
        .filter(col("user_id") =!= 99L)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(stream.keySet === batch.keySet,
        s"session (key, start) sets differ: $stream vs $batch")
      stream.foreach { case (k, (endS, nS)) =>
        val (endB, nB) = batch(k)
        assert(nS === nB, s"event count differs for $k")
        assert(endS === endB + gapMs, s"end mapping differs for $k")
      }
    } finally q.stop()
  }

  test("runningStats final state equals a batch aggregation of the stream") {
    // parity harness #2: after all micro-batches, each key's latest
    // emitted state must equal the batch groupBy over the full fixture —
    // custom flatMapGroupsWithState state cannot drift from its batch
    // definition regardless of how events were batched
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      (1L, "A", 1.5), (2L, "A", 2.5), (3L, "B", 10.0),
      (4L, "A", -1.0), (5L, "C", 0.0), (6L, "B", 4.0))
    val batch = events.toDF("ts", "feature", "value")
      .groupBy("feature")
      .agg(count(lit(1)).as("count"), sum("value").as("total"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val input = MemoryStream[(Long, String, Double)]
    val stats = Streaming.runningStats(input.toDF().toDF("ts", "feature", "value"))
    val q = stats.writeStream.format("memory").queryName("rparity")
      .outputMode("append").start()
    try {
      // deliberately uneven batching, including a key split across batches
      events.grouped(2).foreach { g => input.addData(g: _*); q.processAllAvailable() }
      // latest emission per key = the one with the highest running count
      val stream = spark.table("rparity")
        .select("key", "count", "total")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, rows) =>
          val last = rows.maxBy(_._2); k -> (last._2, last._3)
        }
      assert(stream === batch)
    } finally q.stop()
  }

  test("runningStats keeps per-key state across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, Double)]
    val stats = Streaming.runningStats(input.toDF().toDF("ts", "feature", "value"))
    val q = stats.writeStream.format("memory").queryName("rstats")
      .outputMode("append").start()
    try {
      input.addData((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 10.0))
      q.processAllAvailable()
      input.addData((4L, "A", 3.0))
      q.processAllAvailable()
      val latest = spark.table("rstats").groupBy("key")
        .agg(max("count").as("count"), max("total").as("total"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(latest("A") === ((3L, 6.0)))
      assert(latest("B") === ((1L, 10.0)))
    } finally q.stop()
  }

  test("streaming exact dedup by CONTENT drops re-worded whitespace dupes") {
    // content-level streaming dedup = the batch normalizer composed with
    // dropDuplicatesWithinWatermark: the dedup key is the normalized
    // content hash, so an exact re-crawl with different ids/whitespace is
    // dropped at ingest while state stays watermark-bounded
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, String)]
    val hashed = input.toDF().toDF("doc_id", "ts", "text")
      .withColumn("content_hash",
        md5(expr(graft.operators.Dedup.normalizedSql("text"))))
    val q = Streaming.dedupWithinWatermark(hashed, Seq("content_hash"))
      .writeStream.format("memory").queryName("cdedup").outputMode("append").start()
    try {
      input.addData((1L, 1000L, "Hello  World"), (2L, 2000L, "other text"))
      q.processAllAvailable()
      input.addData((3L, 3000L, "hello world"))   // same normalized content
      input.addData((4L, 4000L, "brand new doc"))
      q.processAllAvailable()
      val kept = spark.table("cdedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("curation gate runs stateless on a stream, matching its batch face") {
    // the quality gate is a pure projection, so it composes with
    // readStream unchanged (curation-at-ingest); parity harness #3:
    // streamed decisions == batch decisions on the same fixture,
    // regardless of micro-batching
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val texts = Seq(
      (1L, "too short"),
      (2L, "the quick brown fox jumps over a lazy dog of and in on is with " +
        "for to near far up down left right under above beyond across through " +
        "around between"),
      (3L, ("spam " * 40).trim))
    val gate = (d: org.apache.spark.sql.DataFrame) =>
      d.select(col("doc_id"), graft.functions.TextFunctions.qualityFilter("text").as("q"))
        .select(col("doc_id"), col("q.keep").as("keep"))
    val batch = gate(texts.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap

    val input = MemoryStream[(Long, String)]
    val q = gate(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qgate").outputMode("append").start()
    try {
      texts.grouped(1).foreach { g => input.addData(g: _*); q.processAllAvailable() }
      val stream = spark.table("qgate")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(stream === batch)
      assert(batch(2L) === true && batch(1L) === false && batch(3L) === false)
    } finally q.stop()
  }

  test("streaming crawl gates equal the batch CrawlPipeline kept set (#11)") {
    // live WARC acquisition: the gate prefix (record walk -> extraction
    // -> language -> quality) is stateless, so it runs unchanged on a
    // payload stream; composing dedupWithinWatermark(content_hash) then
    // gives first-arrival exact dedup. Parity: streamed survivors ==
    // CrawlPipeline's kept ids for the gate-only config on the same
    // bytes, regardless of micro-batching.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def page(uri: String, body: String): graft.sources.Warc.WarcRecord =
      graft.sources.Warc.WarcRecord("response", Some(uri),
        Some("2024-01-01T00:00:00Z"),
        Some("application/http; msgtype=response"),
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          s"<html><body><p>$body</p></body></html>").getBytes("UTF-8"))
    val good = "the small cat and the old dog walk over the green hill " +
      "and they see some birds fly past the tall trees near the lake"
    val other = "a big red ball rolls down the long road and the kids " +
      "run after it with joy as the sun sets over the quiet town"
    val fr = "le chat est sur le mur et le chien est dans le jardin " +
      "avec les fleurs du printemps"
    val files = Seq(
      (0L, graft.sources.Warc.build(Seq(page("http://x.com/p0", good)))),
      (1L, graft.sources.Warc.build(Seq(page("http://x.com/p1", fr)))),    // lang
      (2L, graft.sources.Warc.build(Seq(page("http://x.com/p2", "spam")))), // quality
      (3L, graft.sources.Warc.build(Seq(page("http://x.com/p3", other)))),
      (4L, graft.sources.Warc.build(Seq(page("http://x.com/p4", good)))))  // content dup of 0
    val batch = graft.pipeline.CrawlPipeline.run(
        files.toDF("doc_id", "payload"), "doc_id", None,
        graft.pipeline.CrawlPipelineConfig(robotsGate = false,
          dedupExact = false, dedupNear = false))
      .kept.select("id").collect().map(_.getLong(0)).toSet
    assert(batch === Set(0L, 3L, 4L)) // gates only: the dup survives

    val input = MemoryStream[(Long, Array[Byte])]
    val gated = Streaming.crawlGateStream(
      input.toDF().toDF("doc_id", "payload"), "doc_id")
    val deduped = Streaming.dedupWithinWatermark(
      gated.withColumn("ts", (col("id") + 1L) * 1000L), Seq("content_hash"))
    val q = deduped.select("id")
      .writeStream.format("memory").queryName("crawlgate")
      .outputMode("append").start()
    try {
      files.grouped(2).foreach { g => input.addData(g: _*); q.processAllAvailable() }
      val kept = spark.table("crawlgate").collect().map(_.getLong(0)).toSet
      // gates match the batch pipeline; the composed content dedup then
      // drops the re-crawl (4 repeats 0's text, first arrival keeps)
      assert(kept === Set(0L, 3L))
    } finally q.stop()
  }

  test("streaming IMAGE near-dup against a reference equals the batch operator") {
    // parity harness #10: the multimodal twin of the text harness —
    // decode + dHash60 runs stateless on the stream, bands join
    // stream-static, the pair dedup aggregation runs in complete mode;
    // micro-batch boundaries must not change the result
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def gray(l: Int): Int = (l << 16) | (l << 8) | l
    // an 11x6 PNG whose dHash60 has exactly `bits` (the pixel-spec trick)
    def img(bits: Set[Int]): Array[Byte] = {
      val luma = Array.ofDim[Int](6, 11)
      for (y <- 0 until 6) {
        luma(y)(0) = 30
        for (x <- 0 until 10)
          luma(y)(x + 1) = luma(y)(x) - (if (bits(y * 10 + x)) 1 else 0)
      }
      graft.operators.Multimodal.encodePng(11, 6, (x, y) => gray(luma(y)(x)))
    }
    val far = (0 until 60 by 2).toSet // 30 bits away from everything below
    val reference = Seq((100L, img(Set(5))), (101L, img(Set(10, 20))))
      .toDF("doc_id", "payload")
    val arriving = Seq(
      (1L, img(Set(5))),          // identical to ref 100
      (2L, img(Set(5, 7, 9))),    // 2 flips from ref 100
      (3L, img(far)),             // unrelated
      (4L, "not an image".getBytes("UTF-8")))
    val batch = graft.operators.Multimodal.hammingPairsAgainstRef(
        graft.operators.Multimodal.imageDHash(
          arriving.toDF("doc_id", "payload"), "doc_id"),
        graft.operators.Multimodal.imageDHash(reference, "doc_id"))
      .select("in_id", "ref_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // arrival 1 (bits {5}) is ALSO hamming 3 from ref 101 (bits {10,20})
    // — {5,10,20} differ, bands 2-3 untouched, so the candidate exists
    assert(batch === Set((1L, 100L, 0), (1L, 101L, 3), (2L, 100L, 2)))

    val input = MemoryStream[(Long, Array[Byte])]
    val q = Streaming.imageNearDupStream(
        input.toDF().toDF("doc_id", "payload"), reference, "doc_id")
      .select("in_id", "ref_id", "hamming")
      .writeStream.format("memory").queryName("imgdup")
      .outputMode("complete").start()
    try {
      arriving.grouped(2).foreach { g => input.addData(g: _*); q.processAllAvailable() }
      val stream = spark.table("imgdup")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(stream === batch)
    } finally q.stop()
  }

  test("streaming near-dup against a reference equals the batch operator") {
    // parity harness #4: the d17 plan run as a stream — stateless
    // stream-static band join + pair-count aggregation in complete mode;
    // micro-batch boundaries must not change the result
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val reference = docs.filter(col("doc_id") < 250)
    val arriving = docs.filter(col("doc_id") >= 250)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batch = graft.operators.Dedup.incrementalNearDup(
        reference, arriving.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val input = MemoryStream[(Long, String)]
    val q = Streaming.nearDupAgainstReference(
        input.toDF().toDF("doc_id", "text"), reference, "doc_id", "text")
      .writeStream.format("memory").queryName("ndup").outputMode("complete").start()
    try {
      // three uneven micro-batches
      arriving.grouped(math.max(1, arriving.size / 3)).foreach { g =>
        input.addData(g: _*); q.processAllAvailable()
      }
      val stream = spark.table("ndup")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(stream === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch range join") {
    // parity harness #6: watermarked stream-stream join with a time-range
    // condition == RangeJoin.joinPointInRange on the same data — live
    // attribution and batch backfill share one definition
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val clicks = Seq.tabulate(300)(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(500) * H / 10, i))      // (user, ts, cid)
    val purchases = Seq.tabulate(80)(j =>
      (rnd.nextInt(20).toLong, rnd.nextInt(500) * H / 10, j + 1000)) // (user, ts, pid)
    val batch = graft.operators.RangeJoin.joinPointInRange(
        clicks.toDF("user_id", "ts", "cid"),
        purchases.toDF("user_id", "pts", "pid")
          .withColumn("lo", col("pts")).withColumn("hi", col("pts") + lit(24 * H)),
        Seq("user_id"), "ts", "lo", "hi", binWidth = 24 * H)
      .select("cid", "pid")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet

    val lIn = MemoryStream[(Long, Long, Int)]
    val rIn = MemoryStream[(Long, Long, Int)]
    // delay wider than the fixture's 50 h span: timestamps arrive in
    // random order here, so a tight watermark would drop "late" rows the
    // batch join keeps — the delay is the state-size/completeness knob,
    // and parity is only promised for data inside it
    val joined = Streaming.intervalJoinStreams(
      lIn.toDF().toDF("user_id", "ts", "cid"),
      rIn.toDF().toDF("user_id", "pts", "pid"),
      Seq("user_id"), "ts", "pts", windowMs = 24 * H,
      watermarkDelay = "100 hours")
    val q = joined.select("cid", "pid")
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      // uneven micro-batches on both sides, interleaved
      val lB = clicks.grouped(120).toSeq
      val rB = purchases.grouped(30).toSeq
      for (i <- 0 until math.max(lB.size, rB.size)) {
        lB.lift(i).foreach(g => lIn.addData(g: _*))
        rB.lift(i).foreach(g => rIn.addData(g: _*))
        q.processAllAvailable()
      }
      val stream = spark.table("ivj")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(stream === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming cube maintenance: the SAME aggregatePartial runs as a stream") {
    // parity harness #7: Temporal.aggregatePartial is a pure
    // projection + keyed aggregation, so the identical operator code
    // runs under Structured Streaming in Complete mode — after every
    // micro-batch the emitted cube equals the batch partial over the
    // prefix consumed so far (bit-exact: integer-valued measures)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val all = Seq.tabulate(300)(i =>
      (ts("2020-01-01") + rnd.nextInt(90) * 86400000L,
        s"F${rnd.nextInt(3)}", (rnd.nextInt(20) + 1).toDouble))
    val input = MemoryStream[(Long, String, Double)]
    val q = graft.operators.Temporal.aggregatePartial(
        input.toDF().toDF("timestamp", "feature", "value"), "month")
      .writeStream.format("memory").queryName("cube").outputMode("complete").start()
    try {
      var prefix = Seq.empty[(Long, String, Double)]
      for (g <- all.grouped(110)) {
        prefix = prefix ++ g
        input.addData(g: _*); q.processAllAvailable()
        val streamed = rowSet(spark.table("cube"))
        val batch = rowSet(graft.operators.Temporal.aggregatePartial(
          prefix.toDF("timestamp", "feature", "value"), "month"))
        assert(streamed === batch)
      }
    } finally q.stop()
  }

  test("streaming CMS counters: the SAME cmsCounters aggregation runs as a stream") {
    // parity harness #8: the count-min counter frame is a keyed
    // aggregation over a projection, so the identical operator streams
    // in Complete mode — d*w counters of state no matter how long the
    // stream runs, and every prefix's counters equal the batch sketch
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val all = Seq.tabulate(4000)(_ => s"tok-${rnd.nextInt(300)}")
    val input = MemoryStream[String]
    val q = graft.operators.Sketches.cmsCounters(
        input.toDF().toDF("t"), "t", d = 4, w = 64)
      .writeStream.format("memory").queryName("cms").outputMode("complete").start()
    try {
      var prefix = Seq.empty[String]
      for (g <- all.grouped(1500)) {
        prefix = prefix ++ g
        input.addData(g: _*); q.processAllAvailable()
        val streamed = rowSet(spark.table("cms"))
        val batch = rowSet(graft.operators.Sketches.cmsCounters(
          prefix.toDF("t"), "t", d = 4, w = 64))
        assert(streamed === batch)
      }
    } finally q.stop()
  }

  test("streaming funnel equals batch windowFunnel after every in-order prefix") {
    // parity harness #6: the k-slot chain as flatMapGroupsWithState
    // state (constant per user); micro-batches delivered in event-time
    // order, split at arbitrary points, with equal-ts events straddling
    // a batch boundary on purpose
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val steps = Seq("view", "click", "purchase")
    val rnd = new scala.util.Random(7)
    val all = Seq.tabulate(400) { i =>
      (rnd.nextInt(12).toLong, (i / 2).toLong * 10, // paired equal timestamps
        steps(rnd.nextInt(3)))
    }.sortBy(t => (t._2, t._3))
    val input = MemoryStream[(Long, Long, String)]
    val q = Streaming.funnelStream(
        input.toDF().toDF("user_id", "ts_ms", "event_type"),
        "user_id", "ts_ms", "event_type", steps, windowMs = 500L)
      .writeStream.format("memory").queryName("funnel").outputMode("append").start()
    try {
      def latest(): Map[Long, (Int, Any, Any)] = spark.table("funnel")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.get(2), r.get(3)))
        .groupBy(_._1)
        // level is nondecreasing; the latest emission has the max level
        // (ties identical because state only grows)
        .map { case (u, rows) => u -> { val m = rows.maxBy(_._2); (m._2, m._3, m._4) } }
      val batches = all.grouped(123).toSeq
      var prefix = Seq.empty[(Long, Long, String)]
      for (g <- batches) {
        prefix = prefix ++ g
        input.addData(g: _*); q.processAllAvailable()
        val batch = graft.operators.Funnel.windowFunnel(
            prefix.toDF("user_id", "ts_ms", "event_type"),
            "user_id", col("ts_ms"), "event_type", steps, 500L)
          .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.get(2), r.get(3))))
          .toMap
        assert(latest() === batch)
      }
    } finally q.stop()
  }

  test("streaming retention equals batch cohortRetention after every prefix") {
    // parity harness #9: per-user distinct-period state; batches split at
    // arbitrary points INCLUDING late data that predates a user's known
    // cohort (user 3's period-0 event arrives after its period-2 one), so
    // the re-anchoring path is exercised, not just the in-order path
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val all = Seq(
      (1L, 5L), (2L, 15L), (1L, 15L),          // batch 1
      (3L, 25L), (1L, 35L), (2L, 15L),         // batch 2 (dup activity)
      (3L, 5L), (4L, 35L), (1L, 7L)            // batch 3 (user 3 late cohort)
    )
    val input = MemoryStream[(Long, Long)]
    val q = Streaming.retentionStream(
        input.toDF().toDF("user_id", "ts_ms"), "user_id", "ts_ms", periodMs = 10L)
      .writeStream.format("memory").queryName("retention").outputMode("append").start()
    try {
      def latestMatrix(): Map[(Long, Long), Long] = {
        val rows = spark.table("retention").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        rows.groupBy(_._1)
          // the latest emission has the largest period set; sets only grow
          .map { case (_, v) => v.maxBy(_._3.length) }
          .toSeq.flatMap { case (_, c, offs) => offs.map(o => (c, o)) }
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      }
      var prefix = Seq.empty[(Long, Long)]
      for (g <- all.grouped(3)) {
        prefix = prefix ++ g
        input.addData(g: _*); q.processAllAvailable()
        val batch = graft.operators.Retention.cohortRetention(
            prefix.toDF("user_id", "ts_ms"), "user_id", col("ts_ms"), periodMs = 10L)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(latestMatrix() === batch)
      }
    } finally q.stop()
  }

  test("streaming HLL distinct equals batch hllDistinct after every prefix") {
    // parity harness #5: the register frame as flatMapGroupsWithState
    // state — per-key state is <= 2^p registers regardless of stream
    // length (no watermark eviction needed), and each batch's emitted
    // estimate must be BIT-identical to batch hllDistinct over the
    // prefix consumed so far
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val all = Seq.tabulate(6000)(i =>
      (s"lang${i % 3}", s"tok-${rnd.nextInt(2000)}"))
    val input = MemoryStream[(String, String)]
    val q = Streaming.hllDistinctStream(
        input.toDF().toDF("lang", "t"), "lang", "t")
      .writeStream.format("memory").queryName("hll").outputMode("append").start()
    try {
      // latest emission per key = the one with the highest n_values
      // (strictly increasing every batch a key appears in)
      def latest(): Map[String, Double] = spark.table("hll")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(3)))
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._3)._2 }
      val batches = all.grouped(2500).toSeq
      var prefix = Seq.empty[(String, String)]
      for (g <- batches) {
        prefix = prefix ++ g
        input.addData(g: _*); q.processAllAvailable()
        val batchEst = graft.operators.Sketches
          .hllDistinct(prefix.toDF("lang", "t"), Seq("lang"), "t")
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(latest() === batchEst)
      }
      // sanity: the estimates track the true per-key distinct within 3 se
      val exact = prefix.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
      val fin = latest()
      exact.foreach { case (k, n) =>
        assert(math.abs(fin(k) - n) / n < 3 * 0.0163, s"$k: ${fin(k)} vs $n")
      }
    } finally q.stop()
  }

  test("streaming frontier equals the batch mergeSchedule fold (#12)") {
    // live frontier maintenance: each micro-batch of discovered URLs
    // appends after the host's standing tail exactly like one batch
    // mergeSchedule round — rank/offset continuity across batches,
    // seen-URL drops, intra-batch max-priority dedup. Parity: streamed
    // emissions == schedule(batch1) folded through mergeSchedule for
    // every later batch.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val batches = Seq(
      Seq(("a.com", "http://a.com/q2", Some(3L)),
        ("a.com", "http://a.com/q1", Some(5L)),
        ("b.com", "http://b.com/q1", Some(1L))),
      Seq(("a.com", "http://a.com/n1", Some(9L)), // higher than anything queued
        ("a.com", "http://a.com/q1", Some(99L)),  // seen: dropped
        ("a.com", "http://a.com/n2", Some(2L)),
        ("a.com", "http://a.com/n2", Some(7L)),   // intra-batch dup: max wins
        ("c.com", "http://c.com/x", Some(4L))),
      Seq(("b.com", "http://b.com/q2", Some(8L)),
        ("b.com", "http://b.com/null", None),     // null priority: ranks last
        ("a.com", "http://a.com/n1", Some(1L))))  // seen from batch 2: dropped
    val input = MemoryStream[(String, String, Option[Long])]
    val q = Streaming.frontierStream(
        input.toDF().toDF("host", "url", "priority"),
        "host", "url", "priority", perHostDelaySec = 2)
      .writeStream.format("memory").queryName("frontier")
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      def row(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3), r.getLong(4))
      val streamed = spark.table("frontier").collect().map(row).toSet
      // the batch fold over the same micro-batches, in order
      var folded = graft.operators.Frontier.schedule(
        batches.head.toDF("host", "url", "priority"),
        "host", "url", "priority", 2)
      batches.tail.foreach { b =>
        folded = graft.operators.Frontier.mergeSchedule(
          folded.localCheckpoint(),
          b.toDF("host", "url", "priority"), "host", "url", "priority", 2)
      }
      val batchSet = folded
        .select("host", "url", "priority", "fetch_rank", "scheduled_offset_sec")
        .collect().map(row).toSet
      assert(streamed === batchSet)
      // the null-priority discovery ranked LAST on its host, not first
      assert(streamed.contains(("b.com", "http://b.com/null", -1L, 3, 4L)))
      // spot-check the continuity the parity implies: a.com's batch-2
      // high-priority URL ranks AFTER the standing tail, never displaces
      assert(streamed.contains(("a.com", "http://a.com/n1", 9L, 3, 4L)))
    } finally q.stop()
  }

  test("streaming per-host-delay frontier equals the batch fold (#13)") {
    // the w9 semantics live: appended offsets continue with the HOST'S
    // OWN delay (fractional on a.com, integral on b.com, missing on
    // c.com -> the crawler default), across uneven micro-batches with a
    // delay-carrying FIRST batch. Parity: streamed emissions ==
    // scheduleWithDelays(batch1) folded through mergeScheduleWithDelays.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val batches = Seq(
      Seq(("a.com", "http://a.com/q1", Some(5L), Some(2.5)),
        ("a.com", "http://a.com/q2", Some(3L), Some(2.5)),
        ("b.com", "http://b.com/q1", Some(1L), Some(7.0)),
        ("c.com", "http://c.com/q1", Some(4L), None)), // default applies
      Seq(("a.com", "http://a.com/n1", Some(9L), Some(2.5)),
        ("a.com", "http://a.com/q1", Some(99L), Some(2.5)), // seen: dropped
        ("a.com", "http://a.com/n2", Some(2L), Some(2.5)),
        ("a.com", "http://a.com/n2", Some(7L), Some(2.5)), // dup: max wins
        ("c.com", "http://c.com/x", Some(6L), None)),
      Seq(("b.com", "http://b.com/q2", Some(8L), Some(7.0)),
        ("b.com", "http://b.com/null", None, Some(7.0)))) // null priority last
    val input = MemoryStream[(String, String, Option[Long], Option[Double])]
    val q = Streaming.frontierStreamWithDelays(
        input.toDF().toDF("host", "url", "priority", "delay_sec"),
        "host", "url", "priority", "delay_sec", defaultDelaySec = Some(1.0))
      .writeStream.format("memory").queryName("frontier_d")
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      def row(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3), r.getDouble(4))
      val streamed = spark.table("frontier_d").collect().map(row).toSet
      var folded = graft.operators.Frontier.scheduleWithDelays(
        batches.head.toDF("host", "url", "priority", "delay_sec"),
        "host", "url", "priority", "delay_sec", defaultDelaySec = Some(1.0))
      batches.tail.foreach { b =>
        folded = graft.operators.Frontier.mergeScheduleWithDelays(
          folded.select("host", "url", "priority", "fetch_rank",
            "scheduled_offset_sec").localCheckpoint(),
          b.toDF("host", "url", "priority", "delay_sec"),
          "host", "url", "priority", "delay_sec",
          defaultDelaySec = Some(1.0))
      }
      val batchSet = folded
        .select("host", "url", "priority", "fetch_rank", "scheduled_offset_sec")
        .collect().map(row).toSet
      assert(streamed === batchSet)
      // the fractional delay visible in a continued offset: a.com rank 3
      // appended at (3-1)*2.5 = 5.0 — truncation to long would read 4
      assert(streamed.contains(("a.com", "http://a.com/n1", 9L, 3, 5.0)))
      // the defaulted host continued with the default, not a null offset
      assert(streamed.contains(("c.com", "http://c.com/x", 6L, 2, 1.0)))
      // null priority ranked last on its host, offset with the host delay
      assert(streamed.contains(("b.com", "http://b.com/null", -1L, 3, 14.0)))
    } finally q.stop()
  }

  test("per-host-delay frontier stream fails loudly on a null delay (#13)") {
    // the batch null-delay policy, streamed: no default -> the query dies
    // naming the host instead of emitting a null/zero offset
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, String, Option[Long], Option[Double])]
    val q = Streaming.frontierStreamWithDelays(
        input.toDF().toDF("host", "url", "priority", "delay_sec"),
        "host", "url", "priority", "delay_sec")
      .writeStream.format("memory").queryName("frontier_dx")
      .outputMode("append").start()
    try {
      input.addData(("d.com", "http://d.com/p", Some(1L), None))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("null delay for host d.com")),
        s"unexpected failure chain: ${messages(e)}")
    } finally q.stop()
  }

  test("streaming band-index maintenance equals the batch-built index (#14)") {
    // the d17/ir5 steady state LIVE: kept docs stream into the persisted
    // band index via foreachBatch; after draining, a probe against the
    // maintained index must equal one against a from-scratch full
    // rebuild bit-for-bit, a replayed batch id must be a no-op (the
    // restart contract), and the one unprotected crash window (data
    // appended, marker not advanced) must be HEALED by probe's
    // duplicate collapse, not just rare.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.BandIndex
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ixDir = SparkSpec.tempDir("graft-sband").toString
    val ckDir = SparkSpec.tempDir("graft-sband-ck").toString
    BandIndex.writeIndex(docs.filter(col("doc_id") < 100), "doc_id", "text",
      ixDir, n = 3, numHashes = 64, bands = 16)
    val rows = docs.filter(col("doc_id") >= 100 && col("doc_id") < 250)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val batches = Seq(rows.take(30), rows.slice(30, 100), rows.drop(100))
    val input = MemoryStream[(Long, String)]
    val q = Streaming.bandIndexMaintenance(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", ixDir, ckDir)
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()

    val probeBatch = docs.filter(col("doc_id") >= 250)
    val rbDir = SparkSpec.tempDir("graft-sband-rb").toString
    BandIndex.writeIndex(docs.filter(col("doc_id") < 250), "doc_id", "text",
      rbDir, n = 3, numHashes = 64, bands = 16)
    val rebuilt = rowSet(BandIndex.probe(spark, rbDir, probeBatch, "doc_id", "text"))
    assert(rebuilt.nonEmpty, "fixture degenerate: no candidate pairs")
    assert(rowSet(BandIndex.probe(spark, ixDir, probeBatch, "doc_id", "text"))
      === rebuilt, "stream-maintained probe must equal the full rebuild")

    // restart replay: the last committed batch id re-applied is a no-op
    val bandRows0 = spark.read.parquet(s"$ixDir/bands").count()
    assert(!BandIndex.appendBatch(batches.last.toDF("doc_id", "text"),
      "doc_id", "text", ixDir, batchId = batches.size - 1L))
    assert(spark.read.parquet(s"$ixDir/bands").count() === bandRows0,
      "replayed batch must not append")

    // the crash window made flesh: a raw double-append leaves physical
    // duplicate band rows; probe must collapse them to the exact counts
    BandIndex.appendToIndex(batches.last.toDF("doc_id", "text"),
      "doc_id", "text", ixDir)
    assert(spark.read.parquet(s"$ixDir/bands").count() > bandRows0)
    assert(rowSet(BandIndex.probe(spark, ixDir, probeBatch, "doc_id", "text"))
      === rebuilt, "probe must heal a replayed physical append")

    // torn MARKER overwrite (r17 verdict #2): watermark/ left holding
    // only _temporary — the face must read it as -1 and heal through a
    // replayed (idempotently collapsed) append, never throw
    val wm = new java.io.File(s"$ixDir/watermark")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    wm.listFiles().foreach(rm)
    assert(new java.io.File(wm, "_temporary").mkdir())
    assert(BandIndex.appendBatch(batches.last.toDF("doc_id", "text"),
      "doc_id", "text", ixDir, batchId = batches.size - 1L),
      "a torn marker must degrade to a replayed append, not a brick")
    assert(rowSet(BandIndex.probe(spark, ixDir, probeBatch, "doc_id", "text"))
      === rebuilt, "the healed replay must serve exactly")
  }

  test("streaming seen-set novelty emits each URL exactly once (#15)") {
    // the discovery stream dedups itself against the persisted seen set:
    // per batch, novel URLs are emitted to batch_id=<n>/ and fed back in,
    // so cross-batch repeats never re-emit; the union of emissions must
    // equal the batch first-occurrence fold exactly
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.SeenSet
    def url(i: Int) = s"http://s${i % 5}.com/p/$i"
    val seenDir = SparkSpec.tempDir("graft-sseen").toString
    val novelDir = SparkSpec.tempDir("graft-snovel").toString
    val ckDir = SparkSpec.tempDir("graft-sseen-ck").toString
    SeenSet.writeSet((0 until 150).map(url).toDF("url"), "url", seenDir)
    // overlapping batches: 100..250 (50 seen), 200..350 (50 repeat batch
    // 1), 100..400 (everything repeats except 350..399); batch 0 also
    // discovers three of its URLs TWICE within the batch — the emission
    // must still carry one row per novel URL
    val batches = Seq(
      (100 until 250) ++ Seq(160, 170, 180),
      200 until 350,
      100 until 400).map(_.map(i => Tuple1(url(i))))
    val input = MemoryStream[Tuple1[String]]
    val q = Streaming.seenSetMaintenance(
      input.toDF().toDF("url"), "url", seenDir, novelDir, ckDir,
      compactEvery = 2)
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // the compaction cadence bounds the fan-in: compacted after batch 1,
    // then at most batch 2's append on top — never 3 files deep. What a
    // probe scans is the LIVE (manifest) file set — superseded files
    // stay on disk for snapshot-pinned readers and never enter a plan
    val snap = graft.io.Manifest.current(spark, seenDir).get
    val maxFanIn = snap.under("urls")
      .groupBy(_.split('/')(1)).map(_._2.size).max
    assert(maxFanIn <= 2, s"compaction cadence did not bound fan-in: $maxFanIn")
    // ... and vacuum makes the bound physical too
    SeenSet.vacuum(spark, seenDir): Unit
    val maxFanInDisk = new java.io.File(s"$seenDir/urls").listFiles()
      .filter(_.getName.startsWith("url_bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(maxFanInDisk <= 2,
      s"vacuum did not reclaim the superseded files: $maxFanInDisk")
    // exactly-once with first-batch attribution
    def emittedRows(b: Int) = spark.read.parquet(s"$novelDir/batch_id=$b")
      .collect().map(_.getString(0)).toSeq
    def emitted(b: Int) = emittedRows(b).toSet
    assert(emitted(0) === (150 until 250).map(url).toSet)
    assert(emittedRows(0).size === emitted(0).size,
      "a URL discovered twice within one batch must emit one row")
    assert(emitted(1) === (250 until 350).map(url).toSet)
    assert(emitted(2) === (350 until 400).map(url).toSet)

    // restart replay of a committed batch: whole-body no-op
    val urlRows0 = spark.read.parquet(s"$seenDir/urls").count()
    assert(!SeenSet.dedupBatch(batches(2).toDF("url"), "url", seenDir,
      novelDir, batchId = 2))
    assert(spark.read.parquet(s"$seenDir/urls").count() === urlRows0)

    // crash AFTER a committed emit but BEFORE the append/marker: the
    // replay must re-emit NOTHING new (read back, not re-probed — a
    // re-probe could see the half-applied set) and append the emitted
    // sliver; simulate by hand-committing batch 3's emit dir
    (400 until 420).map(url).toDF("url")
      .write.mode("overwrite").parquet(s"$novelDir/batch_id=3")
    // the writer's engine-owned sentinel (created after the emit write
    // returns — the commit gate is no longer the committer's _SUCCESS)
    new java.io.File(s"$novelDir/batch_id=3/_GRAFT_COMMIT").createNewFile()
    assert(SeenSet.dedupBatch(Seq.empty[String].toDF("url"), "url",
      seenDir, novelDir, batchId = 3))
    assert(emitted(3) === (400 until 420).map(url).toSet,
      "committed emission must survive the replay untouched")
    assert(SeenSet.probeNovel(spark, seenDir,
      (400 until 420).map(url).toDF("url"), "url").isEmpty,
      "the recovered batch's novel sliver must have entered the set")

    // torn emit (neither the engine sentinel nor a committer _SUCCESS —
    // a mid-write crash can leave neither, since the committer writes
    // _SUCCESS last): the files are garbage; the append never ran, so
    // the body must RE-PROBE and overwrite them
    val torn = new java.io.File(s"$novelDir/batch_id=4")
    torn.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$novelDir/batch_id=4/part-torn.parquet"),
      Array[Byte](1, 2, 3))
    assert(SeenSet.dedupBatch((418 until 425).map(url).toDF("url"), "url",
      seenDir, novelDir, batchId = 4))
    assert(emitted(4) === (420 until 425).map(url).toSet,
      "torn emit must be recomputed from the set, not trusted")
  }

  test("streaming text-index maintenance is exactly-once (#17)") {
    // kept docs stream into the persisted inverted index; the maintained
    // index must serve EXACTLY what a from-scratch rebuild serves (tf and
    // the BM25 normalizers have no duplicate tolerance), a replayed batch
    // must be a whole-body no-op, and the worst crash window — journal
    // applied, stats/marker not — must converge on the replayed apply
    // instead of doubling tf
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.TextIndex
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ixDir = SparkSpec.tempDir("graft-sti").toString
    val ckDir = SparkSpec.tempDir("graft-sti-ck").toString
    TextIndex.writeIndex(docs.filter(col("doc_id") < 100), "doc_id", "text",
      ixDir, buckets = 16)
    val rows = docs.filter(col("doc_id") >= 100 && col("doc_id") < 250)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val batches = Seq(rows.take(40), rows.slice(40, 90), rows.drop(90))
    val input = MemoryStream[(Long, String)]
    val q = Streaming.textIndexMaintenance(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", ixDir, ckDir,
      compactEvery = 2)
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()

    val rbDir = SparkSpec.tempDir("graft-sti-rb").toString
    TextIndex.writeIndex(docs.filter(col("doc_id") < 250), "doc_id", "text",
      rbDir, buckets = 16)
    val terms = Seq("the", "and", "table")
    def serve(d: String) = rowSet(TextIndex.bm25SearchIndex(spark, d, terms, k = 10))
    val rebuilt = serve(rbDir)
    assert(serve(ixDir) === rebuilt,
      "stream-maintained index must serve exactly the full rebuild")

    // replayed batch id: whole-body no-op (stats ledger unchanged).
    // Stats totals read through the SNAPSHOT (what every serving face
    // resolves): on manifest trees a crash-window replay writes a fresh
    // ATTEMPT tag and retires the prior one for pinned readers (r20),
    // so the raw directory holds both attempts until vacuum while the
    // live ledger stays exact.
    def statsTotals() = {
      val snap = graft.io.Manifest.current(spark, ixDir).get
      graft.io.Manifest.readSubtree(spark, ixDir, snap, "stats", None)
        .agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    }
    val stats0 = statsTotals()
    assert(!TextIndex.appendBatch(batches.last.toDF("doc_id", "text"),
      "doc_id", "text", ixDir, batchId = batches.size - 1L))
    val stats1 = statsTotals()
    assert(stats0 === stats1, "replay must not touch the stats ledger")
    assert(serve(ixDir) === rebuilt)

    // the crash window made flesh: postings landed (the batch's own
    // ingest_batch directories committed), stats and marker did not —
    // simulate by wiping the watermark and re-applying the last batch:
    // the batch-scoped overwrite must converge the postings and the
    // batch-scoped stats row must not double-add
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(s"$ixDir/watermark"))
    assert(TextIndex.appendBatch(batches.last.toDF("doc_id", "text"),
      "doc_id", "text", ixDir, batchId = batches.size - 1L))
    assert(serve(ixDir) === rebuilt,
      "re-applying an already-landed batch must not double tf")
    val stats2 = statsTotals()
    assert(stats2 === stats0, "the replayed attempt must retire the prior one, not add")

    // torn MARKER overwrite (the dir-PRESENT tear, r17 verdict #2):
    // only _temporary left — must read as -1 and re-apply idempotently
    val wm = new java.io.File(s"$ixDir/watermark")
    wm.listFiles().foreach(rm)
    assert(new java.io.File(wm, "_temporary").mkdir())
    assert(TextIndex.appendBatch(batches.last.toDF("doc_id", "text"),
      "doc_id", "text", ixDir, batchId = batches.size - 1L),
      "a torn marker must degrade to a replayed overwrite, not a brick")
    assert(serve(ixDir) === rebuilt)
    val stats3 = statsTotals()
    assert(stats3 === stats0)
    // vacuum sweeps the superseded replay attempts; serving unchanged
    assert(TextIndex.vacuum(spark, ixDir).filesDeleted > 0)
    assert(serve(ixDir) === rebuilt)
    assert(statsTotals() === stats0)
  }

  test("streaming curation converges to the batch gate on the final snapshot (#16)") {
    // the w11 loop live against a disk-resident CorpusStore: CDC batches
    // install passing upserts, evict decayed docs and deletes; after the
    // stream drains, the store must equal the quality gate applied to
    // the FINAL snapshot from scratch — the incrementalCurate
    // convergence contract, now with delta-proportional disk maintenance
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.CorpusStore
    def prose(i: Long) = "the quick brown fox jumps over a lazy dog " +
      "while many other animals watch from their warm homes and some " +
      "birds fly across the evening sky toward distant hills " + i
    val storeDir = SparkSpec.tempDir("graft-cur").toString
    val ckDir = SparkSpec.tempDir("graft-cur-ck").toString
    // seed snapshot: ids 0-9, all passing
    val seed = (0L until 10L).map(i => (i, prose(i)))
    CorpusStore.write(seed.toDF("doc_id", "text"), "doc_id", storeDir,
      buckets = 8)
    val del = null.asInstanceOf[String]
    val batches = Seq(
      // new passing docs + one decay (doc 2 turns to gibberish) + delete 0
      Seq(("upsert", 10L, prose(10)), ("upsert", 11L, prose(11)),
        ("upsert", 2L, "zz zz zz"), ("delete", 0L, del)),
      // doc 2 recovers with NEW text; doc 11 decays; a born-failing doc 12
      Seq(("upsert", 2L, prose(200)), ("upsert", 11L, "qq"),
        ("upsert", 12L, "x y")),
      // delete an already-evicted doc (no-op) and a standing one
      Seq(("delete", 11L, del), ("delete", 3L, del),
        ("upsert", 13L, prose(13))))
    val input = MemoryStream[(String, Long, String)]
    val q = Streaming.curateStream(
      input.toDF().toDF("op", "doc_id", "text"),
      "op", "doc_id", "text", storeDir, ckDir)
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // fold the snapshot in plain scala, then gate it from scratch
    val snap = scala.collection.mutable.Map(seed: _*)
    batches.flatten.foreach {
      case ("upsert", id, t) => snap(id) = t
      case ("delete", id, _) => snap.remove(id): Unit
    }
    val expected = snap.toSeq.toDF("doc_id", "text")
      .filter(graft.functions.TextFunctions.qualityFilter("text")
        .getField("keep"))
    assert(rowSet(CorpusStore.read(spark, storeDir)) === rowSet(expected),
      "maintained store must equal the batch gate over the final snapshot")
    // the fixture must have exercised install, decay-evict, delete-evict
    // and recovery: spot-pin the interesting ids
    val ids = CorpusStore.read(spark, storeDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(2L) && ids.contains(13L))
    assert(!ids.contains(0L) && !ids.contains(3L) && !ids.contains(11L)
      && !ids.contains(12L))
    // restart replay of the last batch: whole-body no-op
    assert(!CorpusStore.applyCurationBatch(batches.last.toDF("op", "doc_id",
      "text"), "op", "doc_id", "text", storeDir, batches.size - 1L))

    // torn MARKER overwrite (r17 verdict #2): watermark/ left with only
    // _temporary — reads as -1, and the idempotent keyed overwrite
    // converges on the replayed apply instead of bricking the stream
    val stateBefore = rowSet(CorpusStore.read(spark, storeDir))
    val wm = new java.io.File(s"$storeDir/watermark")
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmAll); f.delete(): Unit
    }
    wm.listFiles().foreach(rmAll)
    assert(new java.io.File(wm, "_temporary").mkdir())
    assert(CorpusStore.applyCurationBatch(batches.last.toDF("op", "doc_id",
      "text"), "op", "doc_id", "text", storeDir, batches.size - 1L),
      "a torn marker must degrade to a replayed apply, not a brick")
    assert(rowSet(CorpusStore.read(spark, storeDir)) === stateBefore,
      "the replayed apply must converge to the same store")
  }

  test("steady-state loop: one stream drives seen set, store, both indexes (#18)") {
    // the COMPOSED fleet shape: harnesses #14-#17 each maintain ONE
    // artifact; here a single discovery stream drives seen-set novelty
    // -> quality gate -> CorpusStore install/evict -> BandIndex +
    // TextIndex appends on the same slivers, one foreachBatch. Pins:
    // (a) final store == the batch gate over first-occurrence-per-URL
    // from scratch, (b) both index probes == full rebuilds over the
    // same kept set, (c) the batch source is scanned ONCE per batch,
    // across uneven micro-batches (incl. a fully-seen one) with a
    // replay and a mid-crash heal.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.{BandIndex, CorpusStore, SeenSet, TextIndex}
    def prose(i: Long) = "the quick brown fox jumps over a lazy dog " +
      "while many other animals watch from their warm homes and some " +
      "birds fly across the evening sky toward distant hills " + i
    def text(i: Long) = if (i % 9 == 0) "zz qq" else prose(i)
    def url(i: Long) = s"http://h${i % 7}.example/d/$i"
    def row(i: Long) = (url(i), i, text(i))
    def mkDir(p: String) = SparkSpec.tempDir(p).toString
    val seenDir = mkDir("graft-ss-seen"); val novelDir = mkDir("graft-ss-novel")
    val storeDir = mkDir("graft-ss-store"); val bandDir = mkDir("graft-ss-band")
    val textDir = mkDir("graft-ss-text"); val ckDir = mkDir("graft-ss-ck")
    // standing state: urls 0..49 seen; the gate-passing subset of them
    // installed and indexed (the fleet's running state)
    val seedKept = (0L until 50L).filter(_ % 9 != 0)
      .map(row).toDF("url", "doc_id", "text")
    SeenSet.writeSet((0L until 50L).map(i => Tuple1(url(i))).toDF("url"),
      "url", seenDir)
    CorpusStore.write(seedKept, "doc_id", storeDir, buckets = 8)
    BandIndex.writeIndex(seedKept, "doc_id", "text", bandDir)
    TextIndex.writeIndex(seedKept, "doc_id", "text", textDir, buckets = 16)
    // uneven, overlapping batches; batch 0 discovers url 60 TWICE; batch
    // 2 is FULLY SEEN (empty novel sliver — the face must not crash)
    val batches = Seq(
      (0L until 100L) ++ Seq(60L),
      80L until 140L,
      20L until 90L,
      0L until 180L
    ).map(_.map(row))
    val input = MemoryStream[(String, Long, String)]
    val q = Streaming.steadyStateIngest(
      input.toDF().toDF("url", "doc_id", "text"), "url", "doc_id", "text",
      seenDir, novelDir, storeDir, bandDir, textDir, ckDir, compactEvery = 2)
    // exactly-once emission with first-batch attribution, empty batch
    // incl. — asserted per batch WHILE the emission is live: the
    // compaction cadence also runs the retention GC (#18f), which
    // reclaims replay-dead emissions as the loop advances
    def emitted(b: Int) = spark.read.parquet(s"$novelDir/batch_id=$b")
      .select("url").collect().map(_.getString(0)).toSeq
    val expectedEmit = Seq(
      (50L until 100L).map(url),
      (100L until 140L).map(url),
      Seq.empty[String],
      (140L until 180L).map(url))
    try batches.zipWithIndex.foreach { case (b, i) =>
      input.addData(b: _*); q.processAllAvailable()
      assert(emitted(i).sorted === expectedEmit(i).sorted,
        s"batch $i emits its novel sliver once per URL")
    } finally q.stop()

    // (a) store == the batch gate over the first-occurrence universe
    def expectedKept(n: Long) = (0L until n).map(row)
      .toDF("url", "doc_id", "text")
      .filter(coalesce(graft.functions.TextFunctions.qualityFilter("text")
        .getField("keep"), lit(false)))
    assert(rowSet(CorpusStore.read(spark, storeDir))
      === rowSet(expectedKept(180L)),
      "the maintained store must equal the batch gate from scratch")

    // (b) both index probes == full rebuilds over the same kept set
    val bandRb = mkDir("graft-ss-band-rb"); val textRb = mkDir("graft-ss-text-rb")
    BandIndex.writeIndex(expectedKept(180L), "doc_id", "text", bandRb)
    TextIndex.writeIndex(expectedKept(180L), "doc_id", "text", textRb,
      buckets = 16)
    val probeBatch = Seq((9001L, prose(10)), (9002L, prose(1000)),
      (9003L, "completely unrelated words about ships and harbors"))
      .toDF("doc_id", "text")
    assert(rowSet(BandIndex.probe(spark, bandDir, probeBatch, "doc_id", "text"))
      === rowSet(BandIndex.probe(spark, bandRb, probeBatch, "doc_id", "text")),
      "maintained band index must probe exactly like the rebuild")
    val terms = Seq("fox", "animals", "evening")
    def serve(d: String) = rowSet(TextIndex.bm25SearchIndex(spark, d, terms, k = 10))
    assert(serve(textDir) === serve(textRb),
      "maintained text index must serve exactly like the rebuild")

    // replayed last batch: whole-body no-op across ALL artifacts
    val storeBefore = rowSet(CorpusStore.read(spark, storeDir))
    Streaming.steadyStateStep(batches.last.toDF("url", "doc_id", "text"),
      batches.size - 1L, "url", "doc_id", "text",
      seenDir, novelDir, storeDir, bandDir, textDir)
    assert(rowSet(CorpusStore.read(spark, storeDir)) === storeBefore)
    assert(serve(textDir) === serve(textRb))
    assert(emitted(3).sorted === (140L until 180L).map(url).sorted)

    // mid-crash heal: the seen set applied batch 4, the rest did not
    // (crash between face 1 and face 2); the replayed step must read the
    // committed emission back and catch the store and indexes up
    val b4 = (170L until 190L).map(row).toDF("url", "doc_id", "text")
    assert(SeenSet.dedupBatch(b4, "url", seenDir, novelDir, 4L))
    Streaming.steadyStateStep(b4, 4L, "url", "doc_id", "text",
      seenDir, novelDir, storeDir, bandDir, textDir)
    assert(rowSet(CorpusStore.read(spark, storeDir))
      === rowSet(expectedKept(190L)),
      "the healed replay must catch the store up to the emitted sliver")
    val textRb2 = mkDir("graft-ss-text-rb2")
    TextIndex.writeIndex(expectedKept(190L), "doc_id", "text", textRb2,
      buckets = 16)
    assert(serve(textDir) === serve(textRb2))

    // (c) scan accounting: the batch source materializes exactly once
    // per step — downstream faces consume the EMITTED sliver, not the
    // source (one partition => accumulator counts materializations)
    val acc = spark.sparkContext.longAccumulator("graft-ss-scans")
    val counted = spark.createDataset((190L until 200L).map(row))
      .repartition(1)
      .mapPartitions { it => acc.add(1); it }
      .toDF("url", "doc_id", "text")
    Streaming.steadyStateStep(counted, 5L, "url", "doc_id", "text",
      seenDir, novelDir, storeDir, bandDir, textDir)
    assert(acc.value === 1L,
      s"the batch must be read once, was ${acc.value}")
    assert(rowSet(CorpusStore.read(spark, storeDir))
      === rowSet(expectedKept(200L)))
  }

  test("streaming vector-index maintenance with the drift-gauge ledger (#19)") {
    // the LAST persisted family gains its live face: embedding deltas
    // stream into the IVF+PQ index; the maintained index must serve
    // exactly the batch append face, a replayed batch id is a no-op,
    // the crash window's physical duplicates heal at serve and vanish
    // under compaction, a torn watermark degrades to a healed replay,
    // and the drift-gauge ledger lands on its cadence.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def mkDir(p: String) = SparkSpec.tempDir(p).toString
    val ixDir = mkDir("graft-svec"); val ckDir = mkDir("graft-svec-ck")
    val gaugeDir = mkDir("graft-svec-gauge")
    Similarity.ivfPqIndexWrite(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", ixDir,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    val rows = emb.filter(col("vec_id") >= 100 && col("vec_id") < 250)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    val batches = Seq(rows.take(50), rows.slice(50, 120), rows.drop(120))
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Streaming.vectorIndexMaintenance(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      ixDir, ckDir, gaugeEvery = 2, gaugeDir = gaugeDir)
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()

    // twin maintained through the BATCH append face: stream == batch
    val twinDir = mkDir("graft-svec-twin")
    Similarity.ivfPqIndexWrite(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", twinDir,
      dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2)
    batches.foreach(b => Similarity.ivfPqIndexAppend(
      b.toDF("vec_id", "embedding"), "vec_id", "embedding", twinDir))
    val queries = emb.filter(col("vec_id") < 5)
    def serve(d: String) = rowSet(Similarity.ivfPqIndexTopK(spark, d,
      queries, "vec_id", "embedding", k = 3, nProbe = 4))
    val expected = serve(twinDir)
    assert(serve(ixDir) === expected,
      "stream-maintained index must serve exactly the batch append face")

    // restart replay: the last committed batch id is a whole-body no-op
    // (codes live under the r19 generation dir; no rebuild in this test,
    // so the first generation is the live one throughout)
    def codesCount() = spark.read.parquet(s"$ixDir/g000001/codes").count()
    val codes0 = codesCount()
    assert(!Similarity.ivfPqIndexAppendBatch(
      batches.last.toDF("vec_id", "embedding"), "vec_id", "embedding",
      ixDir, batchId = batches.size - 1L))
    assert(codesCount() === codes0, "replayed batch must not append")

    // the crash window made flesh: a raw double-append leaves duplicate
    // code rows; the serve path must collapse them before ranking
    Similarity.ivfPqIndexAppend(batches.last.toDF("vec_id", "embedding"),
      "vec_id", "embedding", ixDir)
    assert(codesCount() > codes0)
    assert(serve(ixDir) === expected,
      "a duplicated neighbor must not claim two of the k ranks")
    // ... and compaction + vacuum remove the duplicate bytes for good
    // (compaction is the logical collapse — snapshot-pinned readers
    // keep the old files; vacuum is the physical reclaim)
    val stats = Similarity.ivfPqIndexCompact(spark, ixDir)
    assert(stats.bucketsCompacted > 0)
    assert(Similarity.ivfPqIndexVacuum(spark, ixDir).filesDeleted > 0)
    assert(codesCount() === codes0,
      "compaction must collapse the replayed duplicates")
    assert(serve(ixDir) === expected)

    // torn watermark marker (dir present, only _temporary): reads -1,
    // heals through a replayed (serve-collapsed) append
    val wm = new java.io.File(s"$ixDir/watermark")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    wm.listFiles().foreach(rm)
    assert(new java.io.File(wm, "_temporary").mkdir())
    assert(Similarity.ivfPqIndexAppendBatch(
      batches.last.toDF("vec_id", "embedding"), "vec_id", "embedding",
      ixDir, batchId = batches.size - 1L),
      "a torn marker must degrade to a replayed append, not a brick")
    assert(serve(ixDir) === expected)

    // drift-gauge ledger: cadence fires after batch 1 only (gaugeEvery=2
    // over batch ids 0..2), batch-scoped, recalls well-formed
    assert(new java.io.File(s"$gaugeDir/batch_id=1").exists())
    assert(!new java.io.File(s"$gaugeDir/batch_id=0").exists()
      && !new java.io.File(s"$gaugeDir/batch_id=2").exists())
    val ledger = spark.read.parquet(s"$gaugeDir/batch_id=1")
    assert(ledger.count() === batches(1).size.toLong,
      "one recall row per query of the gauged batch")
    val recalls = ledger.select("recall").collect().map(_.getDouble(0))
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("steady-state loop with the standing near-dup gate (#18b)") {
    // the fourth fleet gate: novel + quality-passing docs additionally
    // probe the STANDING band index; copies of standing content DROP
    // (not installed, not indexed). The gated verdict is persisted
    // per batch (the curated emission), so a replay landing AFTER this
    // batch's own band append still computes the same sliver — the pin
    // at the bottom fails without it.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.{BandIndex, CorpusStore, SeenSet, TextIndex}
    // unique-vocabulary prose: 24 tokens, gate-passing (stopwords, TTR,
    // avg length in band), and cross-doc Jaccard ~0 — so near-dup pairs
    // exist exactly where the fixture constructs them
    def tok(i: Long, k: Int): String = {
      val n = i * 131 + k
      (0 until 5).map(j => ('a' + ((n >> (j * 4)) & 15)).toChar).mkString
    }
    def uprose(i: Long) = "the " + (0 until 10).map(tok(i, _)).mkString(" ") +
      " and some " + (10 until 18).map(tok(i, _)).mkString(" ") + " from here"
    def url(i: Long) = s"http://nd${i % 5}.example/d/$i"
    // a subdir, so the sinks' `<dir>.curated` siblings land inside the temp dir
    def mkDir(p: String) = java.nio.file.Files.createDirectory(SparkSpec.tempDir(p).resolve("d")).toString
    val seenDir = mkDir("graft-nd-seen"); val novelDir = mkDir("graft-nd-novel")
    val storeDir = mkDir("graft-nd-store"); val bandDir = mkDir("graft-nd-band")
    val textDir = mkDir("graft-nd-text"); val ckDir = mkDir("graft-nd-ck")
    val seed = (0L until 20L).map(i => (url(i), i, uprose(i)))
      .toDF("url", "doc_id", "text")
    SeenSet.writeSet(seed.select("url"), "url", seenDir)
    CorpusStore.write(seed, "doc_id", storeDir, buckets = 8)
    BandIndex.writeIndex(seed, "doc_id", "text", bandDir)
    TextIndex.writeIndex(seed, "doc_id", "text", textDir, buckets = 16)
    val batches = Seq(
      // fresh 20..39; 40 = EXACT copy of seed 5; 41 = near-copy of seed
      // 7 (tail tweak); 42 fails the quality gate
      (20L until 40L).map(i => (url(i), i, uprose(i))) ++ Seq(
        (url(40), 40L, uprose(5)),
        (url(41), 41L, uprose(7).replace(" from here", " from there")),
        (url(42), 42L, "zz qq")),
      // 35..39 already seen; 43/44 = copies of docs b0 INSTALLED (the
      // standing set grew); 45/46 = an INTERNAL near-pair (copies of
      // each other, novel text) — both admitted, the batch-vs-reference
      // contract; 47..50 fresh
      (35L until 40L).map(i => (url(i), i, uprose(i))) ++ Seq(
        (url(43), 43L, uprose(25)),
        (url(44), 44L, uprose(30)),
        (url(45), 45L, uprose(999)),
        (url(46), 46L, uprose(999))) ++
        (47L until 51L).map(i => (url(i), i, uprose(i))))
    val input = MemoryStream[(String, Long, String)]
    val q = Streaming.steadyStateIngest(
      input.toDF().toDF("url", "doc_id", "text"), "url", "doc_id", "text",
      seenDir, novelDir, storeDir, bandDir, textDir, ckDir,
      nearDupMinBands = 1)
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()

    // the hand fold: installs = fresh passing docs minus standing copies
    val expectedIds = (0L until 40L).toSet ++ Set(45L, 46L) ++
      (47L until 51L).toSet
    assert(CorpusStore.read(spark, storeDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === expectedIds,
      "copies of standing content must drop; internal pairs both admit")
    assert(new java.io.File(s"$novelDir.curated/batch_id=1/_GRAFT_COMMIT")
      .exists(), "the curated verdict emission must be committed")

    // both indexes hold exactly the installed set
    val installed = CorpusStore.read(spark, storeDir)
    val textRb = mkDir("graft-nd-text-rb")
    TextIndex.writeIndex(installed, "doc_id", "text", textRb, buckets = 16)
    val terms = Seq("the", "some", tok(25, 3))
    def serve(d: String) = rowSet(TextIndex.bm25SearchIndex(spark, d, terms, k = 10))
    assert(serve(textDir) === serve(textRb),
      "the maintained text index must equal the rebuild over the installs")
    val bandRb = mkDir("graft-nd-band-rb")
    BandIndex.writeIndex(installed, "doc_id", "text", bandRb)
    val probeBatch = Seq((9001L, uprose(25)), (9002L, uprose(7777)))
      .toDF("doc_id", "text")
    assert(rowSet(BandIndex.probe(spark, bandDir, probeBatch, "doc_id", "text"))
      === rowSet(BandIndex.probe(spark, bandRb, probeBatch, "doc_id", "text")))

    // REPLAY DETERMINISM — the reason the curated emission exists: batch
    // 1's band append already ran, so a recomputed verdict would now see
    // 45/46 as standing content and drop them, desynchronizing a face
    // that lost its work. Simulate the text append lost (watermark
    // wiped) and re-run the step: the reused emission must hand the
    // text index the SAME sliver (45 and 46 included).
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(s"$textDir/watermark"))
    Streaming.steadyStateStep(batches(1).toDF("url", "doc_id", "text"),
      1L, "url", "doc_id", "text", seenDir, novelDir, storeDir, bandDir,
      textDir, nearDupMinBands = 1)
    assert(serve(textDir) === serve(textRb),
      "the replayed text append must consume the persisted verdict, " +
        "not a recomputed one")
  }

  test("steady-state loop bootstraps from day-zero artifacts (#18d)") {
    // the fleet's first hour: every standing artifact exists but is
    // EMPTY (nothing seen, nothing installed, nothing indexed). The
    // loop must run — probes serve empty instead of throwing on
    // footer-less trees — and after two batches the state equals the
    // batch fold, including the near-dup gate kicking in against
    // content installed one batch earlier.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.{BandIndex, CorpusStore, SeenSet, TextIndex}
    def tok(i: Long, k: Int): String = {
      val n = i * 131 + k
      (0 until 5).map(j => ('a' + ((n >> (j * 4)) & 15)).toChar).mkString
    }
    def uprose(i: Long) = "the " + (0 until 10).map(tok(i, _)).mkString(" ") +
      " and some " + (10 until 18).map(tok(i, _)).mkString(" ") + " from here"
    def url(i: Long) = s"http://dz${i % 5}.example/d/$i"
    def row(i: Long) = (url(i), i, uprose(i))
    // a subdir, so the sinks' `<dir>.curated` siblings land inside the temp dir
    def mkDir(p: String) = java.nio.file.Files.createDirectory(SparkSpec.tempDir(p).resolve("d")).toString
    val seenDir = mkDir("graft-dz-seen"); val novelDir = mkDir("graft-dz-novel")
    val storeDir = mkDir("graft-dz-store"); val bandDir = mkDir("graft-dz-band")
    val textDir = mkDir("graft-dz-text")
    val empty = Seq.empty[(String, Long, String)].toDF("url", "doc_id", "text")
    SeenSet.writeSet(empty.select("url"), "url", seenDir)
    CorpusStore.write(empty, "doc_id", storeDir, buckets = 4)
    BandIndex.writeIndex(empty, "doc_id", "text", bandDir)
    TextIndex.writeIndex(empty, "doc_id", "text", textDir, buckets = 8)
    // batch 0: first content ever (plus one gate-failing doc); batch 1:
    // overlaps batch 0, adds fresh docs and a COPY of a batch-0 doc —
    // the near-dup gate must already work against one-batch-old content
    val b0 = ((0L until 15L).map(row) :+ ((url(99), 99L, "zz qq")))
      .toDF("url", "doc_id", "text")
    val b1 = ((10L until 25L).map(row) :+ ((url(98), 98L, uprose(3))))
      .toDF("url", "doc_id", "text")
    Streaming.steadyStateStep(b0, 0L, "url", "doc_id", "text",
      seenDir, novelDir, storeDir, bandDir, textDir, nearDupMinBands = 1)
    Streaming.steadyStateStep(b1, 1L, "url", "doc_id", "text",
      seenDir, novelDir, storeDir, bandDir, textDir, nearDupMinBands = 1)
    val ids = CorpusStore.read(spark, storeDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids === (0L until 25L).toSet,
      "fold from zero: installs minus the gate failure and the dup copy")
    val installed = CorpusStore.read(spark, storeDir)
    val textRb = mkDir("graft-dz-text-rb")
    TextIndex.writeIndex(installed, "doc_id", "text", textRb, buckets = 8)
    val terms = Seq("the", "some", tok(12, 3))
    assert(rowSet(TextIndex.bm25SearchIndex(spark, textDir, terms, k = 10))
      === rowSet(TextIndex.bm25SearchIndex(spark, textRb, terms, k = 10)))
    val bandRb = mkDir("graft-dz-band-rb")
    BandIndex.writeIndex(installed, "doc_id", "text", bandRb)
    val probeBatch = Seq((9001L, uprose(12))).toDF("doc_id", "text")
    assert(rowSet(BandIndex.probe(spark, bandDir, probeBatch, "doc_id", "text"))
      === rowSet(BandIndex.probe(spark, bandRb, probeBatch, "doc_id", "text")))
  }

  test("steady-state loop under seeded random crash injection (#18c)") {
    // fault-injection sweep over the composed loop: after every batch, a
    // seeded RNG wipes a random subset of the four faces' watermarks —
    // the apply-done-marker-lost window, the worst replay shape each
    // face claims to converge through — and the step re-runs with the
    // SAME batch id before the stream moves on. Whatever the
    // interleaving, the end state must be exact: store == the batch
    // fold, both indexes == rebuilds over the installs, emissions
    // exactly-once. Deterministic (fixed seeds), so a regression in any
    // face's replay protocol fails reproducibly.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.{BandIndex, CorpusStore, SeenSet, TextIndex}
    def tok(i: Long, k: Int): String = {
      val n = i * 131 + k
      (0 until 5).map(j => ('a' + ((n >> (j * 4)) & 15)).toChar).mkString
    }
    def uprose(i: Long) = "the " + (0 until 10).map(tok(i, _)).mkString(" ") +
      " and some " + (10 until 18).map(tok(i, _)).mkString(" ") + " from here"
    def url(i: Long) = s"http://cr${i % 5}.example/d/$i"
    def row(i: Long) = (url(i), i, uprose(i))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    for (seed <- Seq(7L, 23L)) {
      val rng = new scala.util.Random(seed)
      // a subdir, so the sinks' `<dir>.curated` siblings land inside the temp dir
      def mkDir(p: String) = java.nio.file.Files.createDirectory(SparkSpec.tempDir(p).resolve("d")).toString
      val seenDir = mkDir("graft-cr-seen"); val novelDir = mkDir("graft-cr-novel")
      val storeDir = mkDir("graft-cr-store"); val bandDir = mkDir("graft-cr-band")
      val textDir = mkDir("graft-cr-text")
      val seed0 = (0L until 20L).map(row).toDF("url", "doc_id", "text")
      SeenSet.writeSet(seed0.select("url"), "url", seenDir)
      CorpusStore.write(seed0, "doc_id", storeDir, buckets = 8)
      BandIndex.writeIndex(seed0, "doc_id", "text", bandDir)
      TextIndex.writeIndex(seed0, "doc_id", "text", textDir, buckets = 16)
      // overlapping batches; each also re-discovers a random seen slice,
      // and batch 3 contains a copy of a standing doc (the dup gate)
      val batchRanges = Seq(10L until 45L, 30L until 70L, 55L until 90L,
        0L until 100L)
      val dirs = Seq(seenDir, storeDir, bandDir, textDir)
      batchRanges.zipWithIndex.foreach { case (r, bid) =>
        val extra = if (bid == 3) Seq((url(990), 990L, uprose(3))) else Nil
        val b = (r.map(row) ++ extra).toDF("url", "doc_id", "text")
        def step(): Unit = Streaming.steadyStateStep(b, bid.toLong,
          "url", "doc_id", "text", seenDir, novelDir, storeDir, bandDir,
          textDir, nearDupMinBands = 1)
        step()
        // crash: lose a random subset of the faces' watermark advances,
        // then the restart replays the same batch id
        val wiped = dirs.filter(_ => rng.nextBoolean())
        if (wiped.nonEmpty) {
          wiped.foreach(d => rm(new java.io.File(s"$d/watermark")))
          step()
        }
      }
      // invariants, whatever the interleaving
      val expected = (0L until 100L).map(row).toDF("url", "doc_id", "text")
        .filter(coalesce(graft.functions.TextFunctions.qualityFilter("text")
          .getField("keep"), lit(false)))
      assert(rowSet(CorpusStore.read(spark, storeDir)) === rowSet(expected),
        s"seed $seed: store must equal the batch fold (990 = dup, dropped)")
      val installed = CorpusStore.read(spark, storeDir)
      val textRb = mkDir("graft-cr-text-rb")
      TextIndex.writeIndex(installed, "doc_id", "text", textRb, buckets = 16)
      val terms = Seq("the", "some", tok(42, 3))
      assert(rowSet(TextIndex.bm25SearchIndex(spark, textDir, terms, k = 10))
        === rowSet(TextIndex.bm25SearchIndex(spark, textRb, terms, k = 10)),
        s"seed $seed: text index must equal the rebuild")
      val bandRb = mkDir("graft-cr-band-rb")
      BandIndex.writeIndex(installed, "doc_id", "text", bandRb)
      val probeBatch = Seq((9001L, uprose(42)), (9002L, uprose(7777)))
        .toDF("doc_id", "text")
      assert(rowSet(BandIndex.probe(spark, bandDir, probeBatch, "doc_id", "text"))
        === rowSet(BandIndex.probe(spark, bandRb, probeBatch, "doc_id", "text")),
        s"seed $seed: band index must probe like the rebuild")
      // exactly-once emissions: the union of batch emissions holds each
      // novel URL once, attributed to its first batch
      val emitted = spark.read.parquet(novelDir).select("url")
        .collect().map(_.getString(0)).toSeq
      assert(emitted.sorted === ((20L until 100L).map(url) :+ url(990)).sorted,
        s"seed $seed: emissions must be exactly-once per novel URL")
    }
  }

  test("steady-state loop composes the vector face: five families, one batch body (#18e)") {
    // #18 drove seen/store/band/text; the vector index ran as its own
    // stream (#19). Here ONE batch body maintains all five: the kept
    // novel sliver's embeddings append into the persisted IVF+PQ index
    // in the same step, the drift-gauge ledger lands on its cadence,
    // and the ledger thresholds into the rebuild decision
    // (shouldRebuild). Pins: store == batch fold; band/text == rebuilds;
    // vector == the batch append face fed the same kept slivers; a
    // replayed batch is a whole-body no-op across ALL FIVE; a
    // vector-face-only crash (marker lost) heals on the replayed step;
    // day-zero ledger reads no evidence.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.{BandIndex, CorpusStore, SeenSet, TextIndex}
    import graft.operators.Similarity
    def prose(i: Long) = "the quick brown fox jumps over a lazy dog " +
      "while many other animals watch from their warm homes and some " +
      "birds fly across the evening sky toward distant hills " + i
    def text(i: Long) = if (i % 9 == 0) "zz qq" else prose(i)
    def embv(i: Long): Seq[Double] =
      (0 until 16).map(j => math.sin(i * 31.0 + j * 7.0))
    def url(i: Long) = s"http://v${i % 7}.example/d/$i"
    def row(i: Long) = (url(i), i, text(i), embv(i))
    def mkDir(p: String) = SparkSpec.tempDir(p).toString
    val seenDir = mkDir("graft-ve-seen"); val novelDir = mkDir("graft-ve-novel")
    val storeDir = mkDir("graft-ve-store"); val bandDir = mkDir("graft-ve-band")
    val textDir = mkDir("graft-ve-text"); val vecDir = mkDir("graft-ve-vec")
    val gaugeDir = mkDir("graft-ve-gauge")
    val seedKept = (0L until 50L).filter(_ % 9 != 0)
      .map(row).toDF("url", "doc_id", "text", "emb")
    SeenSet.writeSet((0L until 50L).map(i => Tuple1(url(i))).toDF("url"),
      "url", seenDir)
    CorpusStore.write(seedKept, "doc_id", storeDir, buckets = 8)
    BandIndex.writeIndex(seedKept, "doc_id", "text", bandDir)
    TextIndex.writeIndex(seedKept, "doc_id", "text", textDir, buckets = 16)
    Similarity.ivfPqIndexWrite(seedKept.select("doc_id", "emb"),
      "doc_id", "emb", vecDir, dims = 16, nCentroids = 4, m = 4, codes = 8)
    // day-zero ledger: no committed evidence is never a rebuild trigger
    assert(!Streaming.shouldRebuild(spark, gaugeDir, threshold = 0.99))

    // uneven batches; batch 2 is FULLY SEEN (empty kept sliver — the
    // vector face must no-op, not crash); gaugeEvery=2 gauges 1 and 3
    val batches = Seq(
      (0L until 100L) ++ Seq(60L),
      80L until 140L,
      20L until 90L,
      0L until 180L
    ).map(_.map(row))
    def step(b: Seq[(String, Long, String, Seq[Double])], id: Long): Unit =
      Streaming.steadyStateStep(b.toDF("url", "doc_id", "text", "emb"), id,
        "url", "doc_id", "text", seenDir, novelDir, storeDir, bandDir,
        textDir, vecCol = "emb", vectorDir = vecDir,
        gaugeEvery = 2, gaugeDir = gaugeDir, gaugeK = 3)
    batches.zipWithIndex.foreach { case (b, i) => step(b, i.toLong) }

    def expectedKept(n: Long) = (0L until n).map(row)
      .toDF("url", "doc_id", "text", "emb")
      .filter(coalesce(graft.functions.TextFunctions.qualityFilter("text")
        .getField("keep"), lit(false)))
    assert(rowSet(CorpusStore.read(spark, storeDir))
      === rowSet(expectedKept(180L)),
      "the maintained store must equal the batch gate from scratch")

    // band/text == rebuilds (the #18 pins, unchanged by the fifth face)
    val bandRb = mkDir("graft-ve-band-rb"); val textRb = mkDir("graft-ve-text-rb")
    BandIndex.writeIndex(expectedKept(180L), "doc_id", "text", bandRb)
    TextIndex.writeIndex(expectedKept(180L), "doc_id", "text", textRb,
      buckets = 16)
    val probeBatch = Seq((9001L, prose(10)), (9002L, prose(1000)))
      .toDF("doc_id", "text")
    assert(rowSet(BandIndex.probe(spark, bandDir, probeBatch, "doc_id", "text"))
      === rowSet(BandIndex.probe(spark, bandRb, probeBatch, "doc_id", "text")))
    def serveText(d: String) = rowSet(
      TextIndex.bm25SearchIndex(spark, d, Seq("fox", "animals"), k = 10))
    assert(serveText(textDir) === serveText(textRb))

    // vector == the batch append face fed the same kept slivers (the
    // #19 twin discipline: append quantizes against frozen training, so
    // the twin is write(seed) + appends, not a rebuild)
    val twinDir = mkDir("graft-ve-twin")
    Similarity.ivfPqIndexWrite(seedKept.select("doc_id", "emb"),
      "doc_id", "emb", twinDir, dims = 16, nCentroids = 4, m = 4, codes = 8)
    batches.indices.foreach { i =>
      val kept = spark.read.parquet(s"$novelDir/batch_id=$i")
        .filter(coalesce(graft.functions.TextFunctions.qualityFilter("text")
          .getField("keep"), lit(false)))
        .select("doc_id", "emb")
      Similarity.ivfPqIndexAppend(kept, "doc_id", "emb", twinDir)
    }
    val queries = (500L until 505L).map(i => (i, embv(i * 3 + 1)))
      .toDF("doc_id", "emb")
    def serveVec(d: String) = rowSet(Similarity.ivfPqIndexTopK(spark, d,
      queries, "doc_id", "emb", k = 3, nProbe = 2))
    val vecExpected = serveVec(twinDir)
    assert(serveVec(vecDir) === vecExpected,
      "loop-maintained vector index must equal the batch append face")

    // ledger on cadence, committed, well-formed, self-excluded recalls
    assert(graft.io.Commit.isCommitted(spark, s"$gaugeDir/batch_id=1"))
    assert(graft.io.Commit.isCommitted(spark, s"$gaugeDir/batch_id=3"))
    assert(!new java.io.File(s"$gaugeDir/batch_id=0").exists()
      && !new java.io.File(s"$gaugeDir/batch_id=2").exists())
    val recalls = spark.read.parquet(s"$gaugeDir/batch_id=3")
      .select("recall").collect().map(_.getDouble(0))
    assert(recalls.nonEmpty && recalls.forall(r => r >= 0.0 && r <= 1.0))
    // the threshold decision: evidence present, mean <= 1.0 < 1.1 so a
    // 1.1 threshold trips; a 0.0 threshold never does
    assert(Streaming.shouldRebuild(spark, gaugeDir, threshold = 1.1,
      window = 2))
    assert(!Streaming.shouldRebuild(spark, gaugeDir, threshold = 0.0))
    val decision = Streaming.gaugeLedgerDecision(spark, gaugeDir, 1.1, 2)
      .head()
    assert(decision.getLong(0) === 2L, "window must cover two entries")

    // replayed last batch: whole-body no-op across all five families
    def codesCount() = spark.read
      .parquet(s"$vecDir/g000001/codes").count()
    val codes0 = codesCount()
    val store0 = rowSet(CorpusStore.read(spark, storeDir))
    step(batches.last, batches.size - 1L)
    assert(codesCount() === codes0, "replay must not append codes")
    assert(rowSet(CorpusStore.read(spark, storeDir)) === store0)
    assert(serveVec(vecDir) === vecExpected)

    // vector-face-only crash: the marker advance is lost AFTER the
    // append landed; the replayed step no-ops every other face (their
    // watermarks are ahead) and re-applies the vector face — physical
    // duplicate codes the serve path collapses, so serving stays exact
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(s"$vecDir/watermark"))
    step(batches.last, batches.size - 1L)
    assert(codesCount() > codes0, "the heal re-appends physically")
    assert(serveVec(vecDir) === vecExpected,
      "duplicate codes must collapse at serve after the heal")
    assert(rowSet(CorpusStore.read(spark, storeDir)) === store0,
      "the vector-face heal must not disturb the other faces")
  }

  test("emission retention: replay-dead batch dirs GC on the watermark minimum (#18f)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.{BandIndex, CorpusStore, SeenSet, TextIndex}
    // unit semantics first: cutoff = min(face watermarks) - retain;
    // a never-applied face (watermark -1) disables GC outright
    def mkDir(p: String) = SparkSpec.tempDir(p).toString
    val f1 = mkDir("graft-ret-f1"); val f2 = mkDir("graft-ret-f2")
    val em = mkDir("graft-ret-em")
    (0L until 10L).foreach(i => Seq(i).toDF("x")
      .write.mode("overwrite").parquet(s"$em/batch_id=$i"))
    graft.io.Watermark.advance(spark, f1, 7L)
    graft.io.Watermark.advance(spark, f2, 9L)
    def remaining() = new java.io.File(em).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq
    val f3 = mkDir("graft-ret-f3") // no watermark: -1
    assert(Streaming.emissionRetention(spark, Seq(em), Seq(f1, f2, f3)) === 0)
    assert(remaining().size === 10, "a bootstrapping face blocks GC")
    assert(Streaming.emissionRetention(spark, Seq(em), Seq(f1, f2),
      retainTrailing = 3) === 4, "cutoff 7-3=4 deletes ids 0..3")
    assert(Streaming.emissionRetention(spark, Seq(em), Seq(f1, f2)) === 3,
      "cutoff 7 deletes the remaining ids 4..6")
    assert(remaining() === (7L until 10L).map(i => s"batch_id=$i"))

    // loop wiring: the cadence GCs replay-dead emissions and the LAST
    // batch's emission survives, so a restart replay still converges
    def prose(i: Long) = "the quick brown fox jumps over a lazy dog " +
      "while many other animals watch from their warm homes " + i
    def url(i: Long) = s"http://r${i % 3}.example/d/$i"
    def row(i: Long) = (url(i), i, prose(i))
    val seenDir = mkDir("graft-ret-seen"); val novelDir = mkDir("graft-ret-novel")
    val storeDir = mkDir("graft-ret-store"); val bandDir = mkDir("graft-ret-band")
    val textDir = mkDir("graft-ret-text")
    val seed0 = (0L until 10L).map(row).toDF("url", "doc_id", "text")
    SeenSet.writeSet(seed0.select("url"), "url", seenDir)
    CorpusStore.write(seed0, "doc_id", storeDir, buckets = 4)
    BandIndex.writeIndex(seed0, "doc_id", "text", bandDir)
    TextIndex.writeIndex(seed0, "doc_id", "text", textDir, buckets = 8)
    def step(b: Seq[(String, Long, String)], id: Long): Unit =
      Streaming.steadyStateStep(b.toDF("url", "doc_id", "text"), id,
        "url", "doc_id", "text", seenDir, novelDir, storeDir, bandDir,
        textDir, compactEvery = 2)
    val batches = (0 until 6).map(k =>
      (10L + k * 10L until 25L + k * 10L).map(row))
    batches.zipWithIndex.foreach { case (b, i) => step(b, i.toLong) }
    // retention fired on the cadence: the emission-dir count is bounded
    // by the cadence, never one-per-batch-forever
    val dirs = new java.io.File(novelDir).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(dirs.length <= 2, s"emission dirs unbounded: ${dirs.toSeq}")
    assert(dirs.contains("batch_id=5"),
      "the replayable last batch's emission must survive GC")
    // the restart replay of the last batch still converges after GC
    val store0 = rowSet(CorpusStore.read(spark, storeDir))
    step(batches.last, 5L)
    assert(rowSet(CorpusStore.read(spark, storeDir)) === store0)
  }

  test("steady-state loop with a caller-tuned quality gate (#18g)") {
    // r18 "what's wrong" #3: the loop gate was hardcoded to the default
    // thresholds. A corpus of short documents that the DEFAULT gate
    // rejects wholesale must be curatable by passing a re-tuned gate —
    // and the keep-IS-NOT-TRUE eviction rule must follow the gate that
    // actually ran.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.{BandIndex, CorpusStore, SeenSet, TextIndex}
    def text(i: Long) =
      if (i % 7 == 0) "x" // fails even the tuned gate (one token)
      else s"short note ${i} about the item and its many uses here"
    def url(i: Long) = s"http://g${i % 3}.example/d/$i"
    def row(i: Long) = (url(i), i, text(i))
    def mkDir(p: String) = SparkSpec.tempDir(p).toString
    val seenDir = mkDir("graft-qg-seen"); val novelDir = mkDir("graft-qg-novel")
    val storeDir = mkDir("graft-qg-store"); val bandDir = mkDir("graft-qg-band")
    val textDir = mkDir("graft-qg-text")
    val empty = Seq.empty[(String, Long, String)]
      .toDF("url", "doc_id", "text")
    SeenSet.writeSet(empty.select("url"), "url", seenDir)
    CorpusStore.write(empty, "doc_id", storeDir, buckets = 4)
    BandIndex.writeIndex(empty, "doc_id", "text", bandDir)
    TextIndex.writeIndex(empty, "doc_id", "text", textDir, buckets = 8)
    // the tuned gate: short docs welcome, single-token junk still out
    val tuned = graft.functions.TextFunctions.qualityFilter("text",
      minTokens = 5, maxTokens = 200, minTtr = 0.1, minStopRatio = 0.0,
      maxPunctRatio = 1.0, minAvgTokenLen = 1.0, maxAvgTokenLen = 20.0)
      .getField("keep")
    def step(b: Seq[(String, Long, String)], id: Long): Unit =
      Streaming.steadyStateStep(b.toDF("url", "doc_id", "text"), id,
        "url", "doc_id", "text", seenDir, novelDir, storeDir, bandDir,
        textDir, qualityGate = Some(tuned))
    step((0L until 30L).map(row), 0L)
    step((20L until 60L).map(row), 1L)
    val universe = (0L until 60L).map(row).toDF("url", "doc_id", "text")
    assert(rowSet(CorpusStore.read(spark, storeDir))
      === rowSet(universe.filter(coalesce(tuned, lit(false)))),
      "the store must equal the batch fold under the TUNED gate")
    assert(CorpusStore.read(spark, storeDir).count() > 0,
      "fixture degenerate: the tuned gate kept nothing")
    assert(CorpusStore.read(spark, storeDir)
      .filter(col("doc_id") % 7 === 0).count() === 0,
      "keep-IS-NOT-TRUE eviction must follow the tuned gate")
    // the same corpus under the DEFAULT gate keeps nothing — proof the
    // parameter actually reached the verdict
    assert(universe.filter(coalesce(
      graft.functions.TextFunctions.qualityFilter("text").getField("keep"),
      lit(false))).isEmpty)
  }

  test("autonomic ANN loop: drift decay trips an in-loop generation-flip rebuild against the live stream (#18h)") {
    // The composition the r17-r19 pieces built toward, end-to-end in
    // ONE loop: the stream runs -> the corpus drifts off the frozen
    // quantizer -> the gauge ledger decays -> shouldRebuild trips on
    // the cadence -> ivfPqIndexRetrain flips the generation WHILE the
    // stream keeps appending -> subsequent batches append into the new
    // generation -> the gauge recovers and no further flip fires.
    // Pins (the r19 verdict's done-criterion, verbatim): the
    // stream-maintained serve == the batch rebuild+append fold across
    // the flip; the watermark survives (a replayed flip batch is a
    // no-op); a reader pinned pre-flip stays bit-identical; ledger
    // entries after the flip show recovered recall.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.{CorpusStore, Manifest, SeenSet}
    import graft.operators.Similarity
    def prose(i: Long) = "the quick brown fox jumps over a lazy dog " +
      "while many other animals watch from their warm homes and some " +
      "birds fly across the evening sky toward distant hills " + i
    // region A: energy in dims 0-3; region B (the drift): dims 4-7 —
    // EXACTLY orthogonal subspaces, so codebooks trained on A quantize
    // region B to all-ties and recall collapses until a retrain sees B
    // (m=8/codes=32/nc=8 measured at A≈0.79 / drifted≈0.04 /
    // post-retrain≈0.77 — clean bands around the 0.5 threshold).
    def emb(i: Long, drifted: Boolean): Seq[Double] = {
      val hot = (0 until 4).map(j => math.sin(i * 31.0 + j * 7.0))
      val cold = Seq.fill(4)(0.0)
      if (drifted) cold ++ hot else hot ++ cold
    }
    def url(i: Long) = s"http://h${i % 5}.example/d/$i"
    def row(i: Long, drifted: Boolean) =
      (url(i), i, prose(i), emb(i, drifted))
    def mkDir(p: String) = SparkSpec.tempDir(p).toString
    val seenDir = mkDir("graft-au-seen"); val novelDir = mkDir("graft-au-novel")
    val storeDir = mkDir("graft-au-store"); val bandDir = mkDir("graft-au-band")
    val textDir = mkDir("graft-au-text"); val vecDir = mkDir("graft-au-vec")
    val gaugeDir = mkDir("graft-au-gauge")
    // bootstrap: region-A corpus in BOTH the store and the index (the
    // rebuild-from-the-corpus-of-record contract)
    val seed = (0L until 60L).map(row(_, drifted = false))
      .toDF("url", "doc_id", "text", "emb")
    SeenSet.writeSet((0L until 60L).map(i => Tuple1(url(i))).toDF("url"),
      "url", seenDir)
    CorpusStore.write(seed, "doc_id", storeDir, buckets = 8)
    graft.io.BandIndex.writeIndex(seed, "doc_id", "text", bandDir)
    graft.io.TextIndex.writeIndex(seed, "doc_id", "text", textDir,
      buckets = 16)
    Similarity.ivfPqIndexWrite(seed.select("doc_id", "emb"),
      "doc_id", "emb", vecDir, dims = 8, nCentroids = 8, m = 8, codes = 32)

    // the threshold parameter demands the gauge it thresholds
    intercept[IllegalArgumentException] {
      Streaming.steadyStateStep(seed, 99L, "url", "doc_id", "text",
        seenDir, novelDir, storeDir, bandDir, textDir,
        vecCol = "emb", vectorDir = vecDir,
        rebuildThreshold = Some(0.5))
    }

    val threshold = 0.5
    // batch 0: still region A (healthy gauge); 1-4: drifted region B
    val batches = Seq(
      (60L until 160L).map(row(_, drifted = false)),
      (160L until 260L).map(row(_, drifted = true)),
      (260L until 360L).map(row(_, drifted = true)),
      (360L until 460L).map(row(_, drifted = true)),
      (460L until 560L).map(row(_, drifted = true)))
    def step(b: Seq[(String, Long, String, Seq[Double])], id: Long): Unit =
      Streaming.steadyStateStep(b.toDF("url", "doc_id", "text", "emb"),
        id, "url", "doc_id", "text", seenDir, novelDir, storeDir,
        bandDir, textDir, vecCol = "emb", vectorDir = vecDir,
        gaugeEvery = 1, gaugeDir = gaugeDir, gaugeK = 5, gaugeNProbe = 8,
        rebuildThreshold = Some(threshold), rebuildWindow = 2)
    def liveGen() = Manifest.current(spark, vecDir).get
      .files.head.takeWhile(_ != '/')
    val gen0 = liveGen()
    val snap0 = Manifest.current(spark, vecDir).get
    def pinnedCodes() = rowSet(
      Manifest.readSubtree(spark, vecDir, snap0, s"$gen0/codes", None))

    val gens = batches.indices.map { i =>
      step(batches(i), i.toLong); liveGen()
    }
    // exactly one flip, after at least one drifted gauge entry
    val flipAt = gens.indexWhere(_ != gen0)
    assert(flipAt >= 1, s"drift decay must trip a flip (gens: $gens)")
    assert(gens.distinct.size === 2,
      s"exactly one rebuild must fire — the post-flip gauge recovers " +
        s"and stale pre-flip evidence was swept (gens: $gens)")
    // pre-flip evidence actually decayed; post-flip evidence recovered
    // (the flip swept the old ledger, so every committed entry now
    // measures the NEW generation)
    val decision = Streaming.gaugeLedgerDecision(spark, gaugeDir,
      threshold, window = 2).head()
    assert(decision.getLong(0) > 0L, "post-flip gauge entries must exist")
    assert(decision.getDouble(2) >= threshold,
      s"post-flip recall must recover above $threshold, " +
        s"read ${decision.getDouble(2)}")
    assert(!decision.getBoolean(3))

    // a reader pinned BEFORE the flip stays bit-identical (the old
    // generation was retired, never deleted)
    val pinned0 = pinnedCodes()
    assert(new java.io.File(s"$vecDir/$gen0").exists(),
      "the retired generation must survive the flip")
    assert(pinnedCodes() === pinned0)

    // the watermark survived the flip: a replayed last batch is a
    // whole-body no-op — no duplicate codes, no second rebuild
    def liveCodes() = spark.read.parquet(s"$vecDir/${gens.last}/codes").count()
    val codes0 = liveCodes()
    step(batches.last, batches.size - 1L)
    assert(liveGen() === gens.last, "a replay must not re-trip the rebuild")
    assert(liveCodes() === codes0, "a replay must not re-append codes")

    // THE parity pin: the loop-maintained index == the batch fold that
    // rebuilds at the same point — write(seed) + appends 0..flipAt,
    // retrain on the corpus-of-record at the flip, appends after
    val twinDir = mkDir("graft-au-twin")
    Similarity.ivfPqIndexWrite(seed.select("doc_id", "emb"),
      "doc_id", "emb", twinDir, dims = 8, nCentroids = 8, m = 8, codes = 32)
    def keptSliver(i: Int) = batches(i)
      .toDF("url", "doc_id", "text", "emb").select("doc_id", "emb")
    (0 to flipAt).foreach(i =>
      Similarity.ivfPqIndexAppend(keptSliver(i), "doc_id", "emb", twinDir))
    val corpusAtFlip = (seed.select("doc_id", "emb") +:
      (0 to flipAt).map(keptSliver)).reduce(_ unionAll _)
    Similarity.ivfPqIndexRetrain(corpusAtFlip, "doc_id", "emb", twinDir)
    ((flipAt + 1) until batches.size).foreach(i =>
      Similarity.ivfPqIndexAppend(keptSliver(i), "doc_id", "emb", twinDir))
    val queries = ((9000L until 9005L).map(row(_, drifted = false)) ++
      (9005L until 9010L).map(row(_, drifted = true)))
      .toDF("url", "doc_id", "text", "emb").select("doc_id", "emb")
    def serve(d: String) = rowSet(Similarity.ivfPqIndexTopK(spark, d,
      queries, "doc_id", "emb", k = 3, nProbe = 2))
    assert(serve(vecDir) === serve(twinDir),
      "the autonomic loop must equal the batch rebuild+append fold")

    // and the flip is the manifest's: vacuum at the loop's own face
    // reclaims the retired generation, serving unchanged
    val served = serve(vecDir)
    assert(Similarity.ivfPqIndexVacuum(spark, vecDir).filesDeleted > 0)
    assert(!new java.io.File(s"$vecDir/$gen0").exists())
    assert(serve(vecDir) === served)
  }

  test("autonomic rebuild skips (not crashes) when the corpus of record is below the live geometry's codes") {
    // The trainability gate: PQ training requires >= `codes` usable
    // vectors, and inside foreachBatch that loud failure would be a
    // restart-replay crash loop (the stale ledger re-trips on every
    // restart). A tripped decision over a too-thin corpus must keep
    // serving the old generation and re-check next cadence — and fire
    // normally once the corpus grows past the geometry.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.io.{CorpusStore, Manifest, SeenSet}
    import graft.operators.Similarity
    def prose(i: Long) = "the quick brown fox jumps over a lazy dog " +
      "while many other animals watch from their warm homes and some " +
      "birds fly across the evening sky toward distant hills " + i
    def emb(i: Long, drifted: Boolean): Seq[Double] = {
      val hot = (0 until 4).map(j => math.sin(i * 31.0 + j * 7.0))
      val cold = Seq.fill(4)(0.0)
      if (drifted) cold ++ hot else hot ++ cold
    }
    def url(i: Long) = s"http://t${i % 5}.example/d/$i"
    def row(i: Long, drifted: Boolean) =
      (url(i), i, prose(i), emb(i, drifted))
    def mkDir(p: String) = SparkSpec.tempDir(p).toString
    val seenDir = mkDir("graft-tg-seen"); val novelDir = mkDir("graft-tg-novel")
    val storeDir = mkDir("graft-tg-store"); val bandDir = mkDir("graft-tg-band")
    val textDir = mkDir("graft-tg-text"); val vecDir = mkDir("graft-tg-vec")
    val gaugeDir = mkDir("graft-tg-gauge")
    // the index bootstraps on 40 docs at codes=32, but the store of
    // record starts with only 10 — the thinned-corpus shape the gate
    // exists for (a quality sweep evicted most of the bootstrap)
    val idxSeed = (0L until 40L).map(row(_, drifted = false))
      .toDF("url", "doc_id", "text", "emb")
    val storeSeed = (0L until 10L).map(row(_, drifted = false))
      .toDF("url", "doc_id", "text", "emb")
    SeenSet.writeSet((0L until 40L).map(i => Tuple1(url(i))).toDF("url"),
      "url", seenDir)
    CorpusStore.write(storeSeed, "doc_id", storeDir, buckets = 4)
    graft.io.BandIndex.writeIndex(storeSeed, "doc_id", "text", bandDir)
    graft.io.TextIndex.writeIndex(storeSeed, "doc_id", "text", textDir,
      buckets = 8)
    Similarity.ivfPqIndexWrite(idxSeed.select("doc_id", "emb"),
      "doc_id", "emb", vecDir, dims = 8, nCentroids = 4, m = 8, codes = 32)
    def liveGen() = Manifest.current(spark, vecDir).get
      .files.head.takeWhile(_ != '/')
    val gen0 = liveGen()
    def step(b: Seq[(String, Long, String, Seq[Double])], id: Long): Unit =
      Streaming.steadyStateStep(b.toDF("url", "doc_id", "text", "emb"),
        id, "url", "doc_id", "text", seenDir, novelDir, storeDir,
        bandDir, textDir, vecCol = "emb", vectorDir = vecDir,
        gaugeEvery = 1, gaugeDir = gaugeDir, gaugeK = 5, gaugeNProbe = 4,
        rebuildThreshold = Some(0.99), rebuildWindow = 1)
    // batch 0: 15 novel docs -> store holds 25 < 32 codes; the 0.99
    // threshold trips on ANY gauge entry, but the gate must skip
    step((40L until 55L).map(row(_, drifted = true)), 0L)
    assert(liveGen() === gen0,
      "a below-geometry corpus must skip the flip, not crash the loop")
    // the skipped trip did NOT sweep the ledger (the evidence is still
    // live for the next cadence)
    assert(Streaming.gaugeLedgerDecision(spark, gaugeDir, 0.99, 1)
      .head().getLong(0) === 1L)
    // batch 1: 15 more -> store holds 40 >= 32; the standing trip now
    // fires the generation flip
    step((55L until 70L).map(row(_, drifted = true)), 1L)
    assert(liveGen() !== gen0,
      "once the corpus clears the geometry the rebuild must fire")
    // and the loop still serves
    val q = (9000L until 9003L).map(row(_, drifted = true))
      .toDF("url", "doc_id", "text", "emb").select("doc_id", "emb")
    assert(Similarity.ivfPqIndexTopK(spark, vecDir, q, "doc_id", "emb",
      k = 2, nProbe = 4).count() > 0)
  }
}
