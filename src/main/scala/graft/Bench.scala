package graft
import graft.io.Json.JStr
object Bench {
  /** `{"k":v,...}` with compact separators; values are already JSON. */
  private def obj(kvs: Iterable[(String, Any)]): String =
    kvs.map { case (k, v) => JStr(k).render + ":" + v }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    def dirBytes(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    val inputBytes = dirBytes(new java.io.File(sfDir))
    // Heavy-exchange sizing is the DEFAULT, not an env knob: a default
    // that falls over at the rehearsal SF is the wrong default (r13 —
    // d22's sf10 candidate aggregation OOM'd 32 shared-heap partitions
    // while the SAME run completed at initialPartitionNum=512). Derived
    // from INPUT SIZE at ~8 MiB of parquet per initial partition,
    // floored at the core count: sf10 (1.5 GB) gets ~188 partitions —
    // measured (r15 refresh, dated + canary-stamped in SCALE.md): d22
    // completes in 126.1 s at the default 8 GB heap, zero env
    // overrides, FASTER than both r13 mitigations. Inputs under
    // cores x 8 MiB stay at the core count, so at the official 32-core
    // bench both sf0.1 (~18 MB) and sf1 (~170 MB < 256 MiB) keep
    // cpus partitions and no small-SF entry can regress by
    // construction; at fewer cores (e.g. local[4]) sf1 derives ~21
    // initial partitions and relies on AQE coalescing — fine for dev
    // runs, but cross-round sf1 numbers must come from the 32-core
    // config. (A flat 16x-cores floor was measured first and
    // rejected: it taxed the iterative graph family 1.5-2.2x at sf0.1 —
    // hundreds of near-empty map tasks per CC/PageRank round.) AQE
    // coalesces small stages back down, so the derived count only bites
    // where exchanges are actually heavy — the production posture where
    // shuffle.partitions is a floor, not the working count.
    val spark = Session.local(cpus)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      math.max(cpus.toLong, inputBytes >> 23))
    // Contention canary: a fixed pure-CPU probe timed before and after the
    // battery. It reads no files and shuffles one row per core, so any
    // first-vs-last divergence measures machine contention (other processes
    // sharing the cores during the run), not our plan costs — driver-run
    // benches have carried ~1.4-2x inflation vs quiet same-machine re-runs,
    // and the flag makes that visible in the emitted JSON instead of
    // silently poisoning round-over-round comparison. One untimed warm-up
    // run absorbs JIT/codegen so the first timed probe is not inflated by
    // JVM warmup.
    // min-of-3 per probe: a single timed run also measures whatever GC /
    // heap-aging / residual JIT the preceding work left behind, which is
    // not contention; the min of three back-to-back runs is the
    // steady-state number (min-of-2 still flagged a quiet machine at 1.51×
    // once — the first probe's JIT tail).
    // probe body + tuning history live in graft.testbed.CpuCanary
    def canary(): Double = graft.testbed.CpuCanary.probe(spark, cpus)
    // Warm up until STEADY, not for a fixed count: a single untimed
    // min-of-3 still left enough JIT tail to flag a quiet machine at
    // 1.4-1.6× (r7's false positive — first 0.186 vs last 0.076 with
    // nothing else running). THREE consecutive runs agreeing within 10%
    // means compilation has converged and the first timed probe measures
    // the machine, not the JVM — two probes agreeing once proved too weak
    // (a quiet-machine run still flagged at 1.54× when two early probes
    // happened to agree on the JIT tail); the iteration cap keeps a
    // genuinely contended machine (which may never agree) from stalling
    // the bench.
    val warmRuns = graft.testbed.CpuCanary.warm(spark, cpus)
    val canaryFirst = canary()
    // early visibility: the window's health BEFORE the battery spends
    // ~10 min — lets an operator abort a degraded-window recording
    // instead of discovering it in the final JSON (r17 lesson)
    println(f"[bench] canary_first_ns_per_row=${graft.testbed.CpuCanary.nsPerRow(canaryFirst)}%.3f")
    // IO/bandwidth canary next to the pure-CPU probe: scans a real
    // parquet (page-cache-resident after the untimed warm read) and pays
    // ONE full-data exchange, so memory-bandwidth and page-cache
    // contention register here. The CPU probe reads no files and
    // shuffles one row per core — r13 produced direct evidence of a
    // battery running uniformly 1.3-1.5x slow at an IDENTICAL CPU probe
    // reading (the contention was in the bandwidth the probe never
    // touches). min-of-3 for the same steady-state reasons as above.
    // lineitem is the largest table at every SF (11 MB at sf0.1 vs
    // documents' 0.6 MB) — the probe should move real bytes
    val ioPath = new java.io.File(s"$sfDir/lineitem.parquet")
    val ioBytes = dirBytes(ioPath)
    def ioOnce(): Double = {
      val t0 = System.nanoTime()
      // modulo keeps the sum inside a long under ANSI mode (same trick
      // as the CPU probe); the repartition exchanges EVERY row with all
      // columns attached, so shuffle bandwidth registers too
      spark.read.parquet(ioPath.getPath)
        .repartition(cpus,
          org.apache.spark.sql.functions.col("l_orderkey"))
        .selectExpr(
          "sum(xxhash64(l_partkey, l_quantity, l_returnflag) % 1000000007) as s")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    def ioCanary(): Double =
      if (!ioPath.exists()) -1.0 else Seq.fill(3)(ioOnce()).min
    if (ioPath.exists()) ioOnce() // untimed: page cache + codegen warm
    val ioFirst = ioCanary()
    // A failed query must be visible as a failure, not a fast timing:
    // -1 sec marks it and the error list is emitted alongside.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def run(qs: Seq[(String, SparkEntry.Q)]): Seq[(String, Double)] =
      qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            false
          }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    // deterministic order: per-query timings comparable across rounds
    // (the first cube-touching query absorbs the cache materialization).
    // Same caveat WITHIN the doc dedup family: alphabetical order means
    // e.g. d12 materializes the shared edge/label cache that d2 then
    // rides, so a per-query number there measures battery position, not
    // operator cost — compare family totals across rounds, or fresh-
    // session single queries (SPARK_GRAFT_ONLY), never one cached entry.
    // The datacube family runs first, then its caches are dropped so the
    // doc battery starts from a clean store (r3's d3/d4 regression was the
    // doc battery inheriting ~2 GB of stale uncompressed cube cache).
    // SPARK_GRAFT_ONLY=a,b,c: fresh-session timing of a named subset
    // (battery-order cache effects excluded); absent -> full battery,
    // exactly what the round driver runs.
    val (cubeQs, docQs) = SparkEntry.selectedFamilies
    // Mid-battery canary TIMELINE (r18): the endpoint probes alone can
    // miss the window the battery actually ran in — the r18 sf1
    // recording measured first=0.874/last=0.380 ns/row (host calming
    // mid-run), and min-of-endpoints normalization then treats a
    // contended battery as quiet, inflating normalized totals and
    // over-flagging the auto-isolation gate. One probe at each family
    // barrier (~0.3 s each, JVM long since hot there) timestamps the
    // window per family; the battery-median drives the gate's
    // threshold scaling, and the full timeline ships in the JSON so a
    // reader can normalize per family instead of per run.
    val canaryTimeline =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val cubeResults = run(cubeQs)
    canaryTimeline("cube") = graft.testbed.CpuCanary.nsPerRow(canary())
    graft.testbed.DatacubeQueries.clearCaches(spark)
    // The doc battery runs as prefix FAMILIES (d, g, ir, m, o, t, v) with a
    // cache-drop + GC barrier between them: every shared materialization
    // (jaccard edges, CC labels, classifier model) lives within one prefix,
    // so the barrier costs only a table re-cache (the tables are row-tiny at
    // bench SFs) while keeping cache pressure and cleaner debt from one
    // family from landing as mid-query GC pauses in a later one — the r10
    // in-battery variance (same code: 232 s pre-run vs 342 s official,
    // t23 2.5 s vs 11.3 s) with the canary blind to it.
    def familyOf(name: String): String = name.takeWhile(!_.isDigit)
    val docFamilies = docQs.groupBy(q => familyOf(q._1)).toSeq.sortBy(_._1)
    val familyTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val docResults = docFamilies.flatMap { case (fam, qs) =>
      val t0 = System.nanoTime()
      val rs = run(qs)
      familyTimes(fam) = (System.nanoTime() - t0) / 1e9
      canaryTimeline(fam) = graft.testbed.CpuCanary.nsPerRow(canary())
      graft.testbed.DocQueries.clearCaches(spark)
      System.gc()
      rs
    }
    val results = (cubeResults ++ docResults).sortBy(_._1)
    // Known battery-order cache absorbers, re-timed AFTER the battery from
    // a cleared-cache, settled state (same conditions as a fresh-session
    // SPARK_GRAFT_ONLY run). Their in-battery numbers measure position —
    // a18 absorbs a17's 534k-row eviction/GC wake (17.1 s in-battery vs
    // 1.1 s isolated in the r9 audit), d11/d12 absorb or ride the shared
    // CC/edge materializations, t40 (multi-checkpoint pipeline) eats
    // whatever GC debt the t family accrued before it (12.0 s in the r12
    // official run vs 2.8 s quiet — the variance class that cost r12 a
    // phantom regression) — so the honest per-operator cost is
    // published alongside, not instead of, the battery numbers.
    // w3 joined the list in r15: the battery's most expensive entry runs
    // first in its family (alphabetical) and absorbs the crawl chain's
    // JIT/codegen warm-up; the isolated number is the honest operator cost
    val retimeNames = Seq("a18_qualifier_prune", "d11_dupgram_fraction",
      "d12_dedup_keep", "t40_doc_pipeline", "w3_crawl_pipeline")
    def retimeOnce(name: String): Double =
      SparkEntry.queries.get(name).map { fn =>
        System.gc()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); () }
        catch { case _: Throwable => () }
        val t = (System.nanoTime() - t0) / 1e9
        graft.testbed.DatacubeQueries.clearCaches(spark)
        graft.testbed.DocQueries.clearCaches(spark)
        t
      }.getOrElse(-1.0)
    val isolated: Seq[(String, Double)] =
      if (SparkEntry.only.nonEmpty) Seq.empty  // subset runs are already isolated
      else retimeNames.filter(SparkEntry.queries.contains)
        .map(name => name -> retimeOnce(name))
    // ---- auto-isolation of in-battery anomalies ---------------------------
    // A contended/GC window can inflate one family's in-battery numbers
    // 2-4x while both canaries read clean (the r16 g-family artifact: the
    // official 26.9 s family total did not reproduce — 8.6 s on a judge
    // re-run at a SLOWER canary), and adjudicating it needed a whole
    // fresh battery. Self-adjudicate instead: any entry whose in-battery
    // time exceeds 2x its baseline value (canary-scaled, read from the
    // artifact SPARK_GRAFT_BENCH_PREV names; unset → the gate is off) is
    // re-timed in isolation after the battery, and BOTH numbers ship —
    // a contended-window artifact then carries its own correction.
    // READING the isolated value for CACHE-SHARING entries: the retime
    // clears the battery caches first, so an entry that rides a shared
    // materialization (w4 rides w3's crawlShared, d2 rides d12's edge
    // cache, ...) pays the WHOLE shared pipeline in its isolated number —
    // for those, isolated >> battery means "the flag was position/window
    // noise", not "the operator is slow" (the r17 sf1 w4 case: battery
    // 5.9 s flagged, isolated 10.3 s = the full crawl chain, while a
    // fresh-session warm-cache A/B measured the operator at 1.25 s).
    // cpu-suffixed DEFAULT (r20 verdict #5): the driver's low-CPU scaling
    // run used to overwrite the 32-CPU run's BENCH.json (both defaulted
    // to the same path), losing the round's main per-query artifact.
    // With the core count in the name the two runs land side by side.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH.c$cpus.json")
    def parsePrev(path: String): (Map[String, Double], Double, String) =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
        val qm = "\"queries\":\\{([^}]*)\\}".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        // the exponent sign is mandatory in the pattern's tail: a plain
        // [0-9.eE+]+ class stops at the '-' of "4.0E-4" (Scala renders
        // sub-1e-3 doubles in scientific notation), the truncated token
        // fails toDouble, and the enclosing catch would silently disable
        // the whole gate for the round
        val num = "-?[0-9.]+(?:[eE][+-]?[0-9]+)?"
        val entries = ("\"([^\"]+)\":(" + num + ")").r.findAllMatchIn(qm)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val ns = ("\"ns_per_row\":(" + num + ")").r
          .findFirstMatchIn(txt).map(_.group(1).toDouble).getOrElse(-1.0)
        val sf = "\"sf\":\"([^\"]*)\"".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        (entries, ns, sf)
      } catch { case scala.util.control.NonFatal(_) => (Map.empty, -1.0, "") }
    // The baseline is named explicitly, never found: never the out path
    // this run will overwrite (the r17 failure: the on-disk BENCH.json was
    // an earlier CONTENDED same-round recording, its prev_scaled
    // thresholds ran ~3x low, and the spurious flags burned the whole
    // retime cap before the real anomalies were examined). The sf check
    // below reads the baseline's own "sf" field, so a wrong-sf baseline
    // leaves the gate off.
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "")
    val (prevQ, prevNs, prevSf) = parsePrev(prevPath)
    // post-battery probe measured HERE (before the gate, after the
    // static retimes) so the gate scales by the same min-of-both
    // ns_per_row the artifact publishes: the r17 sf1 run proved the
    // first probe alone can carry a 2x JIT tail the warm-until-steady
    // loop missed (0.64 vs 0.31 ns/row), which would silently double
    // every threshold
    val canaryLast = canary()
    val nsPerRow = math.min(canaryFirst, canaryLast) / 2e8 * 1e9
    // the window the battery ACTUALLY ran in: median of the per-family
    // barrier probes (endpoint min can read quiet when the battery ran
    // contended — the r18 sf1 lesson). Drives the gate's threshold
    // scaling; prior artifacts publish endpoint-min ns_per_row, which
    // equals the median for any quiet recording, so cross-round scaling
    // stays consistent for clean baselines.
    val timelineVals = canaryTimeline.values.toSeq.sorted
    val nsBattery =
      if (timelineVals.isEmpty) nsPerRow else timelineVals(timelineVals.size / 2)
    // the family's battery-window probe, stamped onto every flag so a
    // window-local artifact self-identifies (r18 verdict #1: the a-family
    // flags shipped without the 0.726 ns/row patch evidence that
    // adjudicated them)
    def famCanaryOf(name: String): Double =
      canaryTimeline.getOrElse(familyOf(name),
        canaryTimeline.getOrElse("cube", nsBattery))
    // FAMILY-AWARE isolated retime (r18 verdict #1): an isolated a-entry
    // re-pays the a00 cube-cache build it shares in battery order, so a
    // bare retime reads WORSE than the battery number and a flag
    // "confirms" a regression that never happened. Re-run the family's
    // alphabetically-first entry UNTIMED first — the battery's own
    // cache-absorber position — so the retime measures the flagged
    // operator, not the family's shared materialization.
    def retimeFlagged(name: String): Double =
      SparkEntry.queries.get(name).map { fn =>
        graft.testbed.DatacubeQueries.clearCaches(spark)
        graft.testbed.DocQueries.clearCaches(spark)
        System.gc()
        val fam = familyOf(name)
        SparkEntry.queries.keys.toSeq.sorted
          .find(k => familyOf(k) == fam).filter(_ != name)
          .foreach { w =>
            try { SparkEntry.queries(w)(spark, sfDir).count(); () }
            catch { case _: Throwable => () }
          }
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); () }
        catch { case _: Throwable => () }
        val t = (System.nanoTime() - t0) / 1e9
        graft.testbed.DatacubeQueries.clearCaches(spark)
        graft.testbed.DocQueries.clearCaches(spark)
        t
      }.getOrElse(-1.0)
    val autoIsolated: Seq[(String, Double, Double, Double, Double)] =
      if (SparkEntry.only.nonEmpty || prevQ.isEmpty || prevSf != sfDir) Seq.empty
      else {
        val scaleP = if (prevNs > 0 && nsBattery > 0) nsBattery / prevNs else 1.0
        val flagged = results.flatMap { case (name, cur) =>
          prevQ.get(name) match {
            // floor at 1 s: sub-second entries flap on job-overhead noise;
            // entries already on the static retime list publish isolated
            // numbers unconditionally above
            case Some(p) if cur >= 1.0 && p > 0 && cur > 2.0 * p * scaleP &&
                !retimeNames.contains(name) =>
              Some((name, cur, p * scaleP))
            case _ => None
          }
        }
        // EVERY flagged entry ships (a flag the artifact silently drops
        // is an uncorrected anomaly — the r17 failure mode: the cap was
        // applied in battery order and g1/g2/g3/t45 never got slots);
        // the retime bill alone is capped, spent worst-overshoot-first,
        // and an un-retimed flag carries isolated = -1 ("flagged, not
        // re-timed — adjudicate with a fresh-session run").
        val byOvershoot = flagged.sortBy { case (_, cur, ps) => -(cur / ps) }
        val retimed = byOvershoot.take(12)
          .map { case (name, cur, ps) =>
            (name, cur, retimeFlagged(name), ps, famCanaryOf(name)) }
        val unretimed = byOvershoot.drop(12)
          .map { case (name, cur, ps) =>
            (name, cur, -1.0, ps, famCanaryOf(name)) }
        retimed ++ unretimed
      }
    val qs = obj(results)
    val errJson = obj(errors.map { case (k, v) => k -> JStr(v).render })
    val total = results.map(_._2).filter(_ >= 0).sum
    // canaryLast/nsPerRow are measured above (before the auto-isolation
    // gate, which scales by them). Directional contention rule:
    // contention can only make the post-battery probe SLOWER
    // than the pre-battery one. A faster last probe is residual JIT/GC
    // settling that the warm-until-steady loop missed (observed 0.31 →
    // 0.18 on a quiet machine after 12 agreeing warm runs — the battery
    // itself deep-warms Spark code paths the probe shares), and the old
    // symmetric max/min ratio flagged that improvement as contention.
    // ns_per_row is the probe's absolute per-row cost (best of both
    // probes, total work is 2e8 rows regardless of core count) — the
    // ratio flag is blind to contention that inflates BOTH probes
    // equally; the absolute number is comparable across rounds.
    val contended = canaryLast / math.max(1e-9, canaryFirst) > 1.5
    val ioLast = ioCanary()
    // same directional rule as the CPU probe: only a SLOWER post-battery
    // IO probe is contention
    val ioContended =
      ioFirst > 0 && ioLast / math.max(1e-9, ioFirst) > 1.5
    // absolute cross-round gauge (the flag is blind to contention that
    // inflates both probes): input bytes through the scan+exchange per
    // second, best of both probes
    val ioMbPerSec =
      if (ioFirst <= 0) -1.0
      else ioBytes / 1048576.0 / math.min(ioFirst, math.max(1e-9, ioLast))
    val timelineJson = obj(canaryTimeline)
    val canaryJson =
      s"""{"first":$canaryFirst,"last":$canaryLast,"contended":$contended,"warmup_runs":$warmRuns,"ns_per_row":$nsPerRow,"ns_per_row_battery":$nsBattery,"timeline":$timelineJson,"io_first":$ioFirst,"io_last":$ioLast,"io_contended":$ioContended,"io_mb_per_sec":$ioMbPerSec}"""
    val isoJson = obj(isolated)
    val autoIsoJson = obj(autoIsolated.map { case (k, bat, iso, ps, fc) =>
      k -> s"""{"battery":$bat,"isolated":$iso,"prev_scaled":$ps,"family_canary":$fc}"""
    })
    // Cube-battery families (a/g/o/p/s...) run in one block with no
    // per-family barrier, so their totals are per-query sums rather than
    // barrier wall-times — within noise of each other (the doc wall-time
    // is its queries' sum plus microseconds of loop overhead). Emitting
    // ALL families makes cross-round family comparison — the first thing
    // judge and builder reach for — cover the datacube, graph, and
    // curation families too, not just the doc battery. One definition
    // change vs <=r14 artifacts: "s" now merges s4 (cube) into the
    // doc-side s family, so it reads slightly higher than r14's
    // doc-only "s".
    val cubeFamilyTimes = cubeResults.filter(_._2 >= 0)
      .groupBy(r => familyOf(r._1)).map { case (f, rs) => f -> rs.map(_._2).sum }
    cubeFamilyTimes.toSeq.sortBy(_._1).foreach { case (f, t) =>
      familyTimes(f) = familyTimes.getOrElse(f, 0.0) + t
    }
    val famJson = obj(familyTimes.toSeq.sortBy(_._1))
    // Canary-normalized family totals alongside the raw ones: cross-round
    // tables kept needing manual normalization because the official runs
    // land in host windows up to ~1.5x apart (r13 sf1 canary 0.406 vs r15
    // 0.573 ns/row). Convention: scale every family to a canonical
    // 0.40 ns/row host (the quiet-window figure this repo's round history
    // centers on), i.e. normalized = raw * (0.40 / measured_ns_per_row).
    // Since r18 the measured figure is PER FAMILY (that family's own
    // barrier probe — the window can shift mid-battery); cube-block
    // families share the post-cube sample, and a run with no timeline
    // (subset runs) falls back to the battery median. The reference
    // constant is emitted too so a reader can undo it.
    val refNsPerRow = 0.40
    def famNs(f: String): Double = canaryTimeline.getOrElse(f,
      canaryTimeline.getOrElse("cube", nsBattery))
    val famNormJson = obj(familyTimes.toSeq.sortBy(_._1).map { case (k, v) =>
      val ns = famNs(k)
      k -> v * (if (ns > 0) refNsPerRow / ns else 1.0)
    })
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"families":$famJson,"families_normalized":$famNormJson,"canary_ref_ns_per_row":$refNsPerRow,"isolated":$isoJson,"auto_isolated":$autoIsoJson,"errors":$errJson,"canary":$canaryJson,"sf":${JStr(sfDir).render}}"""
    println(json)
    // COMPACT summary line, printed LAST (r20 verdict #5): the driver
    // captures a bounded stdout tail (~2000 chars) and the full JSON line
    // above outgrew it rounds ago (every BENCH_r{N}.json since r16 parsed
    // null). This second line carries only scalars, so its length is
    // bounded whatever the battery holds and the tail always contains one
    // complete parseable JSON object; the per-query and per-family maps
    // ship via the line above and the $outPath file.
    val compact = s"""{"metric":"total_compact","total_sec":$total,"n":${results.size},"n_errors":${errors.size},"cpus":$cpus,"canary_ns_per_row":$nsPerRow,"canary_battery":$nsBattery,"contended":$contended,"sf":${JStr(sfDir).render},"out":${JStr(outPath).render}}"""
    println(compact)
    // The driver captures stdout with a bounded tail, and two rounds in a
    // row (r14, r15) the official BENCH_r{N}.json arrived truncated with
    // the per-query dict unusable. The file write makes the artifact
    // self-sufficient: BENCH.c$cpus.json at the working directory (repo
    // root under sbt), SPARK_GRAFT_BENCH_OUT overrides it.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    // A bench with failed queries is a failed bench: rc=0 with an errors map
    // let three broken queries ride through two whole rounds unnoticed.
    if (errors.nonEmpty) sys.exit(1)
  }
}
