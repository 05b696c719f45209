package graft
import graft.io.Json.JStr
import graft.testbed.Fixtures
object Bench {
  /** `{"k":v,...}` with compact separators; values are already JSON. */
  private def obj(kvs: Iterable[(String, Any)]): String =
    kvs.map { case (k, v) => JStr(k).render + ":" + v }.mkString("{", ",", "}")

  /** One entry's wall seconds (-1 when it failed), the driver thread's CPU
    * seconds over the same span (planning, codegen, driver-side loops and
    * collects), and the executor work that ran while it did. */
  private[graft] final case class Entry(wall: Double, driverCpu: Double,
                                        work: graft.obs.Metrics.Totals) {
    def cpu: Double = work.cpuNanos / 1e9
    def json: String = obj(Seq("wall" -> wall, "cpu" -> cpu, "driver_cpu" -> driverCpu,
      "gc" -> work.gcMillis / 1e3, "shuffle_mb" -> work.shuffleBytes / 1048576.0,
      "spill_mb" -> work.spillBytes / 1048576.0))
  }

  /** Times one entry's `count()` under a job group named after it, and
    * returns its wall seconds and driver-thread CPU with the executor work
    * that ran in it: the difference of the listener totals across the
    * entry. A failure lands in `errors` and reads as wall -1. */
  private[graft] def time(spark: org.apache.spark.sql.SparkSession, metrics: graft.obs.Metrics,
                          errors: scala.collection.mutable.Map[String, String], sfDir: String,
                          name: String, fn: SparkEntry.Q): Entry = {
    val sc = spark.sparkContext
    val thread = java.lang.management.ManagementFactory.getThreadMXBean
    val before = metrics.drain(sc)
    sc.setJobGroup(name, name)
    val cpu0 = thread.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val wall =
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        -1.0
      }
      finally sc.clearJobGroup()
    val driverCpu = (thread.getCurrentThreadCpuTime - cpu0) / 1e9
    Entry(wall, driverCpu, metrics.drain(sc) - before)
  }

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
    val sc = spark.sparkContext
    val metrics = new graft.obs.Metrics
    sc.addSparkListener(metrics)
    // A failed query must be visible as a failure, not a fast timing:
    // -1 sec marks it and the error list is emitted alongside.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Deterministic order. Within a family the first entry to touch a
    // shared fixture pays its build (d2 builds the edges d12 rides), so
    // compare family totals, or fresh-session single entries
    // (SPARK_GRAFT_ONLY=a,b,c), never one cached entry. Each family runs
    // in its own fixture scope, so it starts from a clean store (the doc
    // battery once inherited ~2 GB of stale cube cache), and a GC at its
    // start keeps the last family's cleaner debt from landing as GC pauses
    // mid-entry (t23 once read 2.5 s in one run and 11.3 s in the next).
    val results = SparkEntry.eachFamily(spark, errors) { qs =>
      System.gc()
      qs.map { case (name, fn) => name -> time(spark, metrics, errors, sfDir, name, fn) }
    }.flatten.sortBy(_._1)
    // Entries whose in-battery number measures their position, re-timed
    // after the battery, each in its own scope (the conditions of a
    // fresh-session SPARK_GRAFT_ONLY run): a18 absorbs a17's eviction and
    // GC wake (17.1 s in the battery vs 1.1 s alone), d11/d12 absorb or
    // ride the shared CC/edge fixtures, t40 eats the t family's GC debt
    // (12.0 s vs 2.8 s), and w3 absorbs the crawl chain's JIT warm-up.
    val retimeNames = Seq("a18_qualifier_prune", "d11_dupgram_fraction",
      "d12_dedup_keep", "t40_doc_pipeline", "w3_crawl_pipeline")
    def retimeOnce(name: String): Entry = Fixtures.scope(spark, errors, name) {
      System.gc()
      time(spark, metrics, errors, sfDir, name, SparkEntry.queries(name))
    }
    val isolated: Seq[(String, Entry)] =
      if (SparkEntry.only.nonEmpty) Seq.empty  // subset runs are already isolated
      else retimeNames.filter(SparkEntry.queries.contains)
        .map(name => name -> retimeOnce(name))
    // cpu-suffixed DEFAULT (r20 verdict #5): the driver's low-CPU scaling
    // run used to overwrite the 32-CPU run's BENCH.json (both defaulted
    // to the same path), losing the round's main per-query artifact.
    // With the core count in the name the two runs land side by side.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH.c$cpus.json")
    val ok = results.filter(_._2.wall >= 0)
    val total = ok.map(_._2.wall).sum
    // Executor CPU does not count time spent waiting for a core, so unlike
    // the wall total it is comparable across host windows.
    val cpuSec = ok.map(_._2.cpu).sum
    // Family totals are per-entry wall sums by name prefix (a scope's wall
    // time would also count its release and the metric drains); "s"
    // merges s4 (cube) into the doc-side s family.
    val familyTimes = ok.groupBy(r => SparkEntry.familyOf(r._1)).toSeq.sortBy(_._1)
      .map { case (f, rs) => f -> rs.map(_._2.wall).sum }
    val json = obj(Seq("metric" -> JStr("total").render, "value" -> total,
      "unit" -> JStr("sec").render, "cpu_sec" -> cpuSec,
      "queries" -> obj(results.map { case (k, e) => k -> e.wall }),
      "per_query" -> obj(results.map { case (k, e) => k -> e.json }),
      "families" -> obj(familyTimes),
      "isolated" -> obj(isolated.map { case (k, e) => k -> e.json }),
      "errors" -> obj(errors.map { case (k, v) => k -> JStr(v).render }),
      "sf" -> JStr(sfDir).render))
    println(json)
    // COMPACT summary line, printed LAST (r20 verdict #5): the driver
    // captures a bounded stdout tail (~2000 chars) and the full JSON line
    // above outgrew it rounds ago (every BENCH_r{N}.json since r16 parsed
    // null). This second line carries only scalars, so its length is
    // bounded whatever the battery holds and the tail always contains one
    // complete parseable JSON object; the per-query and per-family maps
    // ship via the line above and the $outPath file.
    val compact = obj(Seq("metric" -> JStr("total_compact").render, "total_sec" -> total,
      "cpu_sec" -> cpuSec, "n" -> results.size, "n_errors" -> errors.size, "cpus" -> cpus,
      "sf" -> JStr(sfDir).render, "out" -> JStr(outPath).render))
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
