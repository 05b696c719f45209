package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.io.{Json, Writer}
import graft.pipeline.Pipeline

/** Times `Pipeline.run` on one seeded workload and prints one JSON line of
  * metrics as the last line of stdout.
  *
  * Usage: graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <scratch dir>
  *
  * Every call to the pipeline is one operation; a call that throws or
  * whose output fails [[Check]] counts as failed. */
object Main {

  private final case class Call(wallS: Double, cpuS: Double, objects: Long, bytes: Long,
                                cachePeak: Long, problems: Seq[String])

  /** How far the traced wall may exceed the layers' summed self time: the
    * root span's own driver work (plan decisions, unpersists) plus the
    * replay's entry and exit. */
  private val SelfSumTolS = 0.2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workload.named(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      graft.plans.GraftExtensions.register(spark)
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      println(new Bench(spark, listener, w, seed, seconds, work).run(sessionS, traced))
    } finally spark.stop()
  }

  private final class Bench(spark: SparkSession, listener: LayerListener, w: Workload, seed: Long,
                            seconds: Double, work: Path) {
    private val sc = spark.sparkContext
    private val exp = {
      val t0 = System.nanoTime()
      val e = new Expected(w, seed)
      log(f"expectations: ${e.objects} objects in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      e
    }
    private val input = work.resolve("input")
    private var dataPaths: Seq[String] = Nil
    private var attempted = 0
    private var failed = 0
    private var calls = 0

    private def record(c: Call, what: String): Call = {
      attempted += 1
      if (c.problems.nonEmpty) {
        failed += 1
        log(s"$what failed: ${c.problems.mkString("; ")}")
      }
      c
    }

    /** One `Pipeline.run` into a fresh directory, checked and deleted
      * outside the timed region. */
    private def call(destType: String): Call = {
      calls += 1
      val out = work.resolve(s"out-$calls")
      val cfg = w.config(dataPaths, out.toString, destType)
      listener.takePeak()
      val cpu0 = processCpuNanos()
      val t0 = System.nanoTime()
      val result = Try(Pipeline.run(spark, cfg))
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (processCpuNanos() - cpu0) / 1e9
      listener.drain(sc)
      val peak = listener.takePeak()
      val c = result match {
        case Failure(e) => Call(wallS, cpuS, 0, 0, peak, Seq(e.toString))
        case Success(r) if destType == "file" =>
          val rep = Check.tree(out, exp)
          Call(wallS, cpuS, rep.objects, rep.bytes, peak, exp.checkResult(r) ++ rep.problems)
        case Success(r) => Call(wallS, cpuS, r.objectsWritten, 0, peak, exp.checkResult(r))
      }
      deleteTree(out)
      log(f"$destType call $calls: $wallS%.2f s wall, $cpuS%.2f s cpu, ${c.objects} objects")
      record(c, s"$destType call $calls")
    }

    def run(sessionS: Double, traced: Boolean): String = {
      val t0 = System.nanoTime()
      dataPaths = w.stage(spark, seed, input.toString)
      val stageS = (System.nanoTime() - t0) / 1e9
      val warm = call("file")
      val setupS = sessionS + stageS + warm.wallS
      log(f"set-up: session $sessionS%.2f s, staging $stageS%.2f s, warm-up call ${warm.wallS}%.2f s")
      println(Json.JObj(Seq("workload" -> w.name, "seed" -> seed, "rows" -> w.rows,
        "features" -> w.features, "leaf_regions" -> w.leaves,
        "cells" -> (if (w.gridSide > 0) w.places else 0), "input_mb" -> treeBytes(input) / 1e6,
        "expected_objects" -> exp.objects).map { case (k, v) => k -> Json.of(v) }).render)

      val file = mutable.ArrayBuffer.empty[Call]
      val none = mutable.ArrayBuffer.empty[Call]
      val start = System.nanoTime()
      while (file.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
        file += call("file")
        if (!traced) none += call("none")
      }
      val pipelineS = median(file.map(_.wallS).toSeq)
      val metrics =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("pipeline_s", pipelineS, "s"),
          ("compute_s", median(none.map(_.wallS).toSeq), "s"),
          ("cpu_s", median(file.map(_.cpuS).toSeq), "s"),
          ("objects_per_s", exp.objects / pipelineS, "1/s"),
          ("out_mb", median(file.map(_.bytes.toDouble).toSeq) / 1e6, "MB"),
          ("cache_peak_mb", median(file.map(_.cachePeak.toDouble).toSeq) / 1e6, "MB"))
        else layers(pipelineS)
      Json.JObj(Seq(
        "correct" -> Json.JBool(failed == 0), "attempted" -> Json.JLong(attempted),
        "failed" -> Json.JLong(failed),
        "metrics" -> Json.JObj(metrics.map { case (n, v, u) =>
          n -> Json.JObj(Seq("value" -> Json.JDouble(v), "unit" -> Json.JStr(u)))
        }))).render
    }

    /** The traced replay: per-layer self, executor-CPU and driver time,
      * jobs, shuffle, spill and objects, plus the writer's own totals. */
    private def layers(pipelineS: Double): Seq[(String, Double, String)] = {
      val out = work.resolve("traced")
      val acc = Seq("calls", "bytes", "busy").map(n => sc.longAccumulator(s"perfbench.writer.$n"))
      val writer = TimedWriter(Writer.forDest("file", out.toString), acc(0), acc(1), acc(2))
      val tracer = new Tracer(sc)
      listener.drain(sc)
      val t0 = System.nanoTime()
      val objects = Try(Replay.run(spark, w.config(dataPaths, out.toString, "file"), tracer, writer))
      val wallS = (System.nanoTime() - t0) / 1e9
      listener.drain(sc)
      val spans = tracer.trace
      val self = Span.selfNanos(spans)
      val layerSelfS = spans.indices.filter(spans(_).parent >= 0).map(self).sum / 1e9
      log(f"traced wall $wallS%.3f s, layer self times sum to $layerSelfS%.3f s")
      val problems = objects match {
        case Failure(e) => Seq(e.toString)
        case Success(n) =>
          Option.when(n != exp.objects)(s"replay wrote $n objects, expected ${exp.objects}").toSeq ++
            Option.when(wallS - layerSelfS < 0 || wallS - layerSelfS > SelfSumTolS)(
              f"layer self times sum to $layerSelfS%.3f s, not within $SelfSumTolS s below the traced wall $wallS%.3f s") ++
            Check.tree(out, exp).problems
      }
      deleteTree(out)
      record(Call(wallS, 0, objects.getOrElse(0L), 0, 0, problems), "traced replay")

      // stage times are epoch milliseconds; spans are nanoTime
      val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
      val rows = Replay.Layers.flatMap { layer =>
        val ids = spans.indices.filter(spans(_).name == layer)
        val totals = ids.flatMap(tracer.totalsOf(_, listener))
        val driverNanos = ids.map { i =>
          val stages = tracer.totalsOf(i, listener).toSeq.flatMap(_.stages)
            .map { case (s, c) => (s * 1000000L + offset, c * 1000000L + offset) }
          self(i) - Span.covered(stages, spans(i).start, spans(i).end)
        }.sum
        Seq(
          (s"$layer.self_s", ids.map(self).sum / 1e9, "s"),
          (s"$layer.cpu_s", totals.map(_.cpuNanos).sum / 1e9, "s"),
          (s"$layer.driver_s", math.max(0L, driverNanos) / 1e9, "s"),
          (s"$layer.jobs", totals.map(_.jobs).sum.toDouble, "count"),
          (s"$layer.shuffle_mb", totals.map(_.shuffleBytes).sum / 1e6, "MB"),
          (s"$layer.spill_mb", totals.map(_.spillBytes).sum / 1e6, "MB"),
          (s"$layer.objects", ids.map(tracer.objectsOf).sum.toDouble, "count"))
      }
      rows ++ Seq(
        ("writer.calls", acc(0).value.toDouble, "count"),
        ("writer.mb", acc(1).value / 1e6, "MB"),
        ("writer.busy_s", acc(2).value / 1e9, "s"),
        ("tracing_overhead_s", wallS - pipelineS, "s"))
    }
  }

  private def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  private def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector finally s.close()
    }

  private def treeBytes(p: Path): Long = files(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(p: Path): Unit = files(p).reverse.foreach(Files.delete)
}
