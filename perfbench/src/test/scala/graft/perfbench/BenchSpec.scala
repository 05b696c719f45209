package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Writer
import graft.pipeline.Pipeline

class BenchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // small versions of both workload shapes. The grid one runs every task, so
  // as a model run it writes results.json with the summary; the regional one
  // requests a qualifier breakdown. Between them every family the check
  // knows is written.
  private val grid = Workload.GridTiles.copy(name = "tiny_grid", months = 13, gridSide = 4, tasks = Nil)
  private val regional = Workload.RegionalFanout.copy(name = "tiny_regional", months = 2,
    fanout = Seq(2, 2, 2), requestQualifiers = true, rawCountThreshold = 8)

  private def tmp(): Path = Files.createTempDirectory("perfbench-spec")

  private def staged(w: Workload, seed: Long): Seq[String] = w.stage(spark, seed, tmp().resolve("in").toString)

  private def rows(paths: Seq[String]) =
    paths.flatMap(p => spark.read.parquet(p).collect().map(_.toSeq)).sortBy(_.toString)

  test("the same seed stages the same input, another seed does not") {
    val a = rows(staged(regional, 7))
    assert(a.size == regional.rows)
    assert(rows(staged(regional, 7)) == a)
    assert(rows(staged(regional, 8)) != a)
  }

  private def files(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
  }

  for (w <- Seq(grid, regional)) {
    test(s"${w.name}: the check passes the pipeline's tree and rejects wrong, missing and extra objects") {
      val exp = new Expected(w, 3)
      val paths = staged(w, 3)
      val out = tmp().resolve("out")
      val result = Pipeline.run(spark, w.config(paths, out.toString, "file"))
      assert(exp.checkResult(result).isEmpty)
      val clean = Check.tree(out, exp)
      assert(clean.problems.isEmpty, clean.problems)
      assert(clean.objects == exp.objects)

      val all = files(out)
      def rejects(what: String)(mutate: => Unit)(undo: => Unit): Unit = {
        mutate
        assert(!Check.tree(out, exp).ok, s"$what was accepted")
        undo
        assert(Check.tree(out, exp).ok, s"undoing $what")
      }
      val victim = all.head
      val body = Files.readAllBytes(victim)
      rejects("a missing object")(Files.delete(victim))(Files.write(victim, body))
      val extra = victim.resolveSibling("extra.csv")
      rejects("an extra object")(Files.write(extra, body))(Files.delete(extra))
      val leftover = victim.resolveSibling(victim.getFileName.toString + ".inprogress-1")
      rejects("an in-progress leftover")(Files.write(leftover, body))(Files.delete(leftover))

      // the last row of a CSV with a checked integer sum: for the grid
      // stats that is the zoom-14 row, whose extrema the check compares
      def header(p: Path) = new String(Files.readAllBytes(p), StandardCharsets.UTF_8).linesIterator.next().split(',')
      val (csv, col) = all.filter(_.toString.endsWith(".csv")).iterator.flatMap { p =>
        Seq("s_sum_t_sum", "max_s_sum_t_sum").map(header(p).indexOf(_)).find(_ >= 0).map(p -> _)
      }.next()
      val text = new String(Files.readAllBytes(csv), StandardCharsets.UTF_8)
      val lines = text.split('\n')
      val cells = lines.last.split(",", -1)
      cells(col) = (cells(col).toDouble + 1).toString
      val wrong = (lines.init :+ cells.mkString(",")).mkString("", "\n", "\n")
      rejects("a wrong sum")(Files.write(csv, wrong.getBytes(StandardCharsets.UTF_8)))(
        Files.write(csv, text.getBytes(StandardCharsets.UTF_8)))

      if (w.recordsResults && !w.isIndicator) {
        val results = all.find(_.toString.endsWith("results.json")).get
        val json = new String(Files.readAllBytes(results), StandardCharsets.UTF_8)
        val sum = "\"s_sum_t_sum\":\\s*([0-9.eE+-]+)".r.findFirstMatchIn(json).get
        val bumped = json.patch(sum.start(1), (sum.group(1).toDouble + 1).toString, sum.group(1).length)
        rejects("a wrong summary")(Files.write(results, bumped.getBytes(StandardCharsets.UTF_8)))(
          Files.write(results, json.getBytes(StandardCharsets.UTF_8)))
      }

      if (w.gridSide > 0) {
        val tile = all.find(_.toString.endsWith(".tile")).get
        val bytes = Files.readAllBytes(tile)
        val other = all.filter(_.toString.endsWith(".tile")).map(Files.readAllBytes).find(!_.sameElements(bytes)).get
        rejects("a wrong tile")(Files.write(tile, other))(Files.write(tile, bytes))
      }
    }

    test(s"${w.name}: the traced replay writes what Pipeline.run writes") {
      val exp = new Expected(w, 5)
      val out = tmp().resolve("traced")
      val sc = spark.sparkContext
      val acc = Seq("calls", "bytes", "busy").map(n => sc.longAccumulator(n))
      val tracer = new Tracer(sc)
      val objects = Replay.run(spark, w.config(staged(w, 5), out.toString, "file"), tracer,
        TimedWriter(Writer.forDest("file", out.toString), acc(0), acc(1), acc(2)))
      assert(objects == exp.objects)
      assert(acc(0).value == exp.objects)
      val report = Check.tree(out, exp)
      assert(report.problems.isEmpty, report.problems)
      val spans = tracer.trace
      assert(spans.head.name == "pipeline")
      assert(spans.tail.map(_.name).toSet.subsetOf(Replay.Layers.toSet))
      assert(spans.indices.map(tracer.objectsOf).sum == objects)
      assert(spans.exists(_.name == "tiles") == (w.gridSide > 0))
      assert(spans.exists(_.name == "results") == w.recordsResults)
    }
  }
}
