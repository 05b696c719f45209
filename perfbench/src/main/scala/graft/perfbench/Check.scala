package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.model.Schema
import graft.tiles.TileProto

/** Checks an output tree against [[Expected]] without depending on how
  * Spark partitioned the work: the path set and every integer sum and
  * count must match exactly, sums of means within [[Check.RelTol]]. */
object Check {
  val RelTol = 1e-9

  final case class Report(objects: Long, bytes: Long, problems: Seq[String]) {
    def ok: Boolean = problems.isEmpty
  }

  private final case class Csv(header: IndexedSeq[String], rows: IndexedSeq[Array[String]]) {
    def col(name: String): Int = {
      val i = header.indexOf(name)
      require(i >= 0, s"no column $name in ${header.mkString(",")}")
      i
    }
  }

  private def readCsv(p: Path): Csv = {
    val lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split('\n')
    Csv(lines.head.split(',').toIndexedSeq, lines.tail.toIndexedSeq.map(_.split(",", -1)))
  }

  private def num(s: String): Double = if (s.isEmpty) 0.0 else s.toDouble

  /** A JSON object as json4s values: objects are Maps, arrays Lists. */
  private def jsonObject(text: String): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(text).values.asInstanceOf[Map[String, Any]]

  /** A JSON number, which json4s reads as BigInt or Double. */
  private def jnum(v: Any): Double = v match {
    case n: BigInt => n.toDouble
    case d: Double => d
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  def tree(root: Path, exp: Expected): Report = {
    val problems = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = if (problems.size < 20) problems += msg

    val files =
      if (!Files.isDirectory(root)) Seq.empty[Path]
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
      }
    val rel = files.map(f => root.relativize(f).toString.replace('\\', '/') -> f).toMap
    val bytes = files.iterator.map(Files.size).sum

    rel.keys.filter(_.contains(".inprogress-")).take(5).foreach(p => fail(s"in-progress leftover: $p"))
    val missing = exp.paths -- rel.keySet
    val extra = rel.keySet -- exp.paths
    if (missing.nonEmpty) fail(s"${missing.size} missing objects, e.g. ${missing.take(3).mkString(", ")}")
    if (extra.nonEmpty) fail(s"${extra.size} unexpected objects, e.g. ${extra.take(3).mkString(", ")}")

    val actual = mutable.HashMap.empty[String, mutable.HashMap[String, Agg]]
    def tally(family: String, key: String, a: Agg): Unit = {
      val m = actual.getOrElseUpdate(family, mutable.HashMap.empty)
      m.update(key, m.get(key).fold(a)(_ + a))
    }
    def rowAgg(c: Csv, r: Array[String]): Agg =
      Agg(num(r(c.col("s_sum_t_sum"))), num(r(c.col("s_count"))), num(r(c.col("s_sum_t_mean"))))
    def exact(what: String, got: Double, want: Double): Unit =
      if (got != want) fail(s"$what: $got != $want")

    val w = exp.w
    val p = java.util.regex.Pattern.quote(exp.prefix)
    val Raw = s"$p/raw/([^/]+)/raw/raw.csv".r
    val RegionLists = s"$p/raw/([^/]+)/info/region_lists.json".r
    val QualValues = s"$p/raw/([^/]+)/info/qualifiers/([^/]+).json".r
    val QualCounts = s"$p/raw/([^/]+)/info/qualifier_counts.json".r
    val Global = s"$p/(month|year)/([^/]+)/timeseries/global/global.csv".r
    val Pivot = s"$p/(month|year)/([^/]+)/timeseries/qualifiers/([^/]+)/([^/]+).csv".r
    val Extrema = s"$p/(month|year)/([^/]+)/regional/([^/]+)/stats/default/extrema.json".r
    val RegionTs = s"$p/(month|year)/([^/]+)/regional/([^/]+)/timeseries/default/([^/]+).csv".r
    val RegionTsQ = s"$p/(month|year)/([^/]+)/regional/([^/]+)/timeseries/qualifiers/([^/]+)/[^/]+/[^/]+.csv".r
    val RegionAgg = s"$p/(month|year)/([^/]+)/regional/([^/]+)/aggs/(\\d+)/default/default.csv".r
    val RegionAggQ = s"$p/(month|year)/([^/]+)/regional/([^/]+)/aggs/(\\d+)/qualifiers/([^/]+).csv".r
    val Grid = s"$p/(month|year)/([^/]+)/stats/grid/(\\d+).csv".r
    val Tile = s"$p/(month|year)/([^/]+)/tiles/(\\d+)-(\\d+)-(\\d+)-(\\d+).tile".r
    val Results = s"$p/results/results.json".r
    def level(name: String): Int = w.levelNames.indexOf(name)
    def feature(name: String): Int = w.featureNames.indexOf(name)
    def text(f: Path) = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)

    for ((path, file) <- rel if exp.paths.contains(path)) try path match {
      case Raw(fn) =>
        val c = readCsv(file)
        exact(s"$path rows", c.rows.size, exp.rowsPerFeature(feature(fn)))
        exact(s"$path value sum", c.rows.map(r => num(r(c.col("value")))).sum, exp.valueSum(feature(fn)))
      case RegionLists(fn) =>
        if (text(file) != exp.regionListsJson(feature(fn))) fail(s"$path differs")
      case QualValues(fn, q) =>
        if (text(file) != exp.qualifierValuesJson(feature(fn), w.qualNames.indexOf(q))) fail(s"$path differs")
      case QualCounts(fn) =>
        if (text(file) != exp.qualifierCountsJson(feature(fn))) fail(s"$path differs")
      case Global(tr, fn) =>
        val c = readCsv(file)
        c.rows.foreach(r => tally("global", s"$tr/$fn/${r(c.col("timestamp"))}", rowAgg(c, r)))
      case Pivot(tr, fn, q, aggCol) if Set("s_sum_t_sum", "s_count", "s_sum_t_mean")(aggCol) =>
        val c = readCsv(file)
        c.rows.foreach { r =>
          val v = r.indices.filter(_ != c.col("timestamp")).map(i => num(r(i))).sum
          val a = aggCol match {
            case "s_sum_t_sum" => Agg(v, 0, 0)
            case "s_count" => Agg(0, v, 0)
            case _ => Agg(0, 0, v)
          }
          tally(s"pivot/$q", s"$tr/$fn/${r(c.col("timestamp"))}", a)
        }
      case Pivot(_, _, _, _) => // other aggregates: presence only
      case Extrema(tr, fn, ln) =>
        val (lo, hi) = exp.regionRange(s"$tr/$fn/${level(ln)}")
        val j = jsonObject(text(file))
        for ((kind, want) <- Seq("min" -> lo, "max" -> hi)) {
          val entries = j(kind).asInstanceOf[Map[String, Any]]("s_sum_t_sum").asInstanceOf[Seq[Map[String, Any]]]
          if (entries.isEmpty || entries.size > 20) fail(s"$path $kind has ${entries.size} entries")
          entries.foreach(e => exact(s"$path $kind", jnum(e("value")), want))
        }
      case RegionTs(tr, fn, ln, rid) =>
        val c = readCsv(file)
        c.rows.foreach(r => tally("regional_ts", s"$tr/$fn/${level(ln)}/$rid/${r(c.col("timestamp"))}", rowAgg(c, r)))
      case RegionTsQ(tr, fn, ln, q) =>
        val c = readCsv(file)
        c.rows.foreach(r => tally(s"regional_ts/$q", s"$tr/$fn/${level(ln)}/${r(c.col("timestamp"))}", rowAgg(c, r)))
      case RegionAgg(tr, fn, ln, ts) =>
        val c = readCsv(file)
        c.rows.foreach(r => tally("regional_agg", s"$tr/$fn/${level(ln)}/${r(c.col("id"))}/$ts", rowAgg(c, r)))
      case RegionAggQ(tr, fn, ln, ts, q) =>
        val c = readCsv(file)
        c.rows.foreach(r => tally(s"regional_agg/$q", s"$tr/$fn/${level(ln)}/$ts", rowAgg(c, r)))
      case Grid(tr, fn, ts) =>
        val c = readCsv(file)
        val zooms = c.rows.map(_(c.col("zoom")).toInt)
        if (zooms != (Schema.LevelDiff to Schema.MaxSubtilePrecision))
          fail(s"$path zooms ${zooms.mkString(",")}")
        val finest = c.rows(c.rows.size - 1)
        val (lo, hi) = exp.cellRange(s"$tr/$fn/$ts")
        exact(s"$path min", num(finest(c.col("min_s_sum_t_sum"))), lo)
        exact(s"$path max", num(finest(c.col("max_s_sum_t_sum"))), hi)
      case Tile(tr, fn, ts, z, x, y) =>
        val t = TileProto.decode(Files.readAllBytes(file))
        if ((t.z, t.x, t.y) != (z.toInt, x.toInt, y.toInt)) fail(s"$path holds tile ${t.z}-${t.x}-${t.y}")
        val a = t.stats.values.foldLeft(Agg(0, 0, 0))((acc, s) => acc + Agg(s.sSumTSum, s.weight, s.sSumTMean))
        tally("tiles", s"$tr/$fn/$ts/$z", a)
      case Results() =>
        val info = jsonObject(text(file))
        val data = info("data_info").asInstanceOf[Map[String, Any]]
        exact("results num_rows", jnum(data("num_rows")), w.rows.toDouble)
        val perFeature = data("num_rows_per_feature").asInstanceOf[Map[String, Any]]
        w.featureNames.indices.foreach(f =>
          exact(s"results rows of ${w.featureNames(f)}", jnum(perFeature(w.featureNames(f))),
            exp.rowsPerFeature(f).toDouble))
        if (data("features") != w.featureNames) fail(s"results features ${data("features")}")
        if (data("has_tiles") != (w.gridSide > 0)) fail(s"results has_tiles ${data("has_tiles")}")
        if (!w.isIndicator) {
          val summary = info("output_agg_values").asInstanceOf[Seq[Map[String, Any]]]
          if (summary.map(_("name")) != w.featureNames) fail(s"summary names ${summary.map(_("name"))}")
          summary.foreach { e =>
            val want = exp.bucket(s"all/${e("name")}/0")
            exact(s"summary ${e("name")} s_sum_t_sum", jnum(e("s_sum_t_sum")), want.s)
          }
        }
      case _ => fail(s"no check for $path")
    } catch {
      case e: Exception => fail(s"$path: $e")
    }

    val maxQualLevel = graft.operators.Qualifiers.Thresholds().regionalTimeseriesMaxLevel
    val months = Seq("month", "year")
    def expect(task: String, m: => Map[String, Agg]) = if (w.runs(task)) m else Map.empty[String, Agg]
    import graft.pipeline.OutputTask._
    compare("global", actual.get("global"), expect(GlobalTimeseries, exp.bucketFor(months, None)), fail)
    compare("regional_ts", actual.get("regional_ts"), expect(RegionalTimeseries, exp.region.toMap), fail)
    compare("regional_agg", actual.get("regional_agg"), expect(RegionalAggregation, exp.region.toMap), fail)
    for (q <- w.qualNames.indices) {
      val qn = w.qualNames(q)
      compare(s"pivot/$qn", actual.get(s"pivot/$qn"),
        expect(GlobalTimeseries, exp.bucketFor(months, Some(q))), fail)
      compare(s"regional_ts/$qn", actual.get(s"regional_ts/$qn"),
        expect(RegionalTimeseries, exp.bucketByLevel(q, maxQualLevel)), fail)
      compare(s"regional_agg/$qn", actual.get(s"regional_agg/$qn"),
        expect(RegionalAggregation, exp.bucketByLevel(q, Int.MaxValue)), fail)
    }
    if (w.gridSide > 0) compare("tiles", actual.get("tiles"), expect(ComputeTiles, exp.tileTotals), fail)
    Report(files.size.toLong, bytes, problems.toSeq)
  }

  /** Same keys, exact integer totals, sums of means within [[RelTol]]. */
  private[perfbench] def compare(family: String, got: Option[mutable.HashMap[String, Agg]],
                                 want: Map[String, Agg], fail: String => Unit): Unit = {
    val g = got.map(_.toMap).getOrElse(Map.empty)
    val missing = want.keySet -- g.keySet
    val extra = g.keySet -- want.keySet
    if (missing.nonEmpty) fail(s"$family: ${missing.size} keys missing, e.g. ${missing.head}")
    if (extra.nonEmpty) fail(s"$family: ${extra.size} unexpected keys, e.g. ${extra.head}")
    for ((k, e) <- want; a <- g.get(k)) {
      if (a.s != e.s || a.g != e.g) fail(s"$family $k: sum/count ${a.s}/${a.g} != ${e.s}/${e.g}")
      else if (math.abs(a.m - e.m) > RelTol * math.max(1.0, math.abs(e.m)))
        fail(s"$family $k: sum of means ${a.m} != ${e.m}")
    }
  }
}
