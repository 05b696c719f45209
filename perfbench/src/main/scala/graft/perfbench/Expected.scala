package graft.perfbench

import scala.collection.mutable

import graft.io.Json
import graft.model.Schema
import graft.pipeline.{OutputTask, PipelineResult}

/** Per-key totals of a spatial aggregate: Σ s_sum_t_sum and Σ s_count are
  * sums of integers (exact in doubles at any partitioning), Σ s_sum_t_mean
  * is compared within a relative tolerance. */
final case class Agg(s: Double, g: Double, m: Double) {
  def +(o: Agg): Agg = Agg(s + o.s, g + o.g, m + o.m)
}

/** What one `Pipeline.run` over a staged workload must write, computed in
  * plain Scala from the same (seed, index) rows the input was staged from.
  *
  * Keys are `/`-joined: buckets `tr/feature/ts`, regions
  * `tr/feature/level/regionId/ts`, with `tr` ∈ {month, year, all}. */
final class Expected(val w: Workload, val seed: Long) {
  val prefix = s"${w.name}/run"
  private val levels = w.fanout.indices
  private val features = w.featureNames

  val rowsPerFeature: Array[Long] = new Array[Long](w.features)
  val valueSum: Array[Long] = new Array[Long](w.features)
  val bucket = mutable.HashMap.empty[String, Agg]
  val region = mutable.HashMap.empty[String, Agg]
  /** (min, max) of a cell's Σ t_sum per `tr/feature/ts`: the zoom-14 grid stats. */
  val cellRange = mutable.HashMap.empty[String, (Double, Double)]
  /** (min, max) of a region's Σ t_sum per `tr/feature/level`: the extrema. */
  val regionRange = mutable.HashMap.empty[String, (Double, Double)]
  /** `tr/feature/level/regionId/q/value` of every qualifier breakdown row. */
  private val regionQual = mutable.HashSet.empty[String]
  private val regionsAt = Array.fill(w.features, w.fanout.length)(mutable.TreeSet.empty[String])
  private val qualValuesOf = Array.fill(w.features, w.qualifiers.size)(mutable.TreeSet.empty[String])
  /** `tr/feature/ts` -> tile coordinates `z-x-y` of the zoom pyramid. */
  val tiles = mutable.HashMap.empty[String, mutable.HashSet[String]]

  /** Start of bucket `b` (a month or a year index) at resolution `tr`. */
  private def tsOf(tr: String, b: Int): Long = tr match {
    case "month" => Workload.monthStart(b)
    case "year" => Workload.yearStart(b * 12)
    case _ => 0L
  }

  // ---- one pass over the rows: temporal groups per resolution --------------
  private val qCombos = w.qualifiers.product
  private val groups = Seq("month", "year", "all").map(_ -> mutable.HashMap.empty[Long, Array[Long]]).toMap
  locally {
    var i = 0L
    while (i < w.rows) {
      val o = w.obs(seed, i)
      rowsPerFeature(o.feature) += 1
      valueSum(o.feature) += o.value
      var qc = 0
      var q = 0
      while (q < o.quals.length) { qc = qc * w.qualifiers(q) + o.quals(q); q += 1 }
      for ((tr, m) <- groups) {
        val b = tr match { case "month" => o.month; case "year" => o.month / 12; case _ => 0 }
        val key = ((o.feature.toLong * w.months + b) * w.places + o.place) * qCombos + qc
        val acc = m.getOrElseUpdate(key, new Array[Long](2))
        acc(0) += o.value
        acc(1) += 1
      }
      i += 1
    }
  }

  private def add[K](m: mutable.HashMap[K, Agg], k: K, a: Agg): Unit =
    m.update(k, m.get(k).fold(a)(_ + a))
  private def widen[K](m: mutable.HashMap[K, (Double, Double)], k: K, v: Double): Unit =
    m.update(k, m.get(k).fold((v, v)) { case (lo, hi) => (math.min(lo, v), math.max(hi, v)) })

  for ((tr, m) <- groups; (key, acc) <- m) {
    val qc = (key % qCombos).toInt
    val place = (key / qCombos % w.places).toInt
    val b = (key / qCombos / w.places % w.months).toInt
    val f = (key / qCombos / w.places / w.months).toInt
    val ts = tsOf(tr, b)
    val a = Agg(acc(0).toDouble, 1.0, acc(0).toDouble / acc(1))
    add(bucket, s"$tr/${features(f)}/$ts", a)
    if (tr != "all") {
      val leaf = w.leafOf(place)
      val qv = w.qualifiers.indices.map { q =>
        val below = w.qualifiers.drop(q + 1).product
        w.qualValue(q, qc / below % w.qualifiers(q))
      }
      for (l <- levels) {
        val rid = w.regionId(leaf, l)
        add(region, s"$tr/${features(f)}/$l/$rid/$ts", a)
        regionsAt(f)(l) += rid
        for (q <- qv.indices) regionQual += s"$tr/${features(f)}/$l/$rid/${w.qualNames(q)}/${qv(q)}"
      }
      qv.indices.foreach(q => qualValuesOf(f)(q) += qv(q))
      if (w.gridSide > 0) {
        val (x, y) = w.cellXY(place)
        tiles.getOrElseUpdate(s"$tr/${features(f)}/$ts", mutable.HashSet.empty) ++=
          (0 to Schema.MaxTileZoom).map { z =>
            val sh = Schema.MaxSubtilePrecision - z
            s"$z-${x >> sh}-${y >> sh}"
          }
      }
    }
  }
  // the zoom-14 grid stats range over cells: sum each cell's groups first
  if (w.gridSide > 0) {
    val cells = mutable.HashMap.empty[(String, Long), Double]
    for ((tr, m) <- groups if tr != "all"; (key, acc) <- m)
      cells((tr, key / qCombos)) = cells.getOrElse((tr, key / qCombos), 0.0) + acc(0)
    for (((tr, cell), sum) <- cells) {
      val b = (cell / w.places % w.months).toInt
      val f = (cell / w.places / w.months).toInt
      widen(cellRange, s"$tr/${features(f)}/${tsOf(tr, b)}", sum)
    }
  }
  for ((k, a) <- region) {
    val p = k.split('/')
    widen(regionRange, s"${p(0)}/${p(1)}/${p(2)}", a.s)
  }

  // ---- derived expectations ------------------------------------------------

  def requests(f: Int, q: Int): Boolean = w.qualifierMap.get(features(f)).exists(_.contains(w.qualNames(q)))

  /** Bucket totals re-keyed per admin level, for the qualifier breakdowns
    * whose rows sum over regions and qualifier values. */
  def bucketByLevel(q: Int, maxLevel: Int): Map[String, Agg] =
    (for {
      (k, a) <- bucket.toSeq
      p = k.split('/') if p(0) != "all"
      f = features.indexOf(p(1)) if requests(f, q)
      l <- levels if l <= maxLevel
    } yield s"${p(0)}/${p(1)}/$l/${p(2)}" -> a).toMap

  def bucketFor(tr: Seq[String], q: Option[Int]): Map[String, Agg] =
    bucket.filter { case (k, _) =>
      val p = k.split('/')
      tr.contains(p(0)) && q.forall(requests(features.indexOf(p(1)), _))
    }.toMap

  def tileTotals: Map[String, Agg] =
    (for ((k, a) <- bucket.toSeq if !k.startsWith("all/"); z <- 0 to Schema.MaxTileZoom)
      yield s"$k/$z" -> a).toMap

  def regionListsJson(f: Int): String =
    Json.JObj(Schema.RegionLevels.zipWithIndex.map { case (name, l) =>
      name -> (if (l < w.fanout.length) Json.of(regionsAt(f)(l).toSeq) else Json.JArr(Nil))
    }).render

  def qualifierValuesJson(f: Int, q: Int): String = Json.of(qualValuesOf(f)(q).toSeq).render

  /** Rendered like the pipeline renders it, default thresholds included. */
  def qualifierCountsJson(f: Int): String = {
    val t = graft.operators.Qualifiers.Thresholds()
    Json.JObj(Seq(
      "thresholds" -> Json.JObj(Seq(
        "max_count" -> Json.JLong(t.maxCount),
        "regional_timeseries_count" -> Json.JLong(t.regionalTimeseriesCount),
        "regional_timeseries_max_level" -> Json.JLong(t.regionalTimeseriesMaxLevel))),
      "counts" -> Json.of(w.qualNames.indices.map(q => w.qualNames(q) -> qualValuesOf(f)(q).size.toLong).toMap)
    )).render
  }

  def isRaw(f: Int): Boolean = rowsPerFeature(f) <= w.rawCountThreshold

  /** Spatial aggregate columns of the pivoted qualifier breakdowns. */
  private val aggCols: Seq[String] =
    Seq("s_sum_t_sum", "s_mean_t_sum", "s_sum_t_mean", "s_mean_t_mean", "s_count") ++
      (if (w.weighted) Seq("s_sum_t_wavg", "s_mean_t_wavg", "s_wavg_t_sum", "s_wavg_t_mean", "s_wavg_t_wavg")
       else Nil)

  /** Every object path, relative to the bucket. */
  val paths: Set[String] = {
    val out = mutable.HashSet.empty[String]
    val p = prefix
    for (f <- features.indices) {
      val fn = features(f)
      if (isRaw(f)) out += s"$p/raw/$fn/raw/raw.csv"
      out += s"$p/raw/$fn/info/region_lists.json"
      if (w.qualifiers.nonEmpty) {
        out += s"$p/raw/$fn/info/qualifier_counts.json"
        w.qualNames.foreach(q => out += s"$p/raw/$fn/info/qualifiers/$q.json")
      }
    }
    for (k <- bucket.keys) {
      val Array(tr, fn, ts) = k.split('/')
      if (tr != "all") {
        val f = features.indexOf(fn)
        if (w.runs(OutputTask.GlobalTimeseries)) {
          out += s"$p/$tr/$fn/timeseries/global/global.csv"
          for (q <- w.qualNames.indices if requests(f, q); c <- aggCols)
            out += s"$p/$tr/$fn/timeseries/qualifiers/${w.qualNames(q)}/$c.csv"
        }
        for (l <- levels) {
          val ln = w.levelNames(l)
          if (w.runs(OutputTask.RegionalStats)) out += s"$p/$tr/$fn/regional/$ln/stats/default/extrema.json"
          if (w.runs(OutputTask.RegionalAggregation)) {
            out += s"$p/$tr/$fn/regional/$ln/aggs/$ts/default/default.csv"
            for (q <- w.qualNames.indices if requests(f, q))
              out += s"$p/$tr/$fn/regional/$ln/aggs/$ts/qualifiers/${w.qualNames(q)}.csv"
          }
        }
        if (w.gridSide > 0 && w.runs(OutputTask.ComputeTiles)) {
          out += s"$p/$tr/$fn/stats/grid/$ts.csv"
          tiles(k).foreach(t => out += s"$p/$tr/$fn/tiles/$ts-$t.tile")
        }
      }
    }
    if (w.runs(OutputTask.RegionalTimeseries)) for (k <- region.keys) {
      val Array(tr, fn, l, rid, _) = k.split('/')
      out += s"$p/$tr/$fn/regional/${w.levelNames(l.toInt)}/timeseries/default/$rid.csv"
    }
    val maxQualLevel = graft.operators.Qualifiers.Thresholds().regionalTimeseriesMaxLevel
    if (w.runs(OutputTask.RegionalTimeseries)) for (k <- regionQual) {
      val Array(tr, fn, l, rid, q, v) = k.split('/')
      if (l.toInt <= maxQualLevel && requests(features.indexOf(fn), w.qualNames.indexOf(q)))
        out += s"$p/$tr/$fn/regional/${w.levelNames(l.toInt)}/timeseries/qualifiers/$q/$v/$rid.csv"
    }
    if (w.recordsResults) out += s"$p/results/results.json"
    out.toSet
  }

  def objects: Long = paths.size.toLong

  /** The run's returned counters; a null-writer run is checked by these alone. */
  def checkResult(r: PipelineResult): Seq[String] = {
    val rowsExpected = features.indices.map(f => features(f) -> rowsPerFeature(f)).toMap
    Seq(
      Option.when(r.numRows != w.rows)(s"numRows ${r.numRows} != ${w.rows}"),
      Option.when(r.rowsPerFeature != rowsExpected)(s"rowsPerFeature ${r.rowsPerFeature} != $rowsExpected"),
      Option.when(r.objectsWritten != objects)(s"objectsWritten ${r.objectsWritten} != $objects")
    ).flatten
  }
}
