package graft.perfbench

import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model.Schema
import graft.pipeline.{OutputTask, PipelineConfig}

/** One generated observation, kept as indices so the plain-Scala
  * expectation pass never touches strings. `place` is a grid cell when the
  * workload has lat/lng, otherwise a leaf region. */
final case class Obs(feature: Int, month: Int, place: Int, quals: Array[Int],
                     value: Int, weight: Int, tsMs: Long)

/** A seeded datacube shape. The seed only drives values, weights,
  * qualifier draws and the day inside each month; the shape (features,
  * months, regions, cells) is fixed per workload, so every seed writes a
  * tree of the same size and run-to-run spread reflects the program, not
  * the input.
  *
  * @param fanout       children per admin level, country first
  * @param gridSide     cells per side of the lat/lng grid; 0 = no lat/lng
  * @param gridStep     zoom-14 subtiles between neighbouring grid cells
  * @param qualifiers   distinct values per qualifier column
  * @param requestQualifiers ask for qualifier breakdowns ([[qualifierMap]])
  * @param reps         rows per (feature, month, place)
  * @param smallFeature the last feature gets one row per (month, place),
  *                     which keeps it under `rawCountThreshold`
  * @param paths        parquet directories the input is split over
  * @param tasks        the pipeline's `selectedOutputTasks`; empty = all */
final case class Workload(
    name: String,
    features: Int,
    months: Int,
    fanout: Seq[Int],
    gridSide: Int,
    gridStep: Int,
    qualifiers: Seq[Int],
    requestQualifiers: Boolean,
    reps: Int,
    smallFeature: Boolean,
    weighted: Boolean,
    isIndicator: Boolean,
    paths: Int,
    rawCountThreshold: Long,
    tasks: Seq[String]) {

  val leaves: Int = fanout.product
  val places: Int = if (gridSide > 0) gridSide * gridSide else leaves
  val featureNames: IndexedSeq[String] = (0 until features).map(f => s"f$f")
  val levelNames: Seq[String] = Schema.RegionLevels.take(fanout.length)
  val qualNames: IndexedSeq[String] = qualifiers.indices.map(q => s"q${('a' + q).toChar}")
  def qualValue(q: Int, v: Int): String = s"${qualNames(q)}$v"

  def runs(task: String): Boolean = tasks.isEmpty || tasks.contains(task)
  /** results.json is written only when every output task runs. */
  def recordsResults: Boolean = tasks.isEmpty || tasks.toSet == OutputTask.All.toSet

  def repsOf(f: Int): Int = if (smallFeature && f == features - 1) 1 else reps
  private val featureStart: Array[Long] =
    (0 until features).scanLeft(0L)((acc, f) => acc + months.toLong * places * repsOf(f)).toArray
  def rows: Long = featureStart(features)

  /** With `requestQualifiers`, every feature but the small one requests a
    * breakdown by the first qualifier, so both sides of the pipeline's
    * per-qualifier feature filter run. */
  def qualifierMap: Map[String, Seq[String]] =
    if (!requestQualifiers || qualifiers.isEmpty) Map.empty
    else featureNames.indices.map { f =>
      featureNames(f) -> (if (smallFeature && f == features - 1) Nil else qualNames.take(1))
    }.toMap

  def config(dataPaths: Seq[String], bucket: String, destType: String): PipelineConfig =
    PipelineConfig(
      modelId = name, runId = "run", dataPaths = dataPaths,
      isIndicator = isIndicator, rawCountThreshold = rawCountThreshold,
      weightColumn = if (weighted) "weight" else "",
      qualifierMap = qualifierMap, selectedOutputTasks = tasks, destType = destType,
      modelBucket = bucket, indicatorBucket = bucket)

  // ---- geometry ------------------------------------------------------------

  /** Leaf region of a place; grid cells fall into vertical bands. */
  def leafOf(place: Int): Int =
    if (gridSide > 0) (place % gridSide) * leaves / gridSide else place

  /** `__`-joined region id of `leaf` at admin `level` (the pipeline's
    * `Regions.joinRegionColumns` over the level's ancestors). */
  def regionId(leaf: Int, level: Int): String =
    (0 to level).map(l => regionName(leaf, l)).mkString(Schema.RegionDelim)

  def regionName(leaf: Int, level: Int): String = {
    val below = fanout.drop(level + 1).product
    s"${Workload.LevelPrefix(level)}${leaf / below % fanout(level)}"
  }

  /** Zoom-14 subtile of a grid cell. */
  def cellXY(place: Int): (Int, Int) =
    (Workload.OriginX + (place % gridSide) * gridStep,
      Workload.OriginY + (place / gridSide) * gridStep)

  /** Cell centre in degrees, so the pipeline's float `deg2num` lands on
    * the intended subtile with half a cell of margin on every side. */
  def latLng(place: Int): (Double, Double) = {
    val (x, y) = cellXY(place)
    val n = (1 << Schema.MaxSubtilePrecision).toDouble
    val lng = (x + 0.5) / n * 360.0 - 180.0
    val lat = math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * (y + 0.5) / n))))
    (lat, lng)
  }

  // ---- rows ----------------------------------------------------------------

  def obs(seed: Long, i: Long): Obs = {
    var f = 0
    while (i >= featureStart(f + 1)) f += 1
    val r = repsOf(f)
    val slot = (i - featureStart(f)) / r
    val place = (slot % places).toInt
    val month = (slot / places).toInt
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ i)
    val quals = qualifiers.map(rnd.nextInt).toArray
    Obs(f, month, place, quals,
      value = rnd.nextInt(100), weight = 1 + rnd.nextInt(9),
      tsMs = Workload.monthStart(month) + rnd.nextLong(Workload.MonthSpanMs))
  }

  def schema: StructType = StructType(
    Seq(StructField("timestamp", LongType), StructField("feature", StringType),
      StructField("value", DoubleType)) ++
      levelNames.map(StructField(_, StringType)) ++
      (if (gridSide > 0) Seq(StructField("lat", DoubleType), StructField("lng", DoubleType)) else Nil) ++
      qualNames.map(StructField(_, StringType)) ++
      (if (weighted) Seq(StructField("weight", DoubleType)) else Nil))

  def toRow(o: Obs): Row = {
    val leaf = leafOf(o.place)
    val geo: Seq[Any] = if (gridSide > 0) { val (la, ln) = latLng(o.place); Seq(la, ln) } else Nil
    Row.fromSeq(
      Seq(o.tsMs, featureNames(o.feature), o.value.toDouble) ++
        levelNames.indices.map(l => regionName(leaf, l)) ++ geo ++
        o.quals.indices.map(q => qualValue(q, o.quals(q))) ++
        (if (weighted) Seq(o.weight.toDouble) else Nil))
  }

  /** Writes the input as `paths` parquet directories under `dir` and
    * returns them. Rows are generated inside Spark tasks from (seed, index),
    * so the staged bytes depend on the seed alone. */
  def stage(spark: SparkSession, seed: Long, dir: String): Seq[String] = {
    val w = this
    val slices = spark.sparkContext.defaultParallelism
    (0 until paths).map { k =>
      val lo = rows * k / paths
      val hi = rows * (k + 1) / paths
      val rdd = spark.sparkContext.range(lo, hi, 1, slices).map(i => w.toRow(w.obs(seed, i)))
      val p = s"$dir/part-$k"
      spark.createDataFrame(rdd, schema).write.parquet(p)
      p
    }
  }
}

object Workload {
  private val LevelPrefix = Seq("c", "a", "b", "d")
  // a zoom-14 subtile near 9°N 39°E; the grid extends east and south
  private val OriginX = 9966
  private val OriginY = 7782
  private val MonthSpanMs = 28L * 24 * 3600 * 1000
  private val FirstMonth = LocalDate.of(2018, 1, 1)

  def monthStart(month: Int): Long = epochMs(FirstMonth.plusMonths(month.toLong))
  def yearStart(month: Int): Long = epochMs(FirstMonth.plusMonths(month.toLong).withDayOfYear(1))
  private def epochMs(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  /** Tile fan-out: a weighted model run on a lat/lng grid whose cells
    * sit `gridStep` subtiles apart, so the zoom pyramid yields about 80
    * tiles per (feature, month). Only the tile task is selected: the
    * regional layers belong to `regional_fanout`, and leaving them out
    * keeps a call short enough for several samples per run. */
  val GridTiles: Workload = Workload("grid_tiles", features = 2, months = 24,
    fanout = Seq(1, 6), gridSide = 30, gridStep = 13, qualifiers = Nil, requestQualifiers = false, reps = 1,
    smallFeature = false, weighted = true, isIndicator = false, paths = 1,
    rawCountThreshold = Schema.DefaultRawCountThreshold, tasks = Seq(OutputTask.ComputeTiles))

  /** Regional fan-out: a weighted indicator without lat/lng over a
    * four-level admin hierarchy (120 leaves), two qualifier columns, one
    * feature small enough for the raw passthrough, and the input split over
    * two parquet paths that ingest unions: grouping-sets passes and CSV
    * fan-out, as many small Spark jobs. No qualifier breakdown is
    * requested: each one adds about 45 jobs (some 5 s on 4 cores) to a
    * call, which the run budget cannot carry. */
  val RegionalFanout: Workload = Workload("regional_fanout", features = 3, months = 12,
    fanout = Seq(2, 3, 4, 5), gridSide = 0, gridStep = 0, qualifiers = Seq(3, 4),
    requestQualifiers = false, reps = 2, smallFeature = true, weighted = true, isIndicator = true,
    paths = 2, rawCountThreshold = 1500, tasks = Nil)

  val All: Seq[Workload] = Seq(GridTiles, RegionalFanout)

  def named(name: String): Workload = All.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name' (${All.map(_.name).mkString(", ")})"))
}
