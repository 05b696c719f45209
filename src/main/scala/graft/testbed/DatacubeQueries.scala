package graft.testbed

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampType}

import graft.model.Schema
import graft.operators.{Qualifiers, Regions, Spatial, Temporal, TileMath, Validate}
import graft.tiles.Tiling

/** The datacube-surface query battery: one oracle-checked query per operator
  * of SURVEY.md §2 (keys prefixed with the §2 id they cover). Each Spark
  * query is mirrored by a DuckDB SQL string over the same parquet tables.
  */
object DatacubeQueries {

  type Q = (SparkSession, String) => DataFrame

  private def round4(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, round(col(c), 4)))

  /** events.ts → epoch milliseconds, adaptive to the parquet physical type.
    * The testdata has shipped `ts` both as TIMESTAMP(NANOS) — which Spark 4
    * reads as long nanos under spark.sql.legacy.parquet.nanosAsLong — and as
    * timestamp[us], which reads as TIMESTAMP_NTZ. The NTZ→timestamp cast is
    * UTC (session timeZone pinned in every entry point), matching the DuckDB
    * oracles' epoch_ms(ts) on naive timestamps. */
  private def tsMs(ev: DataFrame): Column = ev.schema("ts").dataType match {
    case LongType => expr("ts div 1000000")
    case _        => unix_millis(col("ts").cast(TimestampType))
  }

  /** Fixtures: the base datacube frame and each temporal cube are
    * materialized once and reused by every query of the cube family —
    * mirroring the reference pipeline, which persists the temporally-aggregated
    * frame and fans ~10 outputs off it (flows/data_pipeline.py:409,454,554,613).
    * Without this, every query would re-run the join+groupBy over the full
    * input; at 100 TB that recompute tax dominates the whole job. */
  private[graft] def baseCube(spark: SparkSession, dir: String): DataFrame =
    Fixtures.value(spark, dir, "_cube")(Datacube(spark, dir).cache())

  /** Temporally-aggregated cube (A1), one per (session, dir, res, weighted). */
  def temporalCube(spark: SparkSession, dir: String, timeRes: String,
                   weighted: Boolean = false): DataFrame =
    Fixtures.value(spark, dir, s"_cube_${timeRes}_$weighted") {
      val cube0 = baseCube(spark, dir)
      val cube = if (weighted) cube0 else cube0.drop("weight")
      Temporal.aggregate(cube, timeRes, if (weighted) "weight" else "").cache()
    }

  /** DuckDB mirror of [[temporalCube]] as CTE `t`. */
  def temporalCubeSql(timeRes: String, weighted: Boolean = false): String = {
    val bucket = Datacube.sqlBucket("\"timestamp\"", timeRes)
    val keys = "country, admin1, admin2, admin3, lat, lng, feature, qual1"
    if (!weighted)
      s"""${Datacube.sqlCte},
         | t AS (
         |  SELECT $bucket AS "timestamp", $keys,
         |         SUM("value") AS t_sum, AVG("value") AS t_mean
         |  FROM cube GROUP BY ALL
         | )""".stripMargin
    else
      s"""${Datacube.sqlCte},
         | t AS (
         |  SELECT $bucket AS "timestamp", $keys,
         |         SUM("value") AS t_sum, AVG("value") AS t_mean,
         |         AVG(weight) AS weight,
         |         SUM("value" * weight) / SUM(weight) AS t_wavg
         |  FROM cube GROUP BY ALL
         | )""".stripMargin
  }

  def globalTimeseries(spark: SparkSession, dir: String, timeRes: String): DataFrame = {
    val (agg, aggCols) =
      Spatial.aggregate(temporalCube(spark, dir, timeRes), Seq("feature", "timestamp"), Seq("sum", "mean"))
    round4(agg, aggCols.filterNot(_ == "s_count")).orderBy("feature", "timestamp")
  }

  private def globalTimeseriesSql(timeRes: String): String =
    s"""${temporalCubeSql(timeRes)}
       |SELECT feature, "timestamp",
       |       ROUND(SUM(t_sum), 4)  AS s_sum_t_sum,
       |       ROUND(AVG(t_sum), 4)  AS s_mean_t_sum,
       |       ROUND(SUM(t_mean), 4) AS s_sum_t_mean,
       |       ROUND(AVG(t_mean), 4) AS s_mean_t_mean,
       |       COUNT(t_mean)         AS s_count
       |FROM t GROUP BY feature, "timestamp"
       |ORDER BY feature, "timestamp"""".stripMargin

  /** Standard spatial-agg output block for oracle SQL ([sum, mean] aggs). */
  private def sAggSql(keys: String, from: String): String =
    s"""SELECT $keys,
       |       ROUND(SUM(t_sum), 4)  AS s_sum_t_sum,
       |       ROUND(AVG(t_sum), 4)  AS s_mean_t_sum,
       |       ROUND(SUM(t_mean), 4) AS s_sum_t_mean,
       |       ROUND(AVG(t_mean), 4) AS s_mean_t_mean,
       |       COUNT(t_mean)         AS s_count
       |FROM $from GROUP BY $keys
       |ORDER BY $keys""".stripMargin

  // ---- subtile helpers (P13, A8) ------------------------------------------

  /** Zoom-14 subtile aggregation of the monthly cube (A8): weight disabled,
    * s_sum_t_sum / s_sum_t_mean / s_count per (feature, timestamp, z, x, y).
    * Subtile struct flattened to int columns for oracle comparability. */
  def subtileAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = temporalCube(spark, dir, "month")
      .withColumn("subtile", TileMath.deg2num(col("lat"), col("lng"), Schema.MaxSubtilePrecision))
    t.groupBy(col("feature"), col("timestamp"),
        col("subtile.z").as("z"), col("subtile.x").as("x"), col("subtile.y").as("y"))
      .agg(
        sum("t_sum").as("s_sum_t_sum"),
        sum("t_mean").as("s_sum_t_mean"),
        count("t_mean").as("s_count"))
  }

  /** DuckDB mirror of the zoom-14 subtile mapping as CTE `st` (over `t`).
    * `asinh` is absent in DuckDB 1.0 → ln(x+sqrt(x^2+1)); CAST(double AS INT)
    * rounds in DuckDB, so FLOOR first (coords are non-negative here, where
    * floor == the reference's Python int() truncation). */
  private val subtileSqlCte: String =
    """ st AS (
      |  SELECT feature, "timestamp",
      |         14 AS z,
      |         CAST(FLOOR((lng + 180.0) / 360.0 * 16384) AS INT) AS x,
      |         CAST(FLOOR((1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat))*tan(radians(lat)) + 1.0)) / pi()) / 2.0 * 16384) AS INT) AS y,
      |         SUM(t_sum) AS s_sum_t_sum, SUM(t_mean) AS s_sum_t_mean,
      |         COUNT(t_mean) AS s_count
      |  FROM t GROUP BY ALL
      | )""".stripMargin

  // ---- the inventory ------------------------------------------------------

  /** Shared o2/o6/o7 fixture: clicks (probe side) and per-(user, instant)
    * unique purchases (same-instant purchases collapse to their max value
    * — deterministic regardless of input order). */
  private def asofSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev0 = Datacube.table(s, dir, "events")
    val ev = ev0.select(
      col("event_id"), col("user_id"), col("event_type"),
      tsMs(ev0).as("ts_ms"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts_ms", "value")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts_ms").agg(max("value").as("purchase_value"))
      .withColumn("purchase_ts", col("ts_ms"))
    (clicks, purchases)
  }

  def queries: Map[String, Q] = Map(
    // A00: runs FIRST in the sorted battery and materializes ALL the shared
    // cube caches the battery reads (base, month, all, year-weighted), so
    // every later per-query bench time is a true query time instead of
    // silently absorbing a cache build (r4's a1_temporal_weighted spike was
    // the year-weighted cube materializing inside that query's timing).
    // Verifiable in its own right: the cube row counts.
    "a00_cube_warmup" -> ((s, dir) => {
      val base = baseCube(s, dir).count()
      // the three temporal cubes all read the (now cached) base cube and
      // are independent of each other — submit them as concurrent jobs so
      // the scheduler overlaps their stages (same pattern a real cluster
      // uses for independent outputs; ~35% off the warmup wall time here)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val Seq(month, all, yearW) = Await.result(
        Future.sequence(Seq(
          Future(temporalCube(s, dir, "month").count()),
          Future(temporalCube(s, dir, "all").count()),
          Future(temporalCube(s, dir, "year", weighted = true).count()))),
        Duration.Inf)
      val sess = s
      import sess.implicits._
      Seq(("all", all), ("base", base), ("month", month), ("year_weighted", yearW))
        .toDF("cube", "n_rows").orderBy("cube")
    }),

    "a1_temporal_month" -> ((s, dir) =>
      temporalCube(s, dir, "month")
        .withColumn("t_mean", round(col("t_mean"), 4))
        .orderBy("feature", "timestamp", "country", "admin1", "admin2", "lat", "lng", "qual1")),

    "a1_temporal_all" -> ((s, dir) =>
      temporalCube(s, dir, "all")
        .withColumn("t_mean", round(col("t_mean"), 4))
        .orderBy("feature", "country", "admin1", "admin2", "lat", "lng", "qual1")),

    "a1_temporal_weighted" -> ((s, dir) =>
      temporalCube(s, dir, "year", weighted = true)
        .withColumn("t_mean", round(col("t_mean"), 4))
        .withColumn("t_wavg", round(col("t_wavg"), 4))
        .withColumn("weight", round(col("weight"), 4))
        .orderBy("feature", "timestamp", "country", "admin1", "admin2", "lat", "lng", "qual1")),

    "a4_global_timeseries" -> ((s, dir) => globalTimeseries(s, dir, "month")),

    "a5_regional_agg" -> ((s, dir) => {
      val t = Regions.withRegionId(temporalCube(s, dir, "month"), 1)
      val (agg, aggCols) =
        Spatial.aggregate(t, Seq("feature", "timestamp", "region_id"), Seq("sum", "mean"))
      round4(agg, aggCols.filterNot(_ == "s_count")).orderBy("feature", "timestamp", "region_id")
    }),

    // A2 weighted spatial matrix: s_{agg}_t_wavg + s_wavg_t_{sum,mean,wavg}
    "a2_spatial_weighted" -> ((s, dir) => {
      val t = temporalCube(s, dir, "year", weighted = true)
      val (agg, aggCols) = Spatial.aggregate(t, Seq("feature", "timestamp"), Seq("sum", "mean"), "weight")
      round4(agg, aggCols.filterNot(_ == "s_count")).orderBy("feature", "timestamp")
    }),

    // A6: per-region timeseries at country level with qualifier breakdown
    "a6_regional_timeseries" -> ((s, dir) => {
      val t = Regions.withRegionId(temporalCube(s, dir, "month"), 0)
      val (agg, aggCols) =
        Spatial.aggregate(t, Seq("feature", "region_id", "timestamp", "qual1"), Seq("sum", "mean"))
      round4(agg, aggCols.filterNot(_ == "s_count"))
        .orderBy("feature", "region_id", "timestamp", "qual1")
    }),

    // A7: regional roll-up at admin2 with qualifier keys
    "a7_regional_agg_qualifier" -> ((s, dir) => {
      val t = Regions.withRegionId(temporalCube(s, dir, "month"), 2)
      val (agg, aggCols) =
        Spatial.aggregate(t, Seq("feature", "timestamp", "region_id", "qual1"), Seq("sum", "mean"))
      round4(agg, aggCols.filterNot(_ == "s_count"))
        .orderBy("feature", "timestamp", "region_id", "qual1")
    }),

    // A10: qualifier pivot — one column per qualifier value
    "a10_qualifier_pivot" -> ((s, dir) => {
      val t = Regions.withRegionId(temporalCube(s, dir, "month"), 0)
      val (agg, _) = Spatial.aggregate(t, Seq("feature", "timestamp", "qual1"), Seq("sum", "mean"))
      agg.filter(col("feature") === "A")
        .groupBy("timestamp")
        .pivot("qual1", Seq("F", "O"))
        .agg(first(col("s_sum_t_sum")))
        .orderBy("timestamp")
    }),

    // A11 + O1: per-feature extrema rows, capped at 20 latest.
    // Scale-safe plan: per-feature min/max via hash agg (map-side combined),
    // broadcast-joined back, filter-equals — no window over the full frame
    // on a 3-value partition key (which would sort everything in 3 tasks).
    // The ranking window only sees the few surviving extrema rows.
    "a11_extrema" -> ((s, dir) => {
      val t = Regions.withRegionId(temporalCube(s, dir, "month"), 1)
      val (agg, _) = Spatial.aggregate(t, Seq("feature", "timestamp", "region_id"), Seq("sum", "mean"))
      val minmax = agg.groupBy("feature")
        .agg(min("s_sum_t_sum").as("mn"), max("s_sum_t_sum").as("mx"))
      val marked = agg.join(broadcast(minmax), Seq("feature"))
      // one pass over `marked`: explode a 0/1/2-element kind array instead of
      // unioning two filtered branches (which would re-run the whole
      // aggregate subtree once per branch); a row that is both min and max
      // still yields both kinds, matching the two-branch semantics
      val kinds = marked.withColumn("kind", explode(concat(
        when(col("s_sum_t_sum") === col("mn"), array(lit("min")))
          .otherwise(array().cast("array<string>")).cast("array<string>"),
        when(col("s_sum_t_sum") === col("mx"), array(lit("max")))
          .otherwise(array().cast("array<string>")).cast("array<string>"))))
      val cap = Window.partitionBy("feature", "kind")
        .orderBy(col("timestamp").desc, col("region_id"))
      kinds
        .withColumn("rn", row_number().over(cap))
        .filter(col("rn") <= 20)
        .select("feature", "kind", "region_id", "timestamp", "s_sum_t_sum")
        .orderBy("feature", "kind", "timestamp", "region_id")
    }),

    // A12: output summary — temporal "all", spatial [min,max,sum,mean]
    "a12_output_summary" -> ((s, dir) => {
      val t = temporalCube(s, dir, "all")
      val (agg, aggCols) =
        Spatial.aggregate(t, Seq("feature", "timestamp"), Seq("min", "max", "sum", "mean"))
      round4(agg.drop("s_count"), aggCols.filterNot(_ == "s_count")).orderBy("feature")
    }),

    // A13: per-feature raw row counts (the raw_count_threshold gate)
    "a13_raw_counts" -> ((s, dir) =>
      baseCube(s, dir).groupBy("feature").agg(count(lit(1)).as("num_rows")).orderBy("feature")),

    // A14 + A16: distinct region-id list per feature and level
    "a14_region_lists" -> ((s, dir) => {
      val cube = baseCube(s, dir)
      val rcols = Regions.extractRegionColumns(cube)
      val withIds = (0 to 3).foldLeft(cube) { (d, l) =>
        d.withColumn(s"rid$l", Regions.joinRegionColumns(rcols, l))
      }
      withIds.groupBy("feature")
        .agg(
          array_join(sort_array(collect_set(col("rid0"))), "|").as("countries"),
          array_join(sort_array(collect_set(col("rid1"))), "|").as("admin1s"),
          array_join(sort_array(collect_set(col("rid2"))), "|").as("admin2s"),
          array_join(sort_array(collect_set(col("rid3"))), "|").as("admin3s"))
        .orderBy("feature")
    }),

    // A15 + A16: qualifier value lists + counts per feature
    "a15_qualifier_lists" -> ((s, dir) =>
      baseCube(s, dir).groupBy("feature")
        .agg(
          array_join(sort_array(collect_set(col("qual1"))), "|").as("qual1_values"),
          countDistinct(col("qual1")).as("qual1_count"))
        .orderBy("feature")),

    // O1: general top-k per group — two-phase. `feature` has ~3 distinct
    // values, so a single ranking window would sort the whole frame in 3
    // tasks (scale-killer at 100 TB). Phase 1 takes the local top-20 per
    // (feature, input partition) — parallel, no shuffle of the full frame;
    // phase 2 ranks only the ≤ 20·parts·features survivors.
    "o1_topk_window" -> ((s, dir) => {
      val t = temporalCube(s, dir, "month")
      val ord = Seq(col("timestamp").desc, col("country"), col("admin1"), col("admin2"),
        col("lat"), col("lng"), col("qual1"))
      val pre = Window.partitionBy(col("feature"), spark_partition_id()).orderBy(ord: _*)
      val survivors = t.withColumn("_rn0", row_number().over(pre))
        .filter(col("_rn0") <= 20).drop("_rn0")
      val w = Window.partitionBy("feature").orderBy(ord: _*)
      survivors.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .withColumn("t_mean", round(col("t_mean"), 4))
        .orderBy(col("feature"), col("rn"))
    }),

    // S4 + §2.6: multi-file schema unification (missing cols filled "")
    "s4_schema_union" -> ((s, dir) => {
      val cube = baseCube(s, dir).select("timestamp", "country", "feature", "value", "qual1")
      val orders = Datacube.table(s, dir, "orders").select(
        unix_millis(col("o_orderdate").cast("timestamp")).as("timestamp"),
        lit("ORDERS").as("country"),
        col("o_orderstatus").as("feature"),
        (col("o_custkey") % 50).cast(DoubleType).as("value"))
      val unified = cube.unionByName(orders, allowMissingColumns = true)
        .na.fill("", Seq("qual1"))
      unified.groupBy("country", "feature", "qual1")
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
        .orderBy("country", "feature", "qual1")
    }),

    // P1-P9: validation pass over a deliberately dirty frame.
    "p9_validate_fix" -> ((s, dir) => {
      val ev = Datacube.table(s, dir, "events")
      val dirty = ev.select(
        col("event_id"),
        when(col("event_id") % 19 === 0, lit(null).cast(LongType))
          .when(col("event_id") % 23 === 0, lit(Schema.MaxTimestampMs + 5))
          .otherwise(tsMs(ev)).as("timestamp"),
        when(col("event_id") % 7 === 0, lit(null).cast(StringType))
          .when(col("event_id") % 11 === 0, concat(col("event_type"), lit("//x")))
          .otherwise(col("event_type")).as("country"),
        col("event_type").as("feature"),
        when(col("event_id") % 13 === 0, lit(Double.PositiveInfinity))
          .when(col("event_id") % 17 === 0, lit(null).cast(DoubleType))
          .otherwise(col("value")).as("value"),
        // string-typed lat/lng with unparseable garbage: P2 must coerce
        // to double with garbage -> null (try_cast under ANSI mode)
        when(col("event_id") % 29 === 0, lit("garbage"))
          .otherwise((col("event_id") % 90 + lit(0.5)).cast(StringType)).as("lat"),
        when(col("event_id") % 31 === 0, lit("bad"))
          .otherwise((col("event_id") % 180 + lit(0.5)).cast(StringType)).as("lng"),
        lit(null).cast(StringType).as("dead_col"))
      val res = Validate(dirty, weightColumn = "", fillTimestamp = 42L)
      res.df.orderBy("event_id")
    }),

    // P13: slippy-map binning at zoom 14
    "p13_deg2num" -> ((s, dir) => {
      val cube = baseCube(s, dir)
        .withColumn("subtile", TileMath.deg2num(col("lat"), col("lng"), Schema.MaxSubtilePrecision))
      cube.groupBy(col("subtile.z").as("z"), col("subtile.x").as("x"), col("subtile.y").as("y"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
        .orderBy("z", "x", "y")
    }),

    // P14/P15: parent-tile walk (LEVEL_DIFF=6 up)
    "p15_tile_coord" -> ((s, dir) => {
      val cube = baseCube(s, dir)
        .withColumn("subtile", TileMath.deg2num(col("lat"), col("lng"), Schema.MaxSubtilePrecision))
        .withColumn("tile", TileMath.tileCoord(col("subtile")))
      cube.groupBy(col("tile.z").as("z"), col("tile.x").as("x"), col("tile.y").as("y"))
        .agg(count(lit(1)).as("n"))
        .orderBy("z", "x", "y")
    }),

    // P16: bin-index projection into the owning tile's 4096-bin grid
    "p16_project" -> ((s, dir) => {
      val cube = baseCube(s, dir)
        .withColumn("subtile", TileMath.deg2num(col("lat"), col("lng"), Schema.MaxSubtilePrecision))
        .withColumn("tile", TileMath.tileCoord(col("subtile")))
        .withColumn("bin", TileMath.project(col("subtile"), col("tile")))
      cube.groupBy(col("tile.x").as("tx"), col("tile.y").as("ty"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("tx", "ty", "bin")
    }),

    // P17: Z-order (Morton) storage-layout key over the zoom-14 subtile
    // grid — the clustering key a 100 TB tile store sorts/range-partitions
    // on before write (2-D-adjacent subtiles -> adjacent row groups). The
    // oracle recomputes the interleave with plain integer arithmetic.
    "p17_zorder" -> ((s, dir) => {
      val cube = baseCube(s, dir)
        .withColumn("subtile", TileMath.deg2num(col("lat"), col("lng"), Schema.MaxSubtilePrecision))
      cube
        .groupBy(col("subtile.x").as("x"), col("subtile.y").as("y"))
        .agg(count(lit(1)).as("n"))
        .withColumn("z", TileMath.zorder(col("x"), col("y")))
        .orderBy("z")
    }),

    // A8: subtile aggregation
    "a8_subtile_agg" -> ((s, dir) =>
      round4(subtileAgg(s, dir), Seq("s_sum_t_mean"))
        .orderBy("feature", "timestamp", "z", "x", "y")),

    // A9: zoom-pyramid grid stats 14→6 — single-pass explode + one shuffle
    // (vs the reference's 9 sequential re-aggregations, flows/common.py:679-734)
    "a9_grid_stats" -> ((s, dir) => {
      val st = subtileAgg(s, dir)
      val pyramid = st
        .withColumn("zoom", explode(expr(s"sequence(${Schema.LevelDiff}, ${Schema.MaxSubtilePrecision})")))
        .withColumn("px", expr(s"shiftright(x, ${Schema.MaxSubtilePrecision} - zoom)"))
        .withColumn("py", expr(s"shiftright(y, ${Schema.MaxSubtilePrecision} - zoom)"))
        .groupBy("feature", "timestamp", "zoom", "px", "py")
        .agg(sum("s_sum_t_sum").as("s_sum_t_sum"),
          sum("s_sum_t_mean").as("s_sum_t_mean"),
          sum("s_count").as("s_count"))
        .withColumn("s_mean_t_sum", col("s_sum_t_sum") / col("s_count"))
        .withColumn("s_mean_t_mean", col("s_sum_t_mean") / col("s_count"))
      val stats = pyramid.groupBy("feature", "timestamp", "zoom").agg(
        min("s_sum_t_sum").as("min_s_sum_t_sum"), max("s_sum_t_sum").as("max_s_sum_t_sum"),
        min("s_sum_t_mean").as("min_s_sum_t_mean"), max("s_sum_t_mean").as("max_s_sum_t_mean"),
        min("s_mean_t_sum").as("min_s_mean_t_sum"), max("s_mean_t_sum").as("max_s_mean_t_sum"),
        min("s_mean_t_mean").as("min_s_mean_t_mean"), max("s_mean_t_mean").as("max_s_mean_t_mean"))
      round4(stats, stats.columns.filter(c => c.contains("t_mean") || c.contains("s_mean")).toSeq)
        .orderBy("feature", "timestamp", "zoom")
    }),

    // §2.8: tile-bin pyramid — every (tile, bin) row of compute_tiling's
    // 9 zoom levels in ONE explode + ONE hash aggregation (the proto
    // encoding itself is covered by the TileProto round-trip golden tests)
    "a17_tile_bins" -> ((s, dir) => {
      val bins = Tiling.binsPyramid(subtileAgg(s, dir))
      bins
        .withColumn("s_sum_t_mean", round(col("s_sum_t_mean"), 4))
        .orderBy("feature", "timestamp", "z", "x", "y", "bin")
    }),

    // A19: all four admin levels in ONE grouping-sets shuffle — the
    // engine's single-pass replacement for the reference's per-level
    // re-aggregation loop (flows/data_pipeline.py:438-470)
    "a19_region_rollup" -> ((s, dir) => {
      val t = temporalCube(s, dir, "month")
      val (agg, aggCols) = Spatial.aggregateLevels(t, Seq("feature", "timestamp"),
        Regions.extractRegionColumns(t), 0 to 3, Seq("sum", "mean"))
      round4(agg, aggCols.filterNot(_ == "s_count"))
        .select((Seq("level", "feature", "timestamp", "region_id") ++ aggCols).map(col): _*)
        .orderBy("level", "feature", "timestamp", "region_id")
    }),

    // O2: as-of (point-in-time) join — each click enriched with the same
    // user's latest purchase at or before it. One shuffle+sort on user_id
    // (the union-window plan in AsOf), vs the quadratic theta-join naive
    // form; oracle is DuckDB's native ASOF LEFT JOIN — an independent
    // implementation of the same semantics.
    "o2_asof_join" -> ((s, dir) => {
      val (clicks, purchases) = asofSides(s, dir)
      graft.operators.AsOf.joinAsOf(clicks, purchases, Seq("user_id"), "ts_ms",
          Seq("purchase_ts", "purchase_value"))
        .orderBy("event_id")
    }),

    // O6/O7: the o2 fixture through the remaining as-of directions —
    // forward (earliest purchase at-or-after each click; DuckDB's ASOF
    // with a flipped inequality is the independent mirror) and nearest
    // (closer of backward/forward, ties backward — mirrored by composing
    // two ASOF joins)
    "o6_asof_forward" -> ((s, dir) => {
      val (clicks, purchases) = asofSides(s, dir)
      graft.operators.AsOf.joinAsOf(clicks, purchases, Seq("user_id"), "ts_ms",
          Seq("purchase_ts", "purchase_value"), direction = "forward")
        .orderBy("event_id")
    }),
    "o7_asof_nearest" -> ((s, dir) => {
      val (clicks, purchases) = asofSides(s, dir)
      graft.operators.AsOf.joinAsOf(clicks, purchases, Seq("user_id"), "ts_ms",
          Seq("purchase_ts", "purchase_value"), direction = "nearest")
        .orderBy("event_id")
    }),

    // O9: the pandas merge_asof TOLERANCE contract — the backward match
    // is kept only when it lies within 6 hours of the click; a stale
    // match nulls out exactly as if no purchase preceded it
    "o9_asof_tolerance" -> ((s, dir) => {
      val (clicks, purchases) = asofSides(s, dir)
      graft.operators.AsOf.joinAsOf(clicks, purchases, Seq("user_id"), "ts_ms",
          Seq("purchase_ts", "purchase_value"), direction = "backward",
          tolerance = Some(6L * 3600 * 1000))
        .orderBy("event_id")
    }),

    // O8: conversion funnel — how deep each user gets through
    // view → click → purchase within 7 days of their first view, as ONE
    // per-user fold (no self-joins); the oracle is the k-step unrolled
    // min-selection join chain, an independent formulation of the same
    // greedy anchored-chain contract
    "o8_funnel" -> ((s, dir) => {
      val ev0 = Datacube.table(s, dir, "events")
      graft.operators.Funnel.windowFunnel(
          ev0.select(col("user_id"), tsMs(ev0).as("ts_ms"), col("event_type")),
          "user_id", col("ts_ms"), "event_type",
          Seq("view", "click", "purchase"), windowMs = 7L * 24 * 3600 * 1000)
        .orderBy("user_id")
    }),

    // G3: per-node triangle counts over the supplier co-occurrence graph
    // (suppliers sharing an order, both lines quantity > 45 so the graph
    // stays sparse) — degree-oriented wedge join, O(m^1.5) candidates.
    // The oracle counts the SAME triangles with a completely different
    // algorithm (canonical three-way self-join, no orientation), so the
    // compare verifies the graph invariant, not the implementation.
    "g3_triangle_counts" -> ((s, dir) => {
      val l = Datacube.table(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val pairs = l.alias("x")
        .join(l.alias("y"),
          col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
        .select(col("x.sk").as("src"), col("y.sk").as("dst"))
      graft.operators.Graph.triangleCounts(pairs, "src", "dst")
        .orderBy("node")
    }),

    // O11: semi-structured property extraction — the events table's JSON
    // `props` column parsed with an explicit schema (from_json compiles
    // to ONE codegen'd struct parse per row; a per-field get_json_object
    // chain re-parses the document for every field) and aggregated to
    // integer-exact per-type stats
    "o11_json_extract" -> ((s, dir) => {
      val ev = Datacube.table(s, dir, "events")
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k")
      ev.select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("k_sum"),
          min("k").as("k_min"),
          max("k").as("k_max"),
          sum(col("k") * col("k")).as("k_sumsq"))
        .orderBy("event_type")
    }),

    // O13: CUSUM drift detection per event type — the changepoint
    // monitor, run through its closed prefix form (S = P - min(0, minP))
    // so the recursive statistic is two windows over one per-type sort;
    // cent-quantized deviations keep every S_i integer-exact. Reported
    // as a per-type summary (counts + extremes + final state)
    "o13_cusum_drift" -> ((s, dir) => {
      val ev0 = Datacube.table(s, dir, "events")
      val ev = ev0.select(col("event_type"), col("event_id"),
        tsMs(ev0).as("ts_ms"), col("value"))
      graft.operators.Drift.cusum(ev, "event_type",
          col("ts_ms"), col("event_id"), col("value"),
          target = 50.0, slack = 5.0, threshold = 500.0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("alarm"), 1L).otherwise(0L)).as("n_alarm_rows"),
          max("cusum").as("max_cusum"),
          min(when(col("alarm"), col("ts_ms"))).as("first_alarm_ms"))
        .orderBy("event_type")
    }),

    // O12: robust (median/MAD) outlier detection per event type — the
    // anomaly gate a metrics pipeline runs before aggregation; med/MAD
    // from the exact sort-based quantile (the t8 machinery), ROUNDED to
    // 4 decimals BEFORE the outlier comparison on both engines so the
    // decision never sits on an interpolation ulp
    "o12_robust_outliers" -> ((s, dir) => {
      val ev = Datacube.table(s, dir, "events").select(col("event_type"), col("value"))
      val med = graft.operators.Sampling.exactQuantiles(
          ev, Seq("event_type"), "value", Seq(0.5), Seq("med"))
        .withColumn("med", round(col("med"), 4))
      val dev = ev.join(med, Seq("event_type"))
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = graft.operators.Sampling.exactQuantiles(
          dev, Seq("event_type"), "dev", Seq(0.5), Seq("mad"))
        .withColumn("mad", round(col("mad"), 4))
      dev.join(mad, Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"),
          min("med").as("med"), min("mad").as("mad"))
        .orderBy("event_type")
    }),

    // O10: daily cohort retention — users bucketed by first-activity
    // day (epoch-anchored fixed windows, pure integer arithmetic), the
    // classic (cohort, offset, n_users) matrix. Event-sized data dies at
    // the first (user, day) dedup; all-integer hash-exact output.
    "o10_cohort_retention" -> ((s, dir) => {
      val ev0 = Datacube.table(s, dir, "events")
      graft.operators.Retention.cohortRetention(
          ev0.select(col("user_id"), tsMs(ev0).as("ts_ms")),
          "user_id", col("ts_ms"), periodMs = 86400000L)
        .orderBy("cohort_period", "period_offset")
    }),

    // A20: INCREMENTAL cube maintenance — the corpus split into two
    // arbitrary deltas (raw-timestamp parity), each reduced to its
    // mergeable partial (sum, count), merged by addition, and finalized;
    // the oracle recomputes the full monthly cube from scratch, so
    // equality IS the incremental-maintenance proof (exact: the
    // measures are integer-valued, so partial sums commute bit-for-bit)
    "a20_incremental_cube" -> ((s, dir) => {
      val base = baseCube(s, dir).select("timestamp", "country", "admin1",
        "admin2", "admin3", "lat", "lng", "feature", "qual1", "value")
      val even = base.filter(col("timestamp") % 2 === 0)
      val odd = base.filter(col("timestamp") % 2 =!= 0)
      graft.operators.Temporal.finalizePartial(
          graft.operators.Temporal.mergePartials(Seq(
            graft.operators.Temporal.aggregatePartial(even, "month"),
            graft.operators.Temporal.aggregatePartial(odd, "month"))))
        .withColumn("t_mean", round(col("t_mean"), 4))
        .orderBy("feature", "timestamp", "country", "admin1", "admin2",
          "lat", "lng", "qual1")
    }),

    // G1: PageRank over the symmetrized customer↔supplier order graph —
    // the link-graph importance signal of web-curation pipelines, run on
    // the real TPC-H relationship structure. Per-iteration contributions
    // are 1e-12-scaled-integer summed so five float iterations stay
    // bit-identical across engines (the t19/t20 lesson, iterated).
    "g1_pagerank" -> ((s, dir) => {
      val o = Datacube.table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Datacube.table(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // no .distinct() here: pageRank dedups its edge input itself, and
      // the two directional copies are disjoint by construction (even →
      // odd vs odd → even ids) — one dedup pass total, not two
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("sp"))
      val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
        .unionAll(pairs.select(col("sp").as("src"), col("c").as("dst")))
      graft.operators.Graph.pageRank(edges, "src", "dst", iters = 5)
        .orderBy("node")
    }),

    // G2: per-node degree/reciprocity profile — the crawl-graph health
    // audit over a DIRECTED order graph (cust → supp for every order
    // line; supp → cust return edges only for quantity > 45), so the
    // source/sink flags and the reciprocal-degree counts are all
    // non-trivial. Integer-exact by construction.
    "g2_degree_profile" -> ((s, dir) => {
      val o = Datacube.table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Datacube.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      val j = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("sp"),
          col("l_quantity"))
      val fwd = j.select(col("c").as("src"), col("sp").as("dst"))
      val rev = j.filter(col("l_quantity") > 45)
        .select(col("sp").as("src"), col("c").as("dst"))
      graft.operators.Graph.degreeProfile(fwd.unionAll(rev), "src", "dst")
        .orderBy("node")
    }),

    // O4: range join — the attribution query: clicks landing inside each
    // purchase's 24 h window, keyed by user. A raw lo<=p<hi predicate
    // would plan as a nested loop; the operator's bin-bucketed rewrite
    // runs it as an equi-join on (user_id, bin) with a residual filter
    // (binWidth = the window length, so each interval replicates to <= 2
    // bins). Aggregated to per-purchase integer counts — hash-exact.
    "o4_range_join" -> ((s, dir) => {
      val ev0 = Datacube.table(s, dir, "events")
      val ev = ev0.select(col("event_id"), col("user_id"),
        tsMs(ev0).as("ts_ms"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ms"))
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_ms").as("lo"), (col("ts_ms") + lit(86400000L)).as("hi"))
      graft.operators.RangeJoin.joinPointInRange(clicks, windows, Seq("user_id"),
          "ts_ms", "lo", "hi", binWidth = 86400000L)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks"), max("ts_ms").as("last_click_ms"))
        .orderBy("purchase_id")
    }),

    // O5: interval-overlap join — view windows × error windows per user
    // (did an error fall inside the 2 h attention span of a view?). The
    // first-shared-bin residual keeps each overlapping pair exactly once
    // with ZERO extra exchanges — the bin-seam behavior the DuckDB theta
    // mirror gates. Integer counts — hash-exact.
    "o5_interval_overlap" -> ((s, dir) => {
      val ev0 = Datacube.table(s, dir, "events")
      val ev = ev0.select(col("event_id"), col("user_id"),
        tsMs(ev0).as("ts_ms"), col("event_type"))
      val twoH = 7200000L
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts_ms").as("vlo"), (col("ts_ms") + lit(twoH)).as("vhi"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          col("ts_ms").as("elo"), (col("ts_ms") + lit(twoH)).as("ehi"))
      graft.operators.RangeJoin.joinIntervalOverlap(views, errors,
          Seq("user_id"), "vlo", "vhi", "elo", "ehi", binWidth = twoH)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_overlaps"),
          countDistinct(col("view_id")).as("n_views_hit"))
        .orderBy("user_id")
    }),

    // O3: gap-based sessionization — one window per user (lag marks
    // session starts, running sum numbers them), then per-session stats.
    // 12 h timeout sits above the ~7 h median inter-event gap, so the
    // fixture produces real multi-event sessions AND real splits.
    "o3_sessionize" -> ((s, dir) => {
      val ev0 = Datacube.table(s, dir, "events")
      val ev = ev0.select(
        col("event_id"), col("user_id"), tsMs(ev0).as("ts_ms"))
      graft.operators.Sessionize.sessionStats(ev, Seq("user_id"), "ts_ms",
          gapMs = 12L * 3600 * 1000, tieCols = Seq("event_id"))
        .orderBy("user_id", "session_seq")
    }),

    // Qualifier-threshold machinery (common.py:218-236): per-feature
    // distinct-value counts drive apply_qualifier_count_limit pruning;
    // the high-cardinality derived qualifier (partkey % 500) exceeds the
    // 100-value threshold and is dropped, the small ones survive.
    "a18_qualifier_prune" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val li = Datacube.table(s, dir, "lineitem")
      val quals = Seq("qual1", "qual_hi", "qual_lo")
      val f = li.select(
        col("l_returnflag").as("feature"),
        col("l_linestatus").as("qual1"),
        (col("l_partkey") % 500).cast(StringType).as("qual_hi"),
        (col("l_orderkey") % 7).cast(StringType).as("qual_lo"))
      val counts = f.groupBy("feature")
        .agg(countDistinct("qual1").as("qual1"),
          countDistinct("qual_hi").as("qual_hi"),
          countDistinct("qual_lo").as("qual_lo"))
        .collect()
        .map(r => r.getString(0) -> quals.map(q => q -> r.getLong(r.fieldIndex(q))).toMap)
        .toMap
      val qmap = counts.keys.map(_ -> quals).toMap
      val (pruned, _) = Qualifiers.applyQualifierCountLimit(qmap, quals, counts, 100L)
      val rows = for {
        (feature, qcounts) <- counts.toSeq.sortBy(_._1)
        q <- quals
      } yield Row(feature, q, qcounts(q), pruned(feature).contains(q))
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
          StructType(Seq(
            StructField("feature", StringType),
            StructField("qualifier", StringType),
            StructField("n_values", LongType),
            StructField("kept", BooleanType))))
        .orderBy("feature", "qualifier")
    })
  )

  def oracles: Map[String, String] = Map(
    "a00_cube_warmup" ->
      s"""${temporalCubeSql("month")},
         | keys_all AS (
         |  SELECT country, admin1, admin2, admin3, lat, lng, feature, qual1
         |  FROM cube GROUP BY ALL
         | ),
         | keys_year AS (
         |  SELECT ${Datacube.sqlBucket("\"timestamp\"", "year")} AS ts,
         |         country, admin1, admin2, admin3, lat, lng, feature, qual1
         |  FROM cube GROUP BY ALL
         | )
         |SELECT 'all' AS cube, COUNT(*) AS n_rows FROM keys_all
         |UNION ALL
         |SELECT 'base', COUNT(*) FROM cube
         |UNION ALL
         |SELECT 'month', COUNT(*) FROM t
         |UNION ALL
         |SELECT 'year_weighted', COUNT(*) FROM keys_year
         |ORDER BY cube""".stripMargin,

    "a1_temporal_month" ->
      s"""${temporalCubeSql("month")}
         |SELECT "timestamp", country, admin1, admin2, admin3, lat, lng, feature, qual1,
         |       t_sum, ROUND(t_mean, 4) AS t_mean
         |FROM t
         |ORDER BY feature, "timestamp", country, admin1, admin2, lat, lng, qual1""".stripMargin,

    "a1_temporal_all" ->
      s"""${temporalCubeSql("all")}
         |SELECT "timestamp", country, admin1, admin2, admin3, lat, lng, feature, qual1,
         |       t_sum, ROUND(t_mean, 4) AS t_mean
         |FROM t
         |ORDER BY feature, country, admin1, admin2, lat, lng, qual1""".stripMargin,

    "a1_temporal_weighted" ->
      s"""${temporalCubeSql("year", weighted = true)}
         |SELECT "timestamp", country, admin1, admin2, admin3, lat, lng, feature, qual1,
         |       t_sum, ROUND(t_mean, 4) AS t_mean,
         |       ROUND(weight, 4) AS weight, ROUND(t_wavg, 4) AS t_wavg
         |FROM t
         |ORDER BY feature, "timestamp", country, admin1, admin2, lat, lng, qual1""".stripMargin,

    "a4_global_timeseries" -> globalTimeseriesSql("month"),

    "a5_regional_agg" ->
      s"""${temporalCubeSql("month")},
         | r AS (SELECT *, country || '__' || admin1 AS region_id FROM t)
         |${sAggSql("feature, \"timestamp\", region_id", "r")}""".stripMargin,

    "a2_spatial_weighted" ->
      s"""${temporalCubeSql("year", weighted = true)}
         |SELECT feature, "timestamp",
         |       ROUND(SUM(t_sum), 4)   AS s_sum_t_sum,
         |       ROUND(AVG(t_sum), 4)   AS s_mean_t_sum,
         |       ROUND(SUM(t_mean), 4)  AS s_sum_t_mean,
         |       ROUND(AVG(t_mean), 4)  AS s_mean_t_mean,
         |       COUNT(t_mean)          AS s_count,
         |       ROUND(SUM(t_wavg), 4)  AS s_sum_t_wavg,
         |       ROUND(AVG(t_wavg), 4)  AS s_mean_t_wavg,
         |       ROUND(SUM(t_sum * weight) / SUM(weight), 4)  AS s_wavg_t_sum,
         |       ROUND(SUM(t_mean * weight) / SUM(weight), 4) AS s_wavg_t_mean,
         |       ROUND(SUM(t_wavg * weight) / SUM(weight), 4) AS s_wavg_t_wavg
         |FROM t GROUP BY feature, "timestamp"
         |ORDER BY feature, "timestamp"""".stripMargin,

    "a6_regional_timeseries" ->
      s"""${temporalCubeSql("month")},
         | r AS (SELECT *, country AS region_id FROM t)
         |${sAggSql("feature, region_id, \"timestamp\", qual1", "r")}""".stripMargin,

    "a7_regional_agg_qualifier" ->
      s"""${temporalCubeSql("month")},
         | r AS (SELECT *, country || '__' || admin1 || '__' || admin2 AS region_id FROM t)
         |${sAggSql("feature, \"timestamp\", region_id, qual1", "r")}""".stripMargin,

    "a10_qualifier_pivot" ->
      s"""${temporalCubeSql("month")},
         | sa AS (
         |  SELECT feature, "timestamp", qual1, ROUND(SUM(t_sum), 4) AS s_sum_t_sum
         |  FROM t GROUP BY feature, "timestamp", qual1
         | )
         |SELECT "timestamp",
         |       MIN(CASE WHEN qual1 = 'F' THEN s_sum_t_sum END) AS "F",
         |       MIN(CASE WHEN qual1 = 'O' THEN s_sum_t_sum END) AS "O"
         |FROM sa WHERE feature = 'A'
         |GROUP BY "timestamp" ORDER BY "timestamp"""".stripMargin,

    "a11_extrema" ->
      s"""${temporalCubeSql("month")},
         | r AS (SELECT *, country || '__' || admin1 AS region_id FROM t),
         | sa AS (
         |  SELECT feature, "timestamp", region_id, ROUND(SUM(t_sum), 4) AS s_sum_t_sum
         |  FROM r GROUP BY feature, "timestamp", region_id
         | ),
         | marked AS (
         |  SELECT *, MIN(s_sum_t_sum) OVER (PARTITION BY feature) AS mn,
         |            MAX(s_sum_t_sum) OVER (PARTITION BY feature) AS mx
         |  FROM sa
         | ),
         | minmax AS (
         |  SELECT feature, 'min' AS kind, region_id, "timestamp", s_sum_t_sum FROM marked WHERE s_sum_t_sum = mn
         |  UNION ALL
         |  SELECT feature, 'max' AS kind, region_id, "timestamp", s_sum_t_sum FROM marked WHERE s_sum_t_sum = mx
         | ),
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY feature, kind ORDER BY "timestamp" DESC, region_id) AS rn
         |  FROM minmax
         | )
         |SELECT feature, kind, region_id, "timestamp", s_sum_t_sum
         |FROM ranked WHERE rn <= 20
         |ORDER BY feature, kind, "timestamp", region_id""".stripMargin,

    "a12_output_summary" ->
      s"""${temporalCubeSql("all")}
         |SELECT feature, "timestamp",
         |       ROUND(MIN(t_sum), 4)  AS s_min_t_sum,
         |       ROUND(MAX(t_sum), 4)  AS s_max_t_sum,
         |       ROUND(SUM(t_sum), 4)  AS s_sum_t_sum,
         |       ROUND(AVG(t_sum), 4)  AS s_mean_t_sum,
         |       ROUND(MIN(t_mean), 4) AS s_min_t_mean,
         |       ROUND(MAX(t_mean), 4) AS s_max_t_mean,
         |       ROUND(SUM(t_mean), 4) AS s_sum_t_mean,
         |       ROUND(AVG(t_mean), 4) AS s_mean_t_mean
         |FROM t GROUP BY feature, "timestamp"
         |ORDER BY feature""".stripMargin,

    "a13_raw_counts" ->
      s"""${Datacube.sqlCte}
         |SELECT feature, COUNT(*) AS num_rows FROM cube GROUP BY feature ORDER BY feature""".stripMargin,

    "a14_region_lists" ->
      s"""${Datacube.sqlCte},
         | rid AS (
         |  SELECT feature, country AS rid0,
         |         country || '__' || admin1 AS rid1,
         |         country || '__' || admin1 || '__' || admin2 AS rid2,
         |         country || '__' || admin1 || '__' || admin2 || '__' || admin3 AS rid3
         |  FROM cube
         | )
         |SELECT feature,
         |       string_agg(DISTINCT rid0, '|' ORDER BY rid0) AS countries,
         |       string_agg(DISTINCT rid1, '|' ORDER BY rid1) AS admin1s,
         |       string_agg(DISTINCT rid2, '|' ORDER BY rid2) AS admin2s,
         |       string_agg(DISTINCT rid3, '|' ORDER BY rid3) AS admin3s
         |FROM rid GROUP BY feature ORDER BY feature""".stripMargin,

    "a15_qualifier_lists" ->
      s"""${Datacube.sqlCte}
         |SELECT feature,
         |       string_agg(DISTINCT qual1, '|' ORDER BY qual1) AS qual1_values,
         |       COUNT(DISTINCT qual1) AS qual1_count
         |FROM cube GROUP BY feature ORDER BY feature""".stripMargin,

    "o1_topk_window" ->
      s"""${temporalCubeSql("month")},
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY feature
         |    ORDER BY "timestamp" DESC, country, admin1, admin2, lat, lng, qual1) AS rn
         |  FROM t
         | )
         |SELECT "timestamp", country, admin1, admin2, admin3, lat, lng, feature, qual1,
         |       t_sum, ROUND(t_mean, 4) AS t_mean, rn
         |FROM ranked WHERE rn <= 20
         |ORDER BY feature, rn""".stripMargin,

    "s4_schema_union" ->
      s"""${Datacube.sqlCte},
         | u AS (
         |  SELECT "timestamp", country, feature, "value", qual1 FROM cube
         |  UNION ALL BY NAME
         |  SELECT epoch_ms(o_orderdate) AS "timestamp", 'ORDERS' AS country,
         |         o_orderstatus AS feature, CAST(o_custkey % 50 AS DOUBLE) AS "value",
         |         '' AS qual1
         |  FROM orders
         | )
         |SELECT country, feature, qual1, COUNT(*) AS n, SUM("value") AS sum_value
         |FROM u GROUP BY country, feature, qual1
         |ORDER BY country, feature, qual1""".stripMargin,

    // Validate string-casts non-required columns (P3), so event_id comes out
    // VARCHAR on the Spark side — mirror the cast (and its lexicographic
    // ordering) here or the column-sorted hash compare would type-mismatch.
    "p9_validate_fix" ->
      """WITH dirty AS (
        |  SELECT CAST(event_id AS VARCHAR) AS event_id,
        |         CASE WHEN event_id % 19 = 0 THEN NULL
        |              WHEN event_id % 23 = 0 THEN 9223372036854 + 5
        |              ELSE epoch_ms(ts) END AS "timestamp",
        |         CASE WHEN event_id % 7 = 0 THEN NULL
        |              WHEN event_id % 11 = 0 THEN event_type || '//x'
        |              ELSE event_type END AS country,
        |         event_type AS feature,
        |         CASE WHEN event_id % 13 = 0 THEN 'infinity'::DOUBLE
        |              WHEN event_id % 17 = 0 THEN NULL
        |              ELSE "value" END AS "value",
        |         CASE WHEN event_id % 29 = 0 THEN 'garbage'
        |              ELSE CAST(event_id % 90 + 0.5 AS VARCHAR) END AS lat,
        |         CASE WHEN event_id % 31 = 0 THEN 'bad'
        |              ELSE CAST(event_id % 180 + 0.5 AS VARCHAR) END AS lng
        |  FROM events
        | ),
        | fixed AS (
        |  SELECT event_id,
        |         COALESCE("timestamp", 42) AS "timestamp",
        |         replace(COALESCE(country, 'None'), '//', '') AS country,
        |         feature,
        |         CASE WHEN abs("value") = 'infinity'::DOUBLE THEN NULL ELSE "value" END AS "value",
        |         TRY_CAST(lat AS DOUBLE) AS lat,
        |         TRY_CAST(lng AS DOUBLE) AS lng
        |  FROM dirty
        | )
        |SELECT * FROM fixed WHERE "timestamp" < 9223372036854
        |ORDER BY event_id""".stripMargin,

    "p13_deg2num" ->
      s"""${Datacube.sqlCte},
         | st AS (
         |  SELECT 14 AS z,
         |         CAST(FLOOR((lng + 180.0) / 360.0 * 16384) AS INT) AS x,
         |         CAST(FLOOR((1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat))*tan(radians(lat)) + 1.0)) / pi()) / 2.0 * 16384) AS INT) AS y,
         |         "value"
         |  FROM cube
         | )
         |SELECT z, x, y, COUNT(*) AS n, SUM("value") AS sum_value
         |FROM st GROUP BY z, x, y ORDER BY z, x, y""".stripMargin,
    // P17: Morton interleave by integer arithmetic — bit i of x to 2i, of
    // y to 2i+1; integer shifts keep every term exact (no double rounding)
    "p17_zorder" ->
      s"""${Datacube.sqlCte},
         | st AS (
         |  SELECT CAST(FLOOR((lng + 180.0) / 360.0 * 16384) AS INT) AS x,
         |         CAST(FLOOR((1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat))*tan(radians(lat)) + 1.0)) / pi()) / 2.0 * 16384) AS INT) AS y
         |  FROM cube
         | ),
         | g AS (SELECT x, y, COUNT(*) AS n FROM st GROUP BY x, y)
         |SELECT x, y, n,
         |       CAST(list_sum(list_transform(generate_series(0, 29), i ->
         |         (((CAST(x AS BIGINT) >> i) & 1) << (2*i))
         |         + (((CAST(y AS BIGINT) >> i) & 1) << (2*i+1)))) AS BIGINT) AS z
         |FROM g ORDER BY z""".stripMargin,

    "p15_tile_coord" ->
      s"""${Datacube.sqlCte},
         | st AS (
         |  SELECT CAST(FLOOR((lng + 180.0) / 360.0 * 16384) AS INT) AS sx,
         |         CAST(FLOOR((1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat))*tan(radians(lat)) + 1.0)) / pi()) / 2.0 * 16384) AS INT) AS sy
         |  FROM cube
         | )
         |SELECT 8 AS z, CAST(FLOOR(sx / 64.0) AS INT) AS x, CAST(FLOOR(sy / 64.0) AS INT) AS y,
         |       COUNT(*) AS n
         |FROM st GROUP BY 1, 2, 3 ORDER BY z, x, y""".stripMargin,

    "p16_project" ->
      s"""${Datacube.sqlCte},
         | st AS (
         |  SELECT CAST(FLOOR((lng + 180.0) / 360.0 * 16384) AS INT) AS sx,
         |         CAST(FLOOR((1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat))*tan(radians(lat)) + 1.0)) / pi()) / 2.0 * 16384) AS INT) AS sy
         |  FROM cube
         | ),
         | proj AS (
         |  SELECT CAST(FLOOR(sx / 64.0) AS INT) AS tx, CAST(FLOOR(sy / 64.0) AS INT) AS ty,
         |         (sx - CAST(FLOOR(sx / 64.0) AS INT) * 64)
         |         + (sy - CAST(FLOOR(sy / 64.0) AS INT) * 64) * 64 AS bin
         |  FROM st
         | )
         |SELECT tx, ty, bin, COUNT(*) AS n FROM proj GROUP BY tx, ty, bin
         |ORDER BY tx, ty, bin""".stripMargin,

    "a8_subtile_agg" ->
      s"""${temporalCubeSql("month")},
         |$subtileSqlCte
         |SELECT feature, "timestamp", z, x, y,
         |       s_sum_t_sum, ROUND(s_sum_t_mean, 4) AS s_sum_t_mean, s_count
         |FROM st ORDER BY feature, "timestamp", z, x, y""".stripMargin,

    "a9_grid_stats" ->
      s"""${temporalCubeSql("month")},
         |$subtileSqlCte,
         | pyramid AS (
         |  SELECT feature, "timestamp", zoom,
         |         x >> (14 - zoom) AS px, y >> (14 - zoom) AS py,
         |         SUM(s_sum_t_sum) AS s_sum_t_sum, SUM(s_sum_t_mean) AS s_sum_t_mean,
         |         SUM(s_count) AS s_count
         |  FROM st CROSS JOIN (SELECT CAST(range AS INT) AS zoom FROM range(6, 15)) zl
         |  GROUP BY ALL
         | ),
         | withmeans AS (
         |  SELECT *, s_sum_t_sum / s_count AS s_mean_t_sum,
         |            s_sum_t_mean / s_count AS s_mean_t_mean
         |  FROM pyramid
         | )
         |SELECT feature, "timestamp", zoom,
         |       MIN(s_sum_t_sum) AS min_s_sum_t_sum, MAX(s_sum_t_sum) AS max_s_sum_t_sum,
         |       ROUND(MIN(s_sum_t_mean), 4) AS min_s_sum_t_mean, ROUND(MAX(s_sum_t_mean), 4) AS max_s_sum_t_mean,
         |       ROUND(MIN(s_mean_t_sum), 4) AS min_s_mean_t_sum, ROUND(MAX(s_mean_t_sum), 4) AS max_s_mean_t_sum,
         |       ROUND(MIN(s_mean_t_mean), 4) AS min_s_mean_t_mean, ROUND(MAX(s_mean_t_mean), 4) AS max_s_mean_t_mean
         |FROM withmeans GROUP BY feature, "timestamp", zoom
         |ORDER BY feature, "timestamp", zoom""".stripMargin,

    "a17_tile_bins" ->
      s"""${temporalCubeSql("month")},
         |$subtileSqlCte,
         | pyr AS (
         |  SELECT feature, "timestamp", level,
         |         x >> (14 - level) AS px, y >> (14 - level) AS py,
         |         s_sum_t_sum, s_sum_t_mean, s_count
         |  FROM st CROSS JOIN (SELECT CAST(range AS INT) AS level FROM range(6, 15)) zl
         |  WHERE x >= 0 AND y >= 0
         | ),
         | bins AS (
         |  SELECT feature, "timestamp", CAST(level - 6 AS INT) AS z,
         |         CAST(px >> 6 AS INT) AS x, CAST(py >> 6 AS INT) AS y,
         |         CAST((px - ((px >> 6) << 6)) + (py - ((py >> 6) << 6)) * 64 AS INT) AS bin,
         |         SUM(s_sum_t_sum) AS s_sum_t_sum, SUM(s_sum_t_mean) AS s_sum_t_mean,
         |         CAST(SUM(s_count) AS BIGINT) AS weight
         |  FROM pyr GROUP BY feature, "timestamp", 3, 4, 5, 6
         | )
         |SELECT feature, "timestamp", z, x, y, bin,
         |       s_sum_t_sum, ROUND(s_sum_t_mean, 4) AS s_sum_t_mean, weight
         |FROM bins ORDER BY feature, "timestamp", z, x, y, bin""".stripMargin,

    // A19: level-stacked mirror — UNION ALL of the four per-level
    // aggregations is semantically identical to the grouping-sets plan
    "a19_region_rollup" ->
      s"""${temporalCubeSql("month")},
         | lv AS (
         |  SELECT 0 AS level, feature, "timestamp", country AS region_id, t_sum, t_mean FROM t
         |  UNION ALL
         |  SELECT 1, feature, "timestamp", country || '__' || admin1, t_sum, t_mean FROM t
         |  UNION ALL
         |  SELECT 2, feature, "timestamp", country || '__' || admin1 || '__' || admin2, t_sum, t_mean FROM t
         |  UNION ALL
         |  SELECT 3, feature, "timestamp", country || '__' || admin1 || '__' || admin2 || '__' || admin3, t_sum, t_mean FROM t
         | )
         |SELECT level, feature, "timestamp", region_id,
         |       ROUND(SUM(t_sum), 4)  AS s_sum_t_sum,
         |       ROUND(AVG(t_sum), 4)  AS s_mean_t_sum,
         |       ROUND(SUM(t_mean), 4) AS s_sum_t_mean,
         |       ROUND(AVG(t_mean), 4) AS s_mean_t_mean,
         |       COUNT(t_mean)         AS s_count
         |FROM lv GROUP BY 1, 2, 3, 4
         |ORDER BY 1, 2, 3, 4""".stripMargin,

    "o2_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, "value"
        |  FROM events
        | ),
        | clicks AS (
        |  SELECT event_id, user_id, ts_ms, "value" FROM ev WHERE event_type = 'click'
        | ),
        | purchases AS (
        |  SELECT user_id, ts_ms, MAX("value") AS purchase_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2
        | )
        |SELECT c.event_id, c.user_id, c.ts_ms, c."value",
        |       p.ts_ms AS purchase_ts, p.purchase_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND p.ts_ms <= c.ts_ms
        |ORDER BY event_id""".stripMargin,

    // O9: DuckDB's native ASOF with the tolerance applied as a
    // post-filter CASE — matches farther than 6 h null out on both
    // payload columns
    "o9_asof_tolerance" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, "value"
        |  FROM events
        | ),
        | clicks AS (
        |  SELECT event_id, user_id, ts_ms, "value" FROM ev WHERE event_type = 'click'
        | ),
        | purchases AS (
        |  SELECT user_id, ts_ms, MAX("value") AS purchase_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2
        | )
        |SELECT c.event_id, c.user_id, c.ts_ms, c."value",
        |       CASE WHEN c.ts_ms - p.ts_ms <= 21600000 THEN p.ts_ms END AS purchase_ts,
        |       CASE WHEN c.ts_ms - p.ts_ms <= 21600000 THEN p.purchase_value END AS purchase_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND p.ts_ms <= c.ts_ms
        |ORDER BY event_id""".stripMargin,

    // O4: the range join stated directly as the theta predicate DuckDB
    // optimizes natively (its IEJoin) — equality of results IS the gate
    // that the bin-bucketed rewrite loses no pairs at the bin seams
    "o4_range_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type FROM events
        | ),
        | clicks AS (SELECT user_id, ts_ms FROM ev WHERE event_type = 'click'),
        | w AS (
        |  SELECT event_id AS purchase_id, user_id, ts_ms AS lo,
        |         ts_ms + 86400000 AS hi
        |  FROM ev WHERE event_type = 'purchase'
        | )
        |SELECT purchase_id, COUNT(*) AS n_clicks,
        |       MAX(c.ts_ms) AS last_click_ms
        |FROM w JOIN clicks c ON w.user_id = c.user_id
        |  AND c.ts_ms >= w.lo AND c.ts_ms < w.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // O6: DuckDB ASOF with the flipped inequality = earliest at-or-after
    "o6_asof_forward" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, "value"
        |  FROM events
        | ),
        | clicks AS (
        |  SELECT event_id, user_id, ts_ms, "value" FROM ev WHERE event_type = 'click'
        | ),
        | purchases AS (
        |  SELECT user_id, ts_ms, MAX("value") AS purchase_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2
        | )
        |SELECT c.event_id, c.user_id, c.ts_ms, c."value",
        |       p.ts_ms AS purchase_ts, p.purchase_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND p.ts_ms >= c.ts_ms
        |ORDER BY event_id""".stripMargin,

    // O7: nearest = closer of the backward and forward ASOF candidates,
    // ties backward (the pandas merge_asof contract)
    "o7_asof_nearest" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, "value"
        |  FROM events
        | ),
        | clicks AS (
        |  SELECT event_id, user_id, ts_ms, "value" FROM ev WHERE event_type = 'click'
        | ),
        | purchases AS (
        |  SELECT user_id, ts_ms, MAX("value") AS purchase_value
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2
        | ),
        | bwd AS (
        |  SELECT c.event_id, p.ts_ms AS bts, p.purchase_value AS bval
        |  FROM clicks c ASOF LEFT JOIN purchases p
        |    ON c.user_id = p.user_id AND p.ts_ms <= c.ts_ms
        | ),
        | fwd AS (
        |  SELECT c.event_id, p.ts_ms AS fts, p.purchase_value AS fval
        |  FROM clicks c ASOF LEFT JOIN purchases p
        |    ON c.user_id = p.user_id AND p.ts_ms >= c.ts_ms
        | )
        |SELECT c.event_id, c.user_id, c.ts_ms, c."value",
        |       CASE WHEN bts IS NULL THEN fts
        |            WHEN fts IS NULL THEN bts
        |            WHEN c.ts_ms - bts <= fts - c.ts_ms THEN bts
        |            ELSE fts END AS purchase_ts,
        |       CASE WHEN bts IS NULL THEN fval
        |            WHEN fts IS NULL THEN bval
        |            WHEN c.ts_ms - bts <= fts - c.ts_ms THEN bval
        |            ELSE fval END AS purchase_value
        |FROM clicks c
        |JOIN bwd ON c.event_id = bwd.event_id
        |JOIN fwd ON c.event_id = fwd.event_id
        |ORDER BY c.event_id""".stripMargin,

    // G1: five PageRank iterations unrolled; every iteration's
    // contribution sum is scaled-integer (order-free), all float
    // literals e-notation so DuckDB parses doubles, not decimals
    // A20: the full monthly cube recomputed from scratch — equality with
    // the Spark side's partial-merge is the incremental contract
    "a20_incremental_cube" -> {
      val bucket = Datacube.sqlBucket("\"timestamp\"", "month")
      val keys = "country, admin1, admin2, admin3, lat, lng, feature, qual1"
      s"""${Datacube.sqlCte},
         | t AS (
         |  SELECT $bucket AS "timestamp", $keys,
         |         SUM("value") AS t_sum,
         |         CAST(COUNT("value") AS BIGINT) AS t_count,
         |         AVG("value") AS t_mean
         |  FROM cube GROUP BY ALL
         | )
         |SELECT "timestamp", country, admin1, admin2, admin3, lat, lng, feature, qual1,
         |       t_sum, t_count, ROUND(t_mean, 4) AS t_mean
         |FROM t
         |ORDER BY feature, "timestamp", country, admin1, admin2, lat, lng, qual1""".stripMargin
    },

    // G3: triangles by the INDEPENDENT canonical three-way self-join
    // (x < y < z over u<v edges) — no degree orientation anywhere, so
    // agreement proves the counted invariant, not a shared algorithm
    "g3_triangle_counts" ->
      """WITH l AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        |  WHERE l_quantity > 45
        | ),
        | e AS MATERIALIZED (
        |  SELECT DISTINCT x.sk AS u, y.sk AS v
        |  FROM l x JOIN l y ON x.ok = y.ok AND x.sk < y.sk
        | ),
        | tri AS MATERIALIZED (
        |  SELECT a.u AS x, a.v AS y, b.v AS z
        |  FROM e a JOIN e b ON a.v = b.u
        |  JOIN e c ON c.u = a.u AND c.v = b.v
        | ),
        | nodes AS (SELECT u AS n FROM e UNION SELECT v FROM e),
        | pn AS (
        |  SELECT n, COUNT(*) AS c FROM (
        |    SELECT x AS n FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY 1
        | )
        |SELECT nodes.n AS node, CAST(COALESCE(c, 0) AS BIGINT) AS n_triangles
        |FROM nodes LEFT JOIN pn ON nodes.n = pn.n
        |ORDER BY node""".stripMargin,

    // O11: the same per-type stats over json-path-extracted k
    "o11_json_extract" ->
      """SELECT event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(k) AS BIGINT) AS k_sum,
        |       CAST(MIN(k) AS BIGINT) AS k_min,
        |       CAST(MAX(k) AS BIGINT) AS k_max,
        |       CAST(SUM(k * k) AS BIGINT) AS k_sumsq
        |FROM (SELECT event_type,
        |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // O13: the identical closed-form prefix statement — running sum +
    // running min windows over cent-quantized deviations
    "o13_cusum_drift" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, epoch_ms(ts) AS ts_ms,
        |         CAST(ROUND("value" * 100) AS BIGINT) - 5500 AS dev
        |  FROM events
        | ),
        | pfx AS (
        |  SELECT event_type, event_id, ts_ms,
        |         CAST(SUM(dev) OVER w AS BIGINT) AS p
        |  FROM ev
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms, event_id
        |               ROWS UNBOUNDED PRECEDING)
        | ),
        | st AS (
        |  SELECT event_type, ts_ms,
        |         p - LEAST(CAST(0 AS BIGINT), MIN(p) OVER w2) AS cusum,
        |         (p - LEAST(CAST(0 AS BIGINT), MIN(p) OVER w2)) > 50000 AS alarm
        |  FROM pfx
        |  WINDOW w2 AS (PARTITION BY event_type ORDER BY ts_ms, event_id
        |                ROWS UNBOUNDED PRECEDING)
        | )
        |SELECT event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_alarm_rows,
        |       MAX(cusum) AS max_cusum,
        |       MIN(CASE WHEN alarm THEN ts_ms END) AS first_alarm_ms
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin,

    // O12: same two-stage median/MAD with quantile_cont, 4dp-rounded
    // before the comparison (the shared t8 exact-quantile convention)
    "o12_robust_outliers" ->
      """WITH med AS (
        |  SELECT event_type, ROUND(quantile_cont("value", 0.5), 4) AS med
        |  FROM events GROUP BY 1
        | ),
        | dev AS (
        |  SELECT e.event_type, ABS("value" - med) AS dev, med
        |  FROM events e JOIN med USING (event_type)
        | ),
        | mad AS (
        |  SELECT event_type, ROUND(quantile_cont(dev, 0.5), 4) AS mad
        |  FROM dev GROUP BY 1
        | )
        |SELECT d.event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN dev > mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       MIN(med) AS med, MIN(mad) AS mad
        |FROM dev d JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // O10: the retention matrix as plain SQL — distinct (user, day)
    // activity, min-day cohort, integer-division day buckets
    "o10_cohort_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS wk FROM events
        | ),
        | f AS (SELECT user_id, MIN(wk) AS cw FROM a GROUP BY 1)
        |SELECT cw AS cohort_period, wk - cw AS period_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // Every CTE is AS MATERIALIZED: DuckDB otherwise INLINES the chain,
    // re-deriving the edge join inside every unrolled iteration
    // (observed >300 s at sf0.1 vs 3.4 s materialized)
    "g1_pagerank" -> {
      val steps = (1 to 5).map { i =>
        s""" r$i AS MATERIALIZED (
           |  SELECT dst AS node,
           |         0.15e0 / n + 0.85e0 *
           |           (SUM(CAST(ROUND(rank / outdeg * 1e12) AS BIGINT)) / 1e12) AS rank
           |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
           |  JOIN deg USING (src) CROSS JOIN nt
           |  GROUP BY dst, n
           | )""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         | ),
         | e AS MATERIALIZED (SELECT c AS src, sp AS dst FROM p UNION SELECT sp, c FROM p),
         | deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         | nt AS MATERIALIZED (SELECT COUNT(DISTINCT v) AS n
         |        FROM (SELECT src AS v FROM e UNION SELECT dst FROM e)),
         | r0 AS MATERIALIZED (SELECT src AS node, 1.0e0 / n AS rank FROM deg CROSS JOIN nt),
         |$steps
         |SELECT node, outdeg, ROUND(rank, 6) AS rank
         |FROM r5 JOIN deg ON node = deg.src ORDER BY node""".stripMargin
    },

    // G2: degrees + reciprocity stated as plain SQL aggregations over the
    // same directed edge set (dedup'd after the union, like the operator)
    "g2_degree_profile" ->
      """WITH p AS MATERIALIZED (
        |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp, l_quantity AS q
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        | ),
        | e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT c AS src, sp AS dst FROM p
        |    UNION ALL SELECT sp, c FROM p WHERE q > 45)
        |  WHERE src <> dst
        | ),
        | od AS (SELECT src AS node, COUNT(*) AS out_deg FROM e GROUP BY 1),
        | idg AS (SELECT dst AS node, COUNT(*) AS in_deg FROM e GROUP BY 1),
        | r AS (SELECT a.src AS node, COUNT(*) AS recip_deg
        |       FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src GROUP BY 1),
        | n AS (SELECT node FROM od UNION SELECT node FROM idg)
        |SELECT n.node,
        |       CAST(COALESCE(out_deg, 0) AS BIGINT) AS out_deg,
        |       CAST(COALESCE(in_deg, 0) AS BIGINT) AS in_deg,
        |       CAST(COALESCE(recip_deg, 0) AS BIGINT) AS recip_deg,
        |       (COALESCE(in_deg, 0) = 0) AS is_source,
        |       (COALESCE(out_deg, 0) = 0) AS is_sink
        |FROM n LEFT JOIN od USING (node) LEFT JOIN idg USING (node)
        |       LEFT JOIN r USING (node)
        |ORDER BY n.node""".stripMargin,

    // O8: the funnel's independent formulation — k-step unrolled
    // min-selection joins (t1 = earliest view; t_i = earliest s_i after
    // t_{i-1} and within the window of t1) vs the Spark side's single
    // per-user fold
    "o8_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, event_type AS et FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')
        | ),
        | f1 AS (SELECT user_id, MIN(ms) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
        | f2 AS (SELECT e.user_id, MIN(ms) AS t2 FROM e JOIN f1 USING (user_id)
        |        WHERE et = 'click' AND ms > t1 AND ms <= t1 + 604800000 GROUP BY 1),
        | f3 AS (SELECT e.user_id, MIN(ms) AS t3
        |        FROM e JOIN f2 USING (user_id) JOIN f1 USING (user_id)
        |        WHERE et = 'purchase' AND ms > t2 AND ms <= t1 + 604800000 GROUP BY 1),
        | u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id,
        |       CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS level,
        |       t1 AS anchor_ms,
        |       COALESCE(t3, t2, t1) AS depth_ms
        |FROM u LEFT JOIN f1 USING (user_id) LEFT JOIN f2 USING (user_id)
        |       LEFT JOIN f3 USING (user_id)
        |ORDER BY u.user_id""".stripMargin,

    // O5: the overlap stated as the raw theta predicate (half-open
    // intervals; every window here is non-empty by construction)
    "o5_interval_overlap" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type FROM events
        | ),
        | v AS (
        |  SELECT user_id, event_id AS view_id, ts_ms AS vlo,
        |         ts_ms + 7200000 AS vhi
        |  FROM ev WHERE event_type = 'view'
        | ),
        | er AS (
        |  SELECT user_id, event_id AS err_id, ts_ms AS elo,
        |         ts_ms + 7200000 AS ehi
        |  FROM ev WHERE event_type = 'error'
        | )
        |SELECT v.user_id AS user_id, COUNT(*) AS n_overlaps,
        |       COUNT(DISTINCT view_id) AS n_views_hit
        |FROM v JOIN er ON v.user_id = er.user_id
        |  AND vlo < ehi AND elo < vhi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "o3_sessionize" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
        | ),
        | marked AS (
        |  SELECT *,
        |         CASE WHEN ts_ms - lag(ts_ms) OVER w IS NULL
        |                OR ts_ms - lag(ts_ms) OVER w > 43200000 THEN 1 ELSE 0 END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        | ),
        | sess AS (
        |  SELECT *,
        |         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM marked
        | )
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |       MIN(ts_ms) AS session_start, MAX(ts_ms) AS session_end,
        |       MAX(ts_ms) - MIN(ts_ms) AS duration_ms
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "a18_qualifier_prune" ->
      """WITH f AS (
        |  SELECT l_returnflag AS feature, l_linestatus AS qual1,
        |         CAST(l_partkey % 500 AS VARCHAR) AS qual_hi,
        |         CAST(l_orderkey % 7 AS VARCHAR) AS qual_lo
        |  FROM lineitem
        | ),
        | c AS (
        |  SELECT feature, COUNT(DISTINCT qual1) AS c1,
        |         COUNT(DISTINCT qual_hi) AS chi, COUNT(DISTINCT qual_lo) AS clo
        |  FROM f GROUP BY feature
        | ),
        | u AS (
        |  SELECT feature, 'qual1' AS qualifier, c1 AS n_values FROM c
        |  UNION ALL SELECT feature, 'qual_hi', chi FROM c
        |  UNION ALL SELECT feature, 'qual_lo', clo FROM c
        | )
        |SELECT feature, qualifier, n_values, n_values <= 100 AS kept
        |FROM u ORDER BY feature, qualifier""".stripMargin
  )
}
