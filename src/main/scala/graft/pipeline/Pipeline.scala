package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{GroupSink, Json, Writer}
import graft.model.Schema
import graft.operators.{Qualifiers, Regions, Spatial, Temporal, TileMath, Validate}
import graft.sources.Ingest
import graft.tiles.Tiling

/** Pipeline parameters (reference flow parameters,
  * flows/data_pipeline.py:927-962).
  *
  * `qualifierMap` (feature -> qualifier columns to break down by) follows
  * reference semantics: when EMPTY, no qualifier breakdowns are produced
  * (flows/common.py:342 gates on `feature in qualifier_map`); qualifier
  * value-list/count metadata is still written for every qualifier column. */
final case class PipelineConfig(
    modelId: String,
    runId: String,
    dataPaths: Seq[String],
    isIndicator: Boolean = false,
    rawCountThreshold: Long = Schema.DefaultRawCountThreshold,
    fillTimestamp: Long = 0L,
    weightColumn: String = "",
    qualifierMap: Map[String, Seq[String]] = Map.empty,
    thresholds: Qualifiers.Thresholds = Qualifiers.Thresholds(),
    selectedOutputTasks: Seq[String] = Seq.empty, // empty => run everything
    destType: String = "file",
    modelBucket: String = "models",
    indicatorBucket: String = "indicators",
    // fs.s3a.* Hadoop overrides for destType = "s3" (endpoint, path-style
    // access, credentials provider — doc/S3_WRITER.md documents the
    // contract); carried as data into the executor-side writer
    s3Conf: Map[String, String] = Map.empty
)

object OutputTask {
  val GlobalTimeseries = "compute_global_timeseries"
  val RegionalStats = "compute_regional_stats"
  val RegionalTimeseries = "compute_regional_timeseries"
  val RegionalAggregation = "compute_regional_aggregation"
  val ComputeTiles = "compute_tiles"
  val RecordResults = "record_results"
  val All: Seq[String] =
    Seq(GlobalTimeseries, RegionalStats, RegionalTimeseries, RegionalAggregation, ComputeTiles)
}

/** Skip matrix + chain gating (reference `configure_pipeline`,
  * flows/data_pipeline.py:245-288). */
final case class PipelineDecisions(
    bucket: String,
    computeMonthly: Boolean,
    computeAnnual: Boolean,
    computeSummary: Boolean,
    skipped: Map[String, Boolean]
) {
  def runs(task: String): Boolean = !skipped.getOrElse(task, false)
}

final case class PipelineResult(
    numRows: Long,
    rowsPerFeature: Map[String, Long],
    features: Seq[String],
    regionColumns: Seq[String],
    objectsWritten: Long
)

object Pipeline {

  def configurePipeline(columns: Seq[String], cfg: PipelineConfig): PipelineDecisions = {
    val hasLatLng = Seq("lat", "lng").forall(columns.contains)
    val bucket = if (cfg.isIndicator) cfg.indicatorBucket else cfg.modelBucket
    val computeSummary = !cfg.isIndicator
    val selected = cfg.selectedOutputTasks
    val recordResults = selected.isEmpty || selected.toSet == OutputTask.All.toSet
    val base = OutputTask.All.map { t =>
      t -> (selected.nonEmpty && !selected.contains(t))
    }.toMap
    val skipped = base +
      (OutputTask.ComputeTiles -> (base(OutputTask.ComputeTiles) || !hasLatLng)) +
      (OutputTask.RecordResults -> !recordResults)
    PipelineDecisions(bucket, computeMonthly = true, computeAnnual = true,
      computeSummary = computeSummary, skipped = skipped)
  }

  /** End-to-end run: ingest → validate → configure → metadata artifacts →
    * monthly chain → annual chain → summary → results.json. Chains run
    * SEQUENTIALLY (the reference gates annual on monthly completion to
    * bound cluster memory, flows/data_pipeline.py:1063-1069); the validated
    * frame and each temporal cube are cached at the reference's persist
    * points and unpersisted when their chain ends or fails. */
  def run(spark: SparkSession, cfg: PipelineConfig): PipelineResult = {
    val raw = Ingest.readData(spark, cfg.dataPaths)
    val vr = Validate(raw, cfg.weightColumn, cfg.fillTimestamp)
    val df = vr.df.cache()
    try {
      val numRows = df.count()

      val decisions = configurePipeline(df.columns.toSeq, cfg)
      val writer = Writer.forDest(cfg.destType, decisions.bucket, cfg.s3Conf)
      var objects = 0L

      val qualifierCols = Validate.qualifierColumns(df, vr.weightColumn)
      val regionCols = Regions.extractRegionColumns(df)
      // every per-feature count and list in one pass; the month and year
      // bucket counts are the row counts of each feature's global CSV
      val tsResolutions =
        if (decisions.runs(OutputTask.GlobalTimeseries)) Seq("month", "year") else Nil
      val meta = featureMetadata(df, regionCols, qualifierCols, tsResolutions)
      val features: Seq[String] = meta.map(_.feature).sorted
      // Reference semantics: an empty qualifier_map produces NO qualifier
      // breakdowns (flows/common.py:342 gates on `feature in qualifier_map`).
      val requestedQualifierMap: Map[String, Seq[String]] = cfg.qualifierMap

      // ---- raw data + per-feature counts (A13) ------------------------------
      val rowsPerFeature: Map[String, Long] = meta.map(m => m.feature -> m.rows).toMap
      val smallFeatures = rowsPerFeature.filter(_._2 <= cfg.rawCountThreshold).keySet
      if (smallFeatures.nonEmpty) {
        val rawCols = df.columns.filterNot(_ == "feature").toSeq
        val rawIdx = rawCols.map(df.schema.fieldIndex)
        objects += GroupSink.writeGroups(
          df.filter(col("feature").isin(smallFeatures.toSeq: _*)),
          keyCols = Seq("feature"), sortCols = Seq("timestamp"),
          render = (key, rows) => (
            s"${cfg.modelId}/${cfg.runId}/raw/${key.getString(key.fieldIndex("feature"))}/raw/raw.csv",
            GroupSink.renderCsv(rawCols, rawIdx, rows)),
          writer = writer)
      }

      // ---- region lists + qualifier lists (A14/A15) -------------------------
      objects += renderRegionLists(meta, regionCols, cfg, writer)
      val qualifierCounts = renderQualifierLists(meta, qualifierCols, cfg, writer)
      if (qualifierCols.nonEmpty) objects += features.size.toLong * (qualifierCols.size + 1)

      // max_count pruning runs once, before ALL output tasks
      // (reference: flows/data_pipeline.py:995-996) — bounds every downstream
      // breakdown (and the driver-side pivot collect) by thresholds.maxCount.
      val (qualifierMap, prunedQualifierCols) = Qualifiers.applyQualifierCountLimit(
        requestedQualifierMap, qualifierCols, qualifierCounts, cfg.thresholds.maxCount)

      // ---- monthly + annual chains ------------------------------------------
      var monthTsSize: Map[String, Long] = Map.empty
      var yearTsSize: Map[String, Long] = Map.empty
      for (timeRes <- Seq("month", "year")
           if (timeRes == "month" && decisions.computeMonthly) ||
             (timeRes == "year" && decisions.computeAnnual)) {
        val t = Temporal.aggregate(df, timeRes, vr.weightColumn).cache()
        try {
          if (decisions.runs(OutputTask.GlobalTimeseries)) {
            val (written, tsSize) = globalTimeseries(t, prunedQualifierCols, qualifierMap,
              vr.weightColumn, cfg, timeRes, writer,
              tsSize = Some(meta.map(m => m.feature -> m.tsSizes(timeRes)).toMap))
            objects += written
            if (timeRes == "month") monthTsSize = tsSize else yearTsSize = tsSize
          }
          // one all-levels aggregate feeds the stats and both default passes
          val regional = Seq(OutputTask.RegionalStats, OutputTask.RegionalTimeseries,
            OutputTask.RegionalAggregation).exists(decisions.runs)
          val shared = Option.when(regionCols.nonEmpty && regional) {
            val (agg, aggCols) = regionalLevels(t, regionCols, vr.weightColumn)
            (agg.cache(), aggCols)
          }
          try {
            if (decisions.runs(OutputTask.RegionalStats))
              objects += regionalStats(t, regionCols, vr.weightColumn, cfg, timeRes, writer, shared)
            if (decisions.runs(OutputTask.RegionalTimeseries))
              objects += regionalTimeseries(t, regionCols, prunedQualifierCols, qualifierMap,
                qualifierCounts, vr.weightColumn, cfg, timeRes, writer, shared)
            if (decisions.runs(OutputTask.RegionalAggregation))
              objects += regionalAggregation(t, regionCols, prunedQualifierCols, qualifierMap,
                vr.weightColumn, cfg, timeRes, writer, shared)
          } finally {
            // blocking: a lazy release overlaps the next resolution's cube
            // in the block store and raises the cache peak
            shared.foreach(_._1.unpersist(blocking = true))
          }
          if (decisions.runs(OutputTask.ComputeTiles)) {
            // A8: weight forcibly disabled — the tile proto has no wavg
            val subtiles = subtileAgg(t).cache()
            try {
              objects += gridStats(subtiles, cfg, timeRes, writer)
              objects += Tiling.saveTiles(
                Tiling.encodeTiles(Tiling.binsPyramid(subtiles)),
                writer, cfg.modelId, cfg.runId, timeRes)
            } finally subtiles.unpersist()
          }
        } finally t.unpersist()
      }

      // ---- summary + results.json -------------------------------------------
      val summaryValues: Option[Json.JValue] =
        if (decisions.computeSummary) Some(outputSummary(df, vr.weightColumn)) else None

      if (decisions.runs(OutputTask.RecordResults)) {
        val results = recordResultsJson(
          numRows = numRows, rowsPerFeature = rowsPerFeature,
          numMissingTs = vr.numMissingTs, numInvalidTs = vr.numInvalidTs,
          numMissingVal = vr.numMissingVal, regionColumns = regionCols,
          features = features, rawCountThreshold = cfg.rawCountThreshold,
          computeTiles = decisions.runs(OutputTask.ComputeTiles),
          computeMonthly = decisions.computeMonthly,
          computeAnnual = decisions.computeAnnual,
          hasWeights = vr.weightColumn.nonEmpty,
          monthTsSize = Some(monthTsSize), yearTsSize = Some(yearTsSize),
          summaryValues = summaryValues)
        writer.write(results, s"${cfg.modelId}/${cfg.runId}/results/results.json")
        objects += 1
      }
      PipelineResult(numRows, rowsPerFeature, features, regionCols, objects)
    } finally df.unpersist()
  }

  // ---- stage implementations ----------------------------------------------

  /** A12/record_results: the results.json payload, field-for-field identical
    * to the reference's `record_results` dict (flows/data_pipeline.py:726-750;
    * goldens tests/unit/test_record_results.py:70-158). "grid data" is
    * appended to region_levels when tiles were computed, and the timeseries
    * size maps appear only when their chain ran AND produced sizes. */
  private[graft] def recordResultsJson(
      numRows: Long, rowsPerFeature: Map[String, Long],
      numMissingTs: Long, numInvalidTs: Long, numMissingVal: Long,
      regionColumns: Seq[String], features: Seq[String],
      rawCountThreshold: Long, computeTiles: Boolean,
      computeMonthly: Boolean, computeAnnual: Boolean, hasWeights: Boolean,
      monthTsSize: Option[Map[String, Long]],
      yearTsSize: Option[Map[String, Long]],
      summaryValues: Option[Json.JValue]): String = {
    val regionLevelsOut =
      regionColumns ++ (if (computeTiles) Seq("grid data") else Nil)
    // by feature, as the reference's groupby lists them: collect order
    // varies with the shuffle partition count
    def byFeature(m: Map[String, Long]) = Json.of(scala.collection.immutable.TreeMap.from(m))
    val dataInfo = Seq(
      "num_rows" -> Json.JLong(numRows),
      "num_rows_per_feature" -> byFeature(rowsPerFeature),
      "num_missing_ts" -> Json.JLong(numMissingTs),
      "num_invalid_ts" -> Json.JLong(numInvalidTs),
      "num_missing_val" -> Json.JLong(numMissingVal),
      "region_levels" -> Json.of(regionLevelsOut),
      "features" -> Json.of(features),
      "raw_count_threshold" -> Json.JLong(rawCountThreshold),
      "has_tiles" -> Json.JBool(computeTiles),
      "has_monthly" -> Json.JBool(computeMonthly),
      "has_annual" -> Json.JBool(computeAnnual),
      "has_weights" -> Json.JBool(hasWeights)
    ) ++
      (if (computeMonthly) monthTsSize.map("month_timeseries_size" -> byFeature(_)) else None) ++
      (if (computeAnnual) yearTsSize.map("year_timeseries_size" -> byFeature(_)) else None)
    Json.JObj(
      Seq("data_info" -> Json.JObj(dataInfo)) ++
        summaryValues.map("output_agg_values" -> _)).render
  }

  /** A4: global timeseries — default + one breakdown per qualifier. */
  private[graft] def globalTimeseries(
      t: DataFrame, qualifierCols: Seq[String], qualifierMap: Map[String, Seq[String]],
      weightCol: String, cfg: PipelineConfig, timeRes: String, writer: Writer,
      tsSize: Option[Map[String, Long]] = None
  ): (Long, Map[String, Long]) = {
    var written = 0L
    // default: one global.csv per feature
    val (agg, aggCols) = Spatial.aggregate(t, Seq("feature", "timestamp"), Seq("sum", "mean"), weightCol)
    val header = "timestamp" +: aggCols
    val idx = header.map(agg.schema.fieldIndex)
    written += GroupSink.writeGroups(agg, Seq("feature"), Seq("timestamp"),
      (key, rows) => (
        s"${cfg.modelId}/${cfg.runId}/$timeRes/${key.getString(key.fieldIndex("feature"))}/timeseries/global/global.csv",
        GroupSink.renderCsv(header, idx, rows)),
      writer)
    // rows per feature's global.csv; a caller that already counted the
    // feature's time buckets passes them in and saves this job
    val sizes: Map[String, Long] = tsSize.getOrElse(
      agg.groupBy("feature").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)

    // per qualifier: one wide CSV per (feature, agg column)
    for (q <- qualifierCols) {
      val featuresWithQ = qualifierMap.collect { case (f, qs) if qs.contains(q) => f }.toSeq
      if (featuresWithQ.nonEmpty) {
        val (qagg, qaggCols) =
          Spatial.aggregate(t, Seq("feature", "timestamp", q), Seq("sum", "mean"), weightCol)
        val qaggF = qagg.filter(col("feature").isin(featuresWithQ: _*)).cache()
        try {
          val qValues = qaggF.select(q).distinct().collect().map(_.getString(0)).sorted.toSeq
          for (aggCol <- qaggCols) {
            val wide = qaggF.groupBy("feature", "timestamp")
              .pivot(q, qValues).agg(first(col(aggCol)))
            val wideHeader = "timestamp" +: qValues
            val wideIdx = wideHeader.map(wide.schema.fieldIndex)
            written += GroupSink.writeGroups(wide, Seq("feature"), Seq("timestamp"),
              (key, rows) => (
                s"${cfg.modelId}/${cfg.runId}/$timeRes/${key.getString(key.fieldIndex("feature"))}/timeseries/qualifiers/$q/$aggCol.csv",
                GroupSink.renderCsv(wideHeader, wideIdx, rows)),
              writer)
          }
        } finally qaggF.unpersist()
      }
    }
    (written, sizes)
  }

  /** The all-levels `(feature, timestamp)` regional aggregate, one
    * grouping-sets shuffle. [[regionalStats]] and the default passes of
    * [[regionalTimeseries]] and [[regionalAggregation]] all write from it,
    * so `run` computes it once per resolution and passes it as `shared`. */
  private[graft] def regionalLevels(
      t: DataFrame, regionCols: Seq[String], weightCol: String
  ): (DataFrame, Seq[String]) =
    Spatial.aggregateLevels(t, Seq("feature", "timestamp"),
      regionCols, regionCols.indices, Seq("sum", "mean"), weightCol)

  /** A5/A11: regional stats with top-20-capped extrema JSON, ALL admin
    * levels in one grouping-sets shuffle (SURVEY §2.3's flagged idiomatic
    * win over the reference's per-level loop). Scale-safe plan: per-(level,
    * feature) min/max via agg + broadcast join back (no window over a
    * low-cardinality feature key). `shared` is [[regionalLevels]] of `t`,
    * already cached by the caller; without it the aggregate is built and
    * cached here. */
  private[graft] def regionalStats(
      t: DataFrame, regionCols: Seq[String], weightCol: String,
      cfg: PipelineConfig, timeRes: String, writer: Writer,
      shared: Option[(DataFrame, Seq[String])] = None
  ): Long = {
    if (regionCols.isEmpty) return 0L // no admin hierarchy -> no regional outputs
    var written = 0L
    val (agg0, aggCols0) = shared.getOrElse(regionalLevels(t, regionCols, weightCol))
    val owned = Option.when(shared.isEmpty)(agg0.cache())
    val aggCols = aggCols0.filterNot(_ == "s_count")
    val agg = agg0.drop("s_count")
    try {
      val minmax = agg.groupBy("level", "feature").agg(
        aggCols.flatMap(c => Seq(min(c).as(s"mn_$c"), max(c).as(s"mx_$c"))).head,
        aggCols.flatMap(c => Seq(min(c).as(s"mn_$c"), max(c).as(s"mx_$c"))).tail: _*)
      val marked = agg.join(broadcast(minmax), Seq("level", "feature"))
      // one slim frame of candidate extrema rows across all agg columns,
      // produced in a SINGLE pass over `marked`: each row explodes into
      // its (agg_col, kind, value) extrema hits (usually zero) instead of
      // 2×|aggCols| filtered union branches re-scanning the aggregate
      val entryType = "array<struct<agg_col:string,kind:string,value:double>>"
      val hits = aggCols.flatMap { c =>
        Seq(
          when(col(c) === col(s"mn_$c"),
            array(struct(lit(c).as("agg_col"), lit("min").as("kind"), col(c).as("value"))))
            .otherwise(expr(s"CAST(array() AS $entryType)")).cast(entryType),
          when(col(c) === col(s"mx_$c"),
            array(struct(lit(c).as("agg_col"), lit("max").as("kind"), col(c).as("value"))))
            .otherwise(expr(s"CAST(array() AS $entryType)")).cast(entryType))
      }
      val extrema = marked
        .withColumn("hit", explode(concat(hits: _*)))
        .select(col("level"), col("feature"), col("hit.agg_col").as("agg_col"),
          col("hit.kind").as("kind"),
          col("region_id"), col("timestamp"), col("hit.value").as("value"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("level", "feature", "agg_col", "kind")
            .orderBy(col("timestamp").desc, col("region_id"))))
        .filter(col("rn") <= 20) // reference nlargest(20, timestamp)
      written += GroupSink.writeGroups(extrema,
        Seq("level", "feature"), Seq("agg_col", "kind", "rn"),
        (key, rows) => {
          val level = key.getInt(key.fieldIndex("level"))
          val feature = key.getString(key.fieldIndex("feature"))
          val grouped = rows.toSeq.groupBy(r =>
            (r.getString(r.fieldIndex("kind")), r.getString(r.fieldIndex("agg_col"))))
          def entries(kind: String) = Json.JObj(aggCols.map { c =>
            c -> Json.JArr(grouped.getOrElse((kind, c), Seq.empty).map(r => Json.JObj(Seq(
              "region_id" -> Json.JStr(r.getString(r.fieldIndex("region_id"))),
              "timestamp" -> Json.JLong(r.getLong(r.fieldIndex("timestamp"))),
              "value" -> Json.JDouble(r.getDouble(r.fieldIndex("value")))))))
          })
          val body = Json.JObj(Seq("min" -> entries("min"), "max" -> entries("max"))).render
          (s"${cfg.modelId}/${cfg.runId}/$timeRes/$feature/regional/${regionCols(level)}/stats/default/extrema.json",
            body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        },
        writer)
    } finally owned.foreach(_.unpersist())
    written
  }

  /** A6: one timeseries CSV per (feature, region, qualifier value). The
    * default pass writes from `shared` ([[regionalLevels]] of `t`) when
    * given. */
  private[graft] def regionalTimeseries(
      t: DataFrame, regionCols: Seq[String], qualifierCols: Seq[String],
      qualifierMap: Map[String, Seq[String]], qualifierCounts: Map[String, Map[String, Long]],
      weightCol: String, cfg: PipelineConfig, timeRes: String, writer: Writer,
      shared: Option[(DataFrame, Seq[String])] = None
  ): Long = {
    var written = 0L
    val (prunedMap, prunedCols) = Qualifiers.applyQualifierCountLimit(
      qualifierMap, qualifierCols, qualifierCounts, cfg.thresholds.regionalTimeseriesCount)
    // one grouping-sets pass per qualifier option covers every admin level
    // it applies to (qualifier breakdowns are suppressed above
    // regionalTimeseriesMaxLevel) — levels × quals passes become 1 + quals
    for (qualOpt <- (prunedCols.map(Some(_)) :+ None)) {
      val levels = qualOpt match {
        case Some(q) => regionCols.indices.filter(l =>
          Qualifiers.qualifiersForLevel(l, Seq(q), cfg.thresholds).nonEmpty)
        case None => regionCols.indices
      }
      // features that requested this qualifier (None = default pass, all)
      val featureFilter = qualOpt.map(q =>
        prunedMap.collect { case (f, qs) if qs.contains(q) => f }.toSeq)
      val skip = levels.isEmpty || featureFilter.exists(_.isEmpty)
      if (!skip) {
        val (agg, aggCols) = qualOpt match {
          case Some(q) => Spatial.aggregateLevels(t, Seq("feature", "timestamp", q),
            regionCols, levels, Seq("sum", "mean"), weightCol)
          case None => shared.getOrElse(regionalLevels(t, regionCols, weightCol))
        }
        val frame = featureFilter match {
          case Some(fs) => agg.filter(col("feature").isin(fs: _*))
          case None => agg
        }
        val header = "timestamp" +: aggCols
        val idx = header.map(frame.schema.fieldIndex)
        written += GroupSink.writeGroups(frame,
          Seq("level", "feature", "region_id") ++ qualOpt, Seq("timestamp"),
          (key, rows) => {
            val level = key.getInt(key.fieldIndex("level"))
            val feature = key.getString(key.fieldIndex("feature"))
            val regionId = key.getString(key.fieldIndex("region_id"))
            val sub = qualOpt match {
              case Some(q) => s"qualifiers/$q/${key.getString(key.fieldIndex(q))}"
              case None => "default"
            }
            (s"${cfg.modelId}/${cfg.runId}/$timeRes/$feature/regional/${regionCols(level)}/timeseries/$sub/$regionId.csv",
              GroupSink.renderCsv(header, idx, rows))
          },
          writer)
      }
    }
    written
  }

  /** A7: one regions-list CSV per (feature, timestamp[, qualifier]). The
    * default pass writes from `shared` ([[regionalLevels]] of `t`) when
    * given. */
  private[graft] def regionalAggregation(
      t: DataFrame, regionCols: Seq[String], qualifierCols: Seq[String],
      qualifierMap: Map[String, Seq[String]],
      weightCol: String, cfg: PipelineConfig, timeRes: String, writer: Writer,
      shared: Option[(DataFrame, Seq[String])] = None
  ): Long = {
    if (regionCols.isEmpty) return 0L // no admin hierarchy -> no regional outputs
    var written = 0L
    // one grouping-sets pass per qualifier option covers all admin levels:
    // levels × (1 + quals) aggregation shuffles become (1 + quals)
    for (qualOpt <- (None +: qualifierCols.map(Some(_)))) {
      val featureFilter = qualOpt.map(q =>
        qualifierMap.collect { case (f, qs) if qs.contains(q) => f }.toSeq)
      if (!featureFilter.exists(_.isEmpty)) {
        val (agg, aggCols) = qualOpt match {
          case Some(q) => Spatial.aggregateLevels(t, Seq("feature", "timestamp", q),
            regionCols, regionCols.indices, Seq("sum", "mean"), weightCol)
          case None => shared.getOrElse(regionalLevels(t, regionCols, weightCol))
        }
        val fr = featureFilter match {
          case Some(fs) => agg.filter(col("feature").isin(fs: _*))
          case None => agg
        }
        // the reference's qualifier CSVs carry the column under the literal
        // name "qualifier" (tests/unit/test_compute_regional_aggregation.py)
        val header = qualOpt match {
          case Some(_) => Seq("id", "qualifier") ++ aggCols
          case None => "id" +: aggCols
        }
        val renamed = qualOpt
          .foldLeft(fr.withColumnRenamed("region_id", "id"))(_.withColumnRenamed(_, "qualifier"))
        val idx = header.map(renamed.schema.fieldIndex)
        written += GroupSink.writeGroups(renamed,
          Seq("level", "feature", "timestamp"),
          Seq("id") ++ qualOpt.map(_ => "qualifier"),
          (key, rows) => {
            val level = key.getInt(key.fieldIndex("level"))
            val feature = key.getString(key.fieldIndex("feature"))
            val ts = key.getLong(key.fieldIndex("timestamp"))
            val name = qualOpt.map(q => s"qualifiers/$q").getOrElse("default/default")
            (s"${cfg.modelId}/${cfg.runId}/$timeRes/$feature/regional/${regionCols(level)}/aggs/$ts/$name.csv",
              GroupSink.renderCsv(header, idx, rows))
          },
          writer)
      }
    }
    written
  }

  /** A8: zoom-14 subtile aggregation (weight disabled — proto has no wavg). */
  def subtileAgg(t: DataFrame): DataFrame =
    t.filter(col("lat").isNotNull && col("lng").isNotNull)
      .withColumn("subtile",
        TileMath.deg2num(col("lat"), col("lng"), Schema.MaxSubtilePrecision))
      .groupBy(col("feature"), col("timestamp"),
        col("subtile.z").as("z"), col("subtile.x").as("x"), col("subtile.y").as("y"))
      .agg(
        sum("t_sum").as("s_sum_t_sum"),
        sum("t_mean").as("s_sum_t_mean"),
        count("t_mean").as("s_count"))

  /** A9: zoom-pyramid min/max grid stats → one CSV per (feature, timestamp). */
  private[graft] def gridStats(
      subtiles: DataFrame, cfg: PipelineConfig, timeRes: String, writer: Writer
  ): Long = {
    val pyramid = subtiles
      .withColumn("zoom", explode(expr(s"sequence(${Schema.LevelDiff}, ${Schema.MaxSubtilePrecision})")))
      .withColumn("px", expr(s"shiftright(x, ${Schema.MaxSubtilePrecision} - zoom)"))
      .withColumn("py", expr(s"shiftright(y, ${Schema.MaxSubtilePrecision} - zoom)"))
      .groupBy("feature", "timestamp", "zoom", "px", "py")
      .agg(sum("s_sum_t_sum").as("s_sum_t_sum"),
        sum("s_sum_t_mean").as("s_sum_t_mean"),
        sum("s_count").as("s_count"))
      .withColumn("s_mean_t_sum", col("s_sum_t_sum") / col("s_count"))
      .withColumn("s_mean_t_mean", col("s_sum_t_mean") / col("s_count"))
    val statCols = Seq("s_sum_t_sum", "s_sum_t_mean", "s_mean_t_sum", "s_mean_t_mean")
    val stats = pyramid.groupBy("feature", "timestamp", "zoom").agg(
      statCols.flatMap(c => Seq(min(c).as(s"min_$c"), max(c).as(s"max_$c"))).head,
      statCols.flatMap(c => Seq(min(c).as(s"min_$c"), max(c).as(s"max_$c"))).tail: _*)
    val header = "zoom" +: statCols.flatMap(c => Seq(s"min_$c", s"max_$c"))
    val idx = header.map(stats.schema.fieldIndex)
    GroupSink.writeGroups(stats, Seq("feature", "timestamp"), Seq("zoom"),
      (key, rows) => {
        val feature = key.getString(key.fieldIndex("feature"))
        val ts = key.getLong(key.fieldIndex("timestamp"))
        (s"${cfg.modelId}/${cfg.runId}/$timeRes/$feature/stats/grid/$ts.csv",
          GroupSink.renderCsv(header, idx, rows))
      },
      writer)
  }

  /** A12: output summary values (tiny — collected); NaN where a feature
    * has no non-null value to aggregate. */
  private def outputSummary(df: DataFrame, weightCol: String): Json.JValue = {
    val t = Temporal.aggregate(df, "all", weightCol)
    val (agg, aggCols) =
      Spatial.aggregate(t, Seq("feature", "timestamp"), Seq("min", "max", "sum", "mean"), weightCol)
    val cols = aggCols.filterNot(_ == "s_count")
    Json.JArr(agg.drop("s_count").orderBy("feature").collect().toSeq.map { r =>
      Json.JObj(("name" -> Json.JStr(r.getString(r.fieldIndex("feature")))) +:
        cols.map { c =>
          val i = r.fieldIndex(c)
          c -> Json.JDouble(if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
        })
    })
  }

  // ---- metadata artifacts -------------------------------------------------

  /** One feature's metadata: its row count, the sorted distinct region ids
    * of each present level, the sorted distinct values of each qualifier
    * column, and its number of time buckets per resolution. */
  private[graft] final case class FeatureMeta(
      feature: String, rows: Long, regionLists: Seq[Seq[String]],
      qualifierLists: Seq[Seq[String]], tsSizes: Map[String, Long])

  /** Every feature's [[FeatureMeta]] from ONE `groupBy("feature")` pass, in
    * the aggregate's collect order. A resolution's bucket count is the
    * number of rows in that feature's global timeseries CSV. */
  private[graft] def featureMetadata(
      df: DataFrame, regionCols: Seq[String], qualifierCols: Seq[String],
      timeResolutions: Seq[String]
  ): Seq[FeatureMeta] = {
    def distinctSorted(c: Column) = sort_array(collect_set(c))
    val aggs = (Seq(count(lit(1))) ++
      regionCols.indices.map(l => distinctSorted(Regions.joinRegionColumns(regionCols, l))) ++
      qualifierCols.map(q => distinctSorted(col(q))) ++
      timeResolutions.map(r => size(collect_set(Temporal.normalizeTime(col("timestamp"), r)))))
      .zipWithIndex.map { case (a, i) => a.as(s"_m$i") }
    val (q0, t0) = (2 + regionCols.size, 2 + regionCols.size + qualifierCols.size)
    df.groupBy("feature").agg(aggs.head, aggs.tail: _*).collect().toSeq.map { r =>
      FeatureMeta(r.getString(0), r.getLong(1),
        regionCols.indices.map(l => r.getSeq[String](2 + l)),
        qualifierCols.indices.map(i => r.getSeq[String](q0 + i)),
        timeResolutions.zipWithIndex.map { case (res, i) => res -> r.getInt(t0 + i).toLong }.toMap)
    }
  }

  private[graft] def writeRegionLists(
      df: DataFrame, regionCols: Seq[String], features: Seq[String],
      cfg: PipelineConfig, writer: Writer
  ): Long =
    if (regionCols.isEmpty) 0L
    else renderRegionLists(featureMetadata(df, regionCols, Nil, Nil), regionCols, cfg, writer)

  /** One region_lists.json per feature; returns the objects written. */
  private def renderRegionLists(
      meta: Seq[FeatureMeta], regionCols: Seq[String], cfg: PipelineConfig, writer: Writer
  ): Long = {
    if (regionCols.isEmpty) return 0L
    meta.foreach { m =>
      val lists = Json.JObj(Schema.RegionLevels.zipWithIndex.map { case (name, l) =>
        name -> (if (l < regionCols.length) Json.of(m.regionLists(l)) else Json.JArr(Nil))
      })
      writer.write(lists.render,
        s"${cfg.modelId}/${cfg.runId}/raw/${m.feature}/info/region_lists.json")
    }
    meta.size.toLong
  }

  /** Writes per-qualifier value lists + the counts summary; returns
    * feature -> (qualifier -> distinct count). */
  private[graft] def writeQualifierLists(
      df: DataFrame, qualifierCols: Seq[String], features: Seq[String],
      cfg: PipelineConfig, writer: Writer
  ): Map[String, Map[String, Long]] =
    if (qualifierCols.isEmpty) features.map(_ -> Map.empty[String, Long]).toMap
    else renderQualifierLists(featureMetadata(df, Nil, qualifierCols, Nil), qualifierCols, cfg, writer)

  private def renderQualifierLists(
      meta: Seq[FeatureMeta], qualifierCols: Seq[String], cfg: PipelineConfig, writer: Writer
  ): Map[String, Map[String, Long]] = {
    if (qualifierCols.isEmpty) return meta.map(_.feature -> Map.empty[String, Long]).toMap
    meta.map { m =>
      val counts = qualifierCols.zip(m.qualifierLists).map { case (q, values) =>
        writer.write(Json.of(values).render,
          s"${cfg.modelId}/${cfg.runId}/raw/${m.feature}/info/qualifiers/$q.json")
        q -> values.length.toLong
      }.toMap
      writer.write(
        Json.JObj(Seq(
          "thresholds" -> Json.JObj(Seq(
            "max_count" -> Json.JLong(cfg.thresholds.maxCount),
            "regional_timeseries_count" -> Json.JLong(cfg.thresholds.regionalTimeseriesCount),
            "regional_timeseries_max_level" -> Json.JLong(cfg.thresholds.regionalTimeseriesMaxLevel))),
          "counts" -> Json.of(counts))).render,
        s"${cfg.modelId}/${cfg.runId}/raw/${m.feature}/info/qualifier_counts.json")
      m.feature -> counts
    }.toMap
  }
}
