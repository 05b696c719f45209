package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{GroupSink, Json, Writer}
import graft.operators.{Qualifiers, Regions, Spatial, Temporal, Validate}
import graft.pipeline.{OutputTask, Pipeline, PipelineConfig}
import graft.sources.Ingest
import graft.tiles.Tiling

/** `Pipeline.run` replayed stage by stage, with a span around each call
  * into a layer. It must write the same tree as `Pipeline.run`; the
  * benchmark checks that against the same expectations. Lazy frames that
  * the pipeline caches are counted inside the span that builds them, so
  * their cost lands in their own layer rather than the first consumer;
  * that extra job shows up in the tracing overhead. */
object Replay {

  val Layers: Seq[String] = Seq("ingest", "validate", "metadata", "temporal.month", "temporal.year",
    "global_ts", "regional_stats", "regional_ts", "regional_agg", "subtile", "grid_stats", "tiles",
    "summary", "results")

  /** Returns the objects written. */
  def run(spark: SparkSession, cfg: PipelineConfig, tracer: Tracer, writer: Writer): Long =
    tracer.span("pipeline")(stages(spark, cfg, tracer, writer))

  private def stages(spark: SparkSession, cfg: PipelineConfig, tr: Tracer, writer: Writer): Long = {
    val raw = tr.span("ingest")(Ingest.readData(spark, cfg.dataPaths))
    val (vr, df, numRows) = tr.span("validate") {
      val vr = Validate(raw, cfg.weightColumn, cfg.fillTimestamp)
      val df = vr.df.cache()
      (vr, df, df.count())
    }
    try {
      val decisions = Pipeline.configurePipeline(df.columns.toSeq, cfg)
      var objects = 0L

      val (qualifierCols, regionCols, features, rowsPerFeature, qualifierCounts) =
        tr.span("metadata") {
          val qualifierCols = Validate.qualifierColumns(df, vr.weightColumn)
          val regionCols = Regions.extractRegionColumns(df)
          val features = df.select("feature").distinct().collect().map(_.getString(0)).sorted.toSeq
          val rowsPerFeature = df.groupBy("feature").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          var n = 0L
          val smallFeatures = rowsPerFeature.filter(_._2 <= cfg.rawCountThreshold).keySet
          if (smallFeatures.nonEmpty) {
            val rawCols = df.columns.filterNot(_ == "feature").toSeq
            val rawIdx = rawCols.map(df.schema.fieldIndex)
            n += GroupSink.writeGroups(
              df.filter(col("feature").isin(smallFeatures.toSeq: _*)),
              keyCols = Seq("feature"), sortCols = Seq("timestamp"),
              render = (key, rows) => (
                s"${cfg.modelId}/${cfg.runId}/raw/${key.getString(key.fieldIndex("feature"))}/raw/raw.csv",
                GroupSink.renderCsv(rawCols, rawIdx, rows)),
              writer = writer)
          }
          n += Pipeline.writeRegionLists(df, regionCols, features, cfg, writer)
          val qualifierCounts = Pipeline.writeQualifierLists(df, qualifierCols, features, cfg, writer)
          if (qualifierCols.nonEmpty) n += features.size.toLong * (qualifierCols.size + 1)
          objects += tr.wrote(n)
          (qualifierCols, regionCols, features, rowsPerFeature, qualifierCounts)
        }

      val (qualifierMap, prunedQualifierCols) = Qualifiers.applyQualifierCountLimit(
        cfg.qualifierMap, qualifierCols, qualifierCounts, cfg.thresholds.maxCount)
      val w = vr.weightColumn

      var monthTsSize: Map[String, Long] = Map.empty
      var yearTsSize: Map[String, Long] = Map.empty
      for (timeRes <- Seq("month", "year")) {
        val t = tr.span(s"temporal.$timeRes") {
          val t = Temporal.aggregate(df, timeRes, w).cache()
          t.count()
          t
        }
        try {
          if (decisions.runs(OutputTask.GlobalTimeseries)) {
            val (written, tsSize) = tr.span("global_ts") {
              val r = Pipeline.globalTimeseries(t, prunedQualifierCols, qualifierMap, w, cfg, timeRes, writer)
              tr.wrote(r._1)
              r
            }
            objects += written
            if (timeRes == "month") monthTsSize = tsSize else yearTsSize = tsSize
          }
          if (decisions.runs(OutputTask.RegionalStats))
            objects += tr.span("regional_stats")(tr.wrote(
              Pipeline.regionalStats(t, regionCols, w, cfg, timeRes, writer)))
          if (decisions.runs(OutputTask.RegionalTimeseries))
            objects += tr.span("regional_ts")(tr.wrote(Pipeline.regionalTimeseries(t, regionCols,
              prunedQualifierCols, qualifierMap, qualifierCounts, w, cfg, timeRes, writer)))
          if (decisions.runs(OutputTask.RegionalAggregation))
            objects += tr.span("regional_agg")(tr.wrote(Pipeline.regionalAggregation(t, regionCols,
              prunedQualifierCols, qualifierMap, w, cfg, timeRes, writer)))
          if (decisions.runs(OutputTask.ComputeTiles)) {
            val subtiles = tr.span("subtile") {
              val s = Pipeline.subtileAgg(t).cache()
              s.count()
              s
            }
            try {
              objects += tr.span("grid_stats")(tr.wrote(Pipeline.gridStats(subtiles, cfg, timeRes, writer)))
              objects += tr.span("tiles")(tr.wrote(Tiling.saveTiles(
                Tiling.encodeTiles(Tiling.binsPyramid(subtiles)), writer, cfg.modelId, cfg.runId, timeRes)))
            } finally subtiles.unpersist()
          }
        } finally t.unpersist()
      }

      val summaryValues =
        if (decisions.computeSummary) Some(tr.span("summary")(outputSummary(df, w))) else None

      if (decisions.runs(OutputTask.RecordResults))
        objects += tr.span("results")(tr.wrote({
          val results = Pipeline.recordResultsJson(
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
          1L
        }))
      objects
    } finally df.unpersist()
  }

  /** The pipeline's private `outputSummary`, rebuilt from the public
    * temporal and spatial aggregates it is made of. */
  private def outputSummary(df: DataFrame, weightCol: String): Json.JValue = {
    val t = Temporal.aggregate(df, "all", weightCol)
    val (agg, aggCols) =
      Spatial.aggregate(t, Seq("feature", "timestamp"), Seq("min", "max", "sum", "mean"), weightCol)
    val cols = aggCols.filterNot(_ == "s_count")
    Json.JArr(agg.drop("s_count").orderBy("feature").collect().toSeq.map { r =>
      Json.JObj(("name" -> Json.JStr(r.getString(r.fieldIndex("feature")))) +:
        cols.map(c => c -> Json.JDouble(r.getDouble(r.fieldIndex(c)))))
    })
  }
}
