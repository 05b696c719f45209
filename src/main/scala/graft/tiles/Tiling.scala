package graft.tiles

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.io.Writer
import graft.model.Schema

/** Map-tile assembly (§2.8 / A8-adjacent `compute_tiling`,
  * reference: flows/data_pipeline.py:618-668, flows/common.py:414-433).
  *
  * Input: the zoom-14 subtile aggregate `(feature, timestamp, z, x, y,
  * s_sum_t_sum, s_sum_t_mean, s_count)` (A8). For every zoom level 14→6 the
  * reference re-parents subtiles, groups them into their owning tile
  * (LEVEL_DIFF=6 zooms up, so every tile carries a 64×64=4096-bin grid) and
  * accumulates per-bin stats with `+=` — i.e. a SUM over subtiles that
  * project to the same bin.
  *
  * Spark-first: instead of 9 sequential re-aggregation passes, ONE
  * `explode(levels)` + ONE hash aggregation produces every (tile, bin) of
  * the whole pyramid (same single-pass trick as the A9 grid stats — sums
  * re-sum exactly). Negative coordinates are skipped like the reference's
  * `to_proto` guard (flows/common.py:416-417). Tile assembly is
  * `collect_list` of ≤4096 bin structs per tile, encoded to protobuf bytes
  * in a typed map — the list is bounded by the fixed grid size, so executor
  * memory is safe at any corpus scale.
  */
object Tiling {

  /** All (tile, bin) rows of the zoom pyramid in one aggregation:
    * columns (feature, timestamp, z, x, y, bin, s_sum_t_sum, s_sum_t_mean,
    * weight) where (z,x,y) is the OWNING TILE coordinate (zoom z,
    * z ∈ [0, 8]) and weight accumulates `s_count` (the proto field name).
    */
  def binsPyramid(subtiles: DataFrame,
                  maxPrecision: Int = Schema.MaxSubtilePrecision,
                  levelDiff: Int = Schema.LevelDiff): DataFrame = {
    val minPrecision = levelDiff
    subtiles
      .filter(col("x") >= 0 && col("y") >= 0) // reference skips negative coords
      .withColumn("level", explode(expr(s"sequence($minPrecision, $maxPrecision)")))
      // subtile re-parented to `level`, then its owning tile `levelDiff` up
      .withColumn("px", expr(s"shiftright(x, $maxPrecision - level)"))
      .withColumn("py", expr(s"shiftright(y, $maxPrecision - level)"))
      .withColumn("z", col("level") - levelDiff)
      .withColumn("tx", expr(s"shiftright(px, $levelDiff)"))
      .withColumn("ty", expr(s"shiftright(py, $levelDiff)"))
      // bin index in the tile's 2^levelDiff x 2^levelDiff grid
      .withColumn("bin",
        (col("px") - shiftleft(col("tx"), levelDiff)) +
          (col("py") - shiftleft(col("ty"), levelDiff)) * lit(1 << levelDiff))
      .groupBy(col("feature"), col("timestamp"), col("z"), col("tx").as("x"), col("ty").as("y"), col("bin"))
      .agg(
        sum("s_sum_t_sum").as("s_sum_t_sum"),
        sum("s_sum_t_mean").as("s_sum_t_mean"),
        sum("s_count").as("weight"))
      .select("feature", "timestamp", "z", "x", "y", "bin", "s_sum_t_sum", "s_sum_t_mean", "weight")
  }

  /** Encoded tiles: one row per (feature, timestamp, tile) with the proto
    * bytes. totalBins = 4^levelDiff (the reference's 4^(subtile_z - tile_z),
    * constant because every level pairs with its tile levelDiff up). */
  def encodeTiles(bins: DataFrame, levelDiff: Int = Schema.LevelDiff): Dataset[EncodedTile] = {
    val spark = bins.sparkSession
    import spark.implicits._
    val totalBins = 1 << (2 * levelDiff)
    bins
      // a bin whose every source value was null carries null sums (the
      // aggregation layer keeps SQL null semantics); it has no stats to
      // encode, and deserializing null into BinRow's primitive Double
      // would fail the job — no data, no bin
      .filter(col("s_sum_t_sum").isNotNull)
      .groupBy("feature", "timestamp", "z", "x", "y")
      .agg(collect_list(struct(col("bin"), col("s_sum_t_sum"), col("s_sum_t_mean"), col("weight"))).as("bins"))
      .as[TileGroup]
      .map { g =>
        val stats = g.bins.map { b =>
          b.bin -> TileProto.TileStats(
            sSumTSum = b.s_sum_t_sum, sSumTMean = b.s_sum_t_mean, weight = b.weight.toDouble)
        }.toMap
        val tile = TileProto.Tile(x = g.x, y = g.y, z = g.z, t = 0L,
          totalBins = totalBins, stats = stats)
        EncodedTile(g.feature, g.timestamp, g.z, g.x, g.y, TileProto.encode(tile))
      }
  }

  /** Write every tile as `{modelId}/{runId}/{timeRes}/{feature}/tiles/
    * {timestamp}-{z}-{x}-{y}.tile` (reference: flows/common.py:291-309).
    * Returns the number of tiles written. */
  def saveTiles(
      tiles: Dataset[EncodedTile],
      writer: Writer,
      modelId: String,
      runId: String,
      timeRes: String
  ): Long = {
    val written = tiles.sparkSession.sparkContext.longAccumulator("tiles.written")
    tiles.foreachPartition { (it: Iterator[EncodedTile]) =>
      it.foreach { t =>
        val path = s"$modelId/$runId/$timeRes/${t.feature}/tiles/${t.timestamp}-${t.z}-${t.x}-${t.y}.tile"
        writer.write(t.body, path)
        written.add(1L)
      }
    }
    written.value
  }
}

final case class BinRow(bin: Int, s_sum_t_sum: Double, s_sum_t_mean: Double, weight: Long)
final case class TileGroup(feature: String, timestamp: Long, z: Int, x: Int, y: Int, bins: Seq[BinRow])
final case class EncodedTile(feature: String, timestamp: Long, z: Int, x: Int, y: Int, body: Array[Byte])
