package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.io.FileWriter
import graft.tiles.{TileProto, Tiling}

/** Golden semantics of compute_tiling (reference:
  * tests/unit/test_compute_tiling.py:34-159 — same 8 input subtile rows,
  * same expected tiles/bins at zooms 0, 1 and 8). */
class TilingSpec extends SparkSpec {

  private def subtiles = df(
    "feature STRING, timestamp LONG, z INT, x INT, y INT, " +
      "s_sum_t_sum DOUBLE, s_sum_t_mean DOUBLE, s_count LONG", Seq(
      Row("F1", 0L, 14, 10041, 7726, 96.0, 48.0, 3L),
      Row("F1", 0L, 14, 9632, 7755, 120.0, 60.0, 2L),
      Row("F1", 1L, 14, 10041, 7726, 80.0, 40.0, 3L),
      Row("F1", 1L, 14, 9632, 7755, 90.0, 1.8, 2L),
      Row("F2", 0L, 14, 10041, 7726, 96.0, 48.0, 3L),
      Row("F2", 0L, 14, 9632, 7755, 120.0, 60.0, 2L),
      Row("F2", 1L, 14, 10041, 7726, 80.0, 40.0, 3L),
      Row("F2", 1L, 14, 9632, 7755, 90.0, 1.8, 2L)))

  private lazy val outDir: String = {
    val dir = SparkSpec.tempDir("grafttiles").toString
    Tiling.saveTiles(Tiling.encodeTiles(Tiling.binsPyramid(subtiles)),
      FileWriter(dir), "model-id-1", "run-id-1", "month")
    dir
  }

  private def readTile(rel: String): TileProto.Tile =
    TileProto.decode(Files.readAllBytes(Paths.get(outDir, rel)))

  private def stats(t: TileProto.Tile): Map[Int, (Double, Double, Double)] =
    t.stats.view.mapValues(s => (s.sSumTSum, s.sSumTMean, s.weight)).toMap

  test("zoom 0 tiles accumulate both subtiles into the root tile") {
    val t = readTile("model-id-1/run-id-1/month/F1/tiles/0-0-0-0.tile")
    assert((t.z, t.x, t.y) === (0, 0, 0))
    assert(t.totalBins === 4096)
    assert(stats(t) === Map(
      1957 -> (120.0, 60.0, 2.0),
      1959 -> (96.0, 48.0, 3.0)))

    val t1 = readTile("model-id-1/run-id-1/month/F1/tiles/1-0-0-0.tile")
    assert(stats(t1) === Map(
      1957 -> (90.0, 1.8, 2.0),
      1959 -> (80.0, 40.0, 3.0)))
  }

  test("pyramid sums duplicate subtile rows into one row per bin") {
    // two input rows for the SAME subtile must aggregate into one bin,
    // or encodeTiles' per-bin map silently drops one duplicate's stats
    val cols = Seq("feature", "timestamp", "z", "x", "y", "bin",
      "s_sum_t_sum", "s_sum_t_mean", "weight")
    def pyramid(in: org.apache.spark.sql.DataFrame): Map[Seq[Any], Seq[Any]] = {
      val rows = Tiling.binsPyramid(in).select(cols.head, cols.tail: _*).collect()
        .map(_.toSeq)
      val byKey = rows.map(r => r.take(6) -> r.drop(6)).toMap
      assert(byKey.size === rows.length, "one row per (feature, timestamp, z, x, y, bin)")
      byKey
    }
    val single = pyramid(subtiles)
    val doubled = pyramid(subtiles.unionByName(subtiles))
    assert(single.nonEmpty)
    assert(doubled === single.view.mapValues(_.map {
      case d: Double => d * 2
      case l: Long => l * 2
    }).toMap)
  }

  test("encodeTiles skips bins whose every source value was null") {
    val bins = df(
      "feature STRING, timestamp LONG, z INT, x INT, y INT, bin INT, " +
        "s_sum_t_sum DOUBLE, s_sum_t_mean DOUBLE, weight LONG", Seq(
        Row("F", 0L, 0, 0, 0, 7, 10.0, 5.0, 2L),
        Row("F", 0L, 0, 0, 0, 9, null, null, 3L))) // all-null-value group
    val tiles = Tiling.encodeTiles(bins).collect()
    assert(tiles.length === 1)
    val t = TileProto.decode(tiles.head.body)
    assert(t.stats.keySet === Set(7))
  }

  test("zoom 1 tiles") {
    val t = readTile("model-id-1/run-id-1/month/F1/tiles/0-1-1-0.tile")
    assert((t.z, t.x, t.y) === (1, 1, 0))
    assert(stats(t) === Map(
      3851 -> (120.0, 60.0, 2.0),
      3854 -> (96.0, 48.0, 3.0)))

    val t2 = readTile("model-id-1/run-id-1/month/F2/tiles/1-1-1-0.tile")
    assert(stats(t2) === Map(
      3851 -> (90.0, 1.8, 2.0),
      3854 -> (80.0, 40.0, 3.0)))
  }

  test("zoom 8 tiles split the subtiles into separate tiles") {
    val a = readTile("model-id-1/run-id-1/month/F1/tiles/0-8-156-120.tile")
    assert(stats(a) === Map(3001 -> (96.0, 48.0, 3.0)))

    val b = readTile("model-id-1/run-id-1/month/F1/tiles/1-8-156-120.tile")
    assert(stats(b) === Map(3001 -> (80.0, 40.0, 3.0)))

    val c = readTile("model-id-1/run-id-1/month/F2/tiles/0-8-156-120.tile")
    assert(stats(c) === Map(3001 -> (96.0, 48.0, 3.0)))

    val d = readTile("model-id-1/run-id-1/month/F2/tiles/1-8-150-121.tile")
    assert(stats(d) === Map(736 -> (90.0, 1.8, 2.0)))
  }

  test("proto wire format round-trips") {
    val tile = TileProto.Tile(x = 156, y = 120, z = 8, t = 0L, totalBins = 4096,
      stats = Map(
        0 -> TileProto.TileStats(count = 7, sum = 1.5, avg = 0.5, sSumTSum = 96.0,
          sSumTMean = 48.0, weight = 3.0),
        4095 -> TileProto.TileStats(sSumTSum = -1.25)))
    assert(TileProto.decode(TileProto.encode(tile)) === tile)
  }

  test("InspectTile renders the golden tile in protobuf text format") {
    // the reference's scripts/inspect_tile_pb.py:1-26 is ParseFromString
    // + print(tile): Python text_format output — map entries ascending by
    // key, proto3 zero-defaults omitted, two-space nesting, repr doubles.
    // Pinned on the zoom-8 golden tile (totalBins 4096 = 64 subtile bins
    // aggregated at z=8).
    val tile = readTile("model-id-1/run-id-1/month/F1/tiles/0-8-156-120.tile")
    assert(graft.tools.InspectTile.render(tile) ===
      """coord {
        |  x: 156
        |  y: 120
        |  z: 8
        |}
        |bins {
        |  stats {
        |    key: 3001
        |    value {
        |      s_sum_t_sum: 96.0
        |      s_sum_t_mean: 48.0
        |      weight: 3.0
        |    }
        |  }
        |  totalBins: 4096
        |}
        |""".stripMargin)
    // exponent spelling: Java 'E100' must render as Python 'e+100'/'e-07'
    val tiny = TileProto.Tile(x = 0, y = 0, z = 0, t = 0L, totalBins = 0,
      stats = Map(1 -> TileProto.TileStats(sum = 1.0e100, avg = -1.23e-7)))
    val txt = graft.tools.InspectTile.render(tiny)
    assert(txt.contains("sum: 1e+100"))
    assert(txt.contains("avg: -1.23e-07"))
  }

  test("pyDouble matches Python repr across the switchover ranges") {
    // Java Double.toString goes scientific at >=1e7 / <1e-3; Python repr
    // holds plain until >=1e16 / <1e-4. Goldens generated with CPython
    // repr() — aggregated tile sums live in exactly these ranges.
    val goldens = Seq(
      12345678.0 -> "12345678.0",          // Java "1.2345678E7"
      1.0e7 -> "10000000.0",               // Java "1.0E7"
      123456789012345.6 -> "123456789012345.6",
      7.5e15 -> "7500000000000000.0",
      9999999999999998.0 -> "9999999999999998.0", // last plain double
      1.0e16 -> "1e+16",                   // first scientific
      0.0005 -> "0.0005",                  // Java "5.0E-4"
      1.5e-4 -> "0.00015",
      0.0001 -> "0.0001",                  // last plain small double
      0.00012345678901234567 -> "0.00012345678901234567",
      5.0e-5 -> "5e-05",                   // first scientific small
      -12345678.0 -> "-12345678.0",
      0.5 -> "0.5", 42.0 -> "42.0",
      Double.NaN -> "nan", Double.PositiveInfinity -> "inf",
      Double.NegativeInfinity -> "-inf")
    goldens.foreach { case (v, want) =>
      assert(graft.tools.InspectTile.pyDouble(v) === want, s"for $v")
    }
  }

  test("proto3 zero-default fields are omitted from the wire") {
    val empty = TileProto.Tile(x = 0, y = 0, z = 0, t = 0L, totalBins = 0, stats = Map.empty)
    // all-zero coord and bins submessages encode to length-0 bodies
    assert(TileProto.encode(empty).length === 4) // two tag+len pairs only
  }
}
