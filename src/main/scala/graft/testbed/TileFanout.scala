package graft.testbed

/** High-fan-out tile-sink rehearsal — the reference's ONE published perf
  * number is upload-dominated tile writing (~397k objects in ~1 h,
  * reference flows/data_pipeline.py:114-117), and the repo's GroupSink /
  * Writer carried an atomic-naming contract but no measured run at that
  * object count. This main writes the full encoded zoom pyramid of the
  * datacube at the given SF through [[graft.io.HadoopFsWriter]] (the
  * s3-path writer, here against a `file:` URI) and reports tile count,
  * encode seconds, write wall seconds and objects/sec — the numbers
  * SCALE.md's fan-out table records.
  *
  * Usage: runMain graft.testbed.TileFanout [sfDir] [outDir] [checksum]
  *   checksum: "crc" keeps Hadoop LocalFileSystem's default client-side
  *   checksum (every tile also writes a .crc sidecar — 2x creates);
  *   anything else (default "nocrc") disables it, which is also the
  *   honest analogue of the production S3 path (one PUT per object).
  */
object TileFanout {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_tile_fanout")
    val crc = args.lift(2).contains("crc")
    val spark = graft.Session.local()

    val t0 = System.nanoTime()
    val tiles = graft.tiles.Tiling.encodeTiles(
        graft.tiles.Tiling.binsPyramid(DatacubeQueries.subtileAgg(spark, sfDir)))
      .cache()
    val nTiles = tiles.count() // pyramid + encode materialize here
    val encodeSec = (System.nanoTime() - t0) / 1e9

    // the rawLocal Writer flag (promoted from this rehearsal's ad-hoc
    // fs.file.impl override after the ½-throughput .crc finding)
    val writer = graft.io.HadoopFsWriter(s"file:$outDir", rawLocal = !crc)
    val t1 = System.nanoTime()
    val written = graft.tiles.Tiling.saveTiles(
      tiles, writer, "fanout", "run1", "month")
    val writeSec = (System.nanoTime() - t1) / 1e9
    println(f"""{"tiles":$nTiles,"written":$written,"encode_sec":$encodeSec%.1f,"write_sec":$writeSec%.1f,"objects_per_sec":${written / writeSec}%.0f,"crc":$crc,"sf":"$sfDir"}""")
    spark.stop()
  }
}
