package graft

/** Plan-audit dump: `.explain("formatted")` for selected battery queries.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wanted = args.drop(1).toSet
    val spark = Session.local()
    val names =
      if (wanted.nonEmpty) wanted
      else Set("a4_global_timeseries", "a8_subtile_agg", "a17_tile_bins",
        "d3_minhash_lsh", "v1_cosine_topk", "o1_topk_window")
    SparkEntry.queries.filter(q => names.contains(q._1)).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
