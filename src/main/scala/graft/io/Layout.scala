package graft.io

import org.apache.spark.sql.{Column, DataFrame}

/** Clustered parquet layout: range-partition on a clustering key and sort
  * within partitions before writing, so every output file owns one
  * contiguous, (near-)disjoint key range and parquet min/max statistics
  * prune file- and row-group-level on key-range predicates.
  *
  * Paired with [[graft.operators.TileMath.zorder]] this is Z-ORDER
  * clustering (the Delta/Iceberg layout optimization): 2-D-adjacent tiles
  * share Z prefixes, a parent tile at `d` zooms up owns exactly the Z
  * range `[z << 2d, (z+1) << 2d)`, so a viewport scan of a 100 TB tile
  * store reads a handful of contiguous files instead of striding all of
  * them. The same call clusters any sortable key (timestamp for
  * time-range scans, domain for per-site reads).
  *
  * `repartitionByRange` samples the key distribution (one extra pass over
  * the input via Spark's RangePartitioner sampling) to place balanced
  * boundaries — skewed keys get more files, empty ranges none.
  */
object Layout {

  def writeClustered(
      df: DataFrame,
      key: Column,
      numFiles: Int,
      path: String
  ): Unit =
    df.repartitionByRange(numFiles, key)
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(path)

  /** Bucketed co-located layout: hash-bucket the table on a join key at
    * WRITE time (`bucketBy` + in-bucket sort, catalog-registered), so the
    * bucketing IS a persisted HashPartitioning. Two tables bucketed on
    * the same key with the same bucket count join with ZERO shuffles —
    * the scan itself satisfies the join's distribution requirement
    * (LayoutSpec proves it on the executed plan). This is the standing
    * answer to a repeated big join: at 100 TB, shuffling either side per
    * query dwarfs every other cost, and pre-bucketing moves that shuffle
    * to ingest where it is paid ONCE. Pick a bucket count that holds
    * per-bucket data at a comfortable task size at the target scale —
    * bucket count, unlike shuffle partitions, cannot adapt at read
    * time. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      nBuckets: Int
  ): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)
}
