package graft.testbed

import org.apache.spark.sql.SparkSession

/** The CPU contention canary [[graft.Bench]] records into every
  * artifact: a fixed pure-CPU probe — no files, one row per core
  * shuffled — whose constants have been tuned twice (min-of-2 → min-of-3;
  * fixed warmup → 10%-convergence loop). */
object CpuCanary {

  val Rows = 200000000L

  def once(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, Rows, 1L, cpus)
      .selectExpr("sum((id * 2654435761) % 1000000007) as s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** min-of-3: a single timed run also measures residual GC/JIT, which
    * is not contention. */
  def probe(spark: SparkSession, cpus: Int): Double =
    Seq.fill(3)(once(spark, cpus)).min

  /** Warm until three consecutive runs agree within 10% (JIT converged)
    * or the cap; returns the number of warm runs spent. */
  def warm(spark: SparkSession, cpus: Int): Int = {
    var warmRuns = 1
    var agree = 0
    var warmPrev = once(spark, cpus)
    while (agree < 2 && warmRuns < 14) {
      val warmCur = once(spark, cpus); warmRuns += 1
      if (math.abs(warmCur - warmPrev) / math.min(warmCur, warmPrev) <= 0.10)
        agree += 1
      else agree = 0
      warmPrev = warmCur
    }
    warmRuns
  }

  def nsPerRow(seconds: Double): Double = seconds / Rows * 1e9
}
