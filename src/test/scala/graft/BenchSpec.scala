package graft

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Bench's per-entry record separates the driver thread's CPU from the
  * executor CPU of the entry's tasks. */
class BenchSpec extends SparkSpec {

  test("a driver-side busy loop moves driver_cpu and leaves executor cpu flat") {
    val sc = spark.sparkContext
    val metrics = new obs.Metrics
    sc.addSparkListener(metrics)
    val thread = ManagementFactory.getThreadMXBean
    // spins on the calling (driver) thread for `busyS` of its own CPU time
    def entry(busyS: Double): SparkEntry.Q = (s, _) => {
      val t0 = thread.getCurrentThreadCpuTime
      while (thread.getCurrentThreadCpuTime - t0 < (busyS * 1e9).toLong) {}
      s.range(0L, 1000L, 1L, 2).toDF()
    }
    try {
      val errors = mutable.LinkedHashMap.empty[String, String]
      Bench.time(spark, metrics, errors, "", "warm", entry(0))
      val plain = Bench.time(spark, metrics, errors, "", "plain", entry(0))
      val busy = Bench.time(spark, metrics, errors, "", "busy", entry(0.5))
      assert(errors.isEmpty)
      assert(busy.driverCpu >= 0.5)
      assert(busy.driverCpu - plain.driverCpu > 0.4)
      assert(math.abs(busy.cpu - plain.cpu) < 0.1)
      assert(busy.json.contains("\"driver_cpu\":"))
    } finally sc.removeSparkListener(metrics)
  }
}
