package graft.obs

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** The listener's drain-to-drain difference is exactly the work that ran
  * between the drains: the marker jobs' own tasks are not counted, and
  * every task of the measured job is in before the second drain returns,
  * even when the listener bus lags. */
class MetricsSpec extends graft.SparkSpec {

  private def measured(body: => Unit): Metrics.Totals = {
    val sc = spark.sparkContext
    // Registered first on the same bus queue, so every task end reaches
    // Metrics late: a drain that returned without waiting would miss it.
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    val metrics = new Metrics
    sc.addSparkListener(slow)
    sc.addSparkListener(metrics)
    try {
      val before = metrics.drain(sc)
      body
      metrics.drain(sc) - before
    } finally {
      sc.removeSparkListener(metrics)
      sc.removeSparkListener(slow)
    }
  }

  test("a narrow job between two drains: its tasks and CPU, no shuffle") {
    val d = measured {
      spark.sparkContext.parallelize(1 to 100, 3).map(_ * 2).collect()
    }
    assert(d.tasks === 3L)
    assert(d.shuffleBytes === 0L)
    assert(d.cpuNanos > 0L)
  }

  test("a global aggregate between two drains writes shuffle bytes") {
    val d = measured {
      spark.range(0L, 100L, 1L, 3).groupBy().count().collect()
    }
    assert(d.shuffleBytes > 0L)
  }
}
