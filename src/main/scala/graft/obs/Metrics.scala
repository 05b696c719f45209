package graft.obs

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative executor-side task metrics of one SparkContext: tasks, CPU,
  * GC, shuffle bytes written and spill (memory plus disk). Events arrive on
  * Spark's listener thread, so read the totals through [[drain]]; the
  * difference of two drains is exactly what ran between them when nothing
  * else submits jobs meanwhile. The drain's own marker tasks are not
  * counted. */
final class Metrics extends SparkListener {
  import Metrics._

  private var sum = Totals(0L, 0L, 0L, 0L, 0L)
  private val markerStages = mutable.HashMap.empty[Int, Seq[Int]] // job -> stages
  private var drained = 0L
  private var drains = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .exists(_.startsWith(MarkerGroup)))
      markerStages(e.jobId) = e.stageIds
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerStages.remove(e.jobId).nonEmpty) drained += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && !markerStages.valuesIterator.exists(_.contains(e.stageId)))
      sum = sum + Totals(1L, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Runs a marker job, waits until this listener has seen it end (the bus
    * delivers events in order, so every earlier task is counted), and
    * returns the totals. Clears the calling thread's job group. */
  def drain(sc: SparkContext): Totals = {
    val n = synchronized { drains += 1; drains }
    sc.setJobGroup(s"$MarkerGroup$n", "metrics drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (synchronized(drained < n)) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 60 s")
      Thread.sleep(2)
    }
    synchronized(sum)
  }
}

object Metrics {
  private val MarkerGroup = "graft.obs.drain."

  final case class Totals(tasks: Long, cpuNanos: Long, gcMillis: Long,
                          shuffleBytes: Long, spillBytes: Long) {
    def +(o: Totals): Totals = Totals(tasks + o.tasks, cpuNanos + o.cpuNanos,
      gcMillis + o.gcMillis, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
    def -(o: Totals): Totals = Totals(tasks - o.tasks, cpuNanos - o.cpuNanos,
      gcMillis - o.gcMillis, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  }
}
