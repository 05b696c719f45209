package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator

import graft.io.Writer

/** A closed interval of driver time, in nanoseconds. `parent` is the index
  * of the enclosing span in the same trace, or -1 for the root. */
final case class Span(name: String, start: Long, end: Long, parent: Int) {
  def nanos: Long = end - start
}

object Span {

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((s, e) <- intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.sortBy(_._1) if e > s) {
      if (e > reach) {
        total += e - math.max(s, reach)
        reach = e
      }
    }
    total
  }

  /** Self time of each span: its duration minus the part its children
    * cover. Over a whole trace the self times sum to the root's duration. */
  def selfNanos(spans: IndexedSeq[Span]): IndexedSeq[Long] = {
    val children = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val kids = children.getOrElse(i, Nil).map(k => (spans(k).start, spans(k).end))
      spans(i).nanos - covered(kids, spans(i).start, spans(i).end)
    }
  }
}

/** Task metrics rolled up by the job group their stage was submitted
  * under, stage run intervals for the driver-time split, and the bytes of
  * cached RDD blocks. Events arrive on Spark's listener thread; read the
  * totals only after [[Tracer.drain]]. */
final class LayerListener extends SparkListener {
  final class Totals {
    var jobs = 0L
    var cpuNanos = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val stages = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }
  private val byGroup = mutable.HashMap.empty[String, Totals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var peak = 0L

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def totals(g: String): Totals = byGroup.getOrElseUpdate(g, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobGroup(e.jobId) = g
    totals(g).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = group(e.properties)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (g <- stageGroup.get(i.stageId); s <- i.submissionTime; c <- i.completionTime)
      totals(g).stages += ((s, c))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals(stageGroup.getOrElse(e.stageId, ""))
      t.cpuNanos += m.executorCpuTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cached += size - blocks.getOrElse(b.blockId.name, 0L)
      if (size == 0L) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
      peak = math.max(peak, cached)
    }
  }

  /** Runs a marker job and waits until this listener has seen it end:
    * the bus delivers events in order, so every earlier event is in. */
  def drain(sc: SparkContext): Unit = {
    drains += 1
    val g = s"perfbench.drain.$drains"
    sc.setJobGroup(g, "drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen(g)) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 30 s")
      Thread.sleep(2)
    }
  }
  private var drains = 0

  def snapshot(g: String): Option[Totals] = synchronized(byGroup.get(g))
  private def seen(g: String): Boolean = synchronized(byGroup.contains(g) && !jobGroup.values.exists(_ == g))
  /** Peak cached bytes since the last call, then restart from what is cached now. */
  def takePeak(): Long = synchronized { val p = peak; peak = cached; p }
}

/** Counts and times every object write; the accumulators travel inside
  * the task closures, so executor-side writes are counted too. */
final case class TimedWriter(inner: Writer, calls: LongAccumulator, bytes: LongAccumulator,
                             busyNanos: LongAccumulator) extends Writer {
  override def write(body: Array[Byte], path: String): Unit = {
    val t0 = System.nanoTime()
    inner.write(body, path)
    busyNanos.add(System.nanoTime() - t0)
    calls.add(1L)
    bytes.add(body.length.toLong)
  }
}

/** Driver-side spans, one Spark job group per span so the listener can
  * attribute every task to the layer that submitted it. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val objects = mutable.ArrayBuffer.empty[Long]
  private var open = -1

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = open
    spans += Span(name, System.nanoTime(), 0L, parent)
    objects += 0L
    open = id
    sc.setJobGroup(groupOf(id), name)
    try body
    finally {
      spans(id) = spans(id).copy(end = System.nanoTime())
      open = parent
      if (parent >= 0) sc.setJobGroup(groupOf(parent), spans(parent).name) else sc.clearJobGroup()
    }
  }

  /** Credits `n` written objects to the open span and returns `n`. */
  def wrote(n: Long): Long = {
    objects(open) += n
    n
  }

  private def groupOf(id: Int) = s"perfbench.$id"

  def trace: IndexedSeq[Span] = spans.toIndexedSeq
  def objectsOf(id: Int): Long = objects(id)
  def totalsOf(id: Int, listener: LayerListener): Option[LayerListener#Totals] =
    listener.snapshot(groupOf(id))
}
