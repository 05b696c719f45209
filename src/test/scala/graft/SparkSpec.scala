package graft

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the golden-semantics suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** epoch-ms for a YYYY-MM-DD UTC date (tests/utils.py ts helper). */
  def ts(date: String): Long =
    java.time.LocalDate.parse(date).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli

  def df(schemaDDL: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType.fromDDL(schemaDDL))

  /** Rows as (sorted) plain seqs for order-insensitive golden compare. */
  def rowSet(d: DataFrame): Set[Seq[Any]] =
    d.collect().map(_.toSeq).toSet
}

object SparkSpec {
  private val tempDirs = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[Path]
    sys.addShutdownHook(q.forEach { d =>
      try {
        val walk = Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
        finally walk.close()
      } catch { case NonFatal(_) => } // best effort: a spec may have deleted it
    })
    q
  }

  /** A fresh temp directory `<prefix>*`, deleted with its contents when the
    * JVM exits. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  // SELF-HEALING accessor (r20 verdict #1): one driver run died mid-suite
  // with "Job cancelled because SparkContext was shut down" — an async
  // context teardown (RejectedExecutionException in TaskSchedulerImpl →
  // DAGScheduler stops the context in a new thread) that a plain
  // `lazy val` then serves, stopped, to every remaining suite. Rebuild
  // when the held context is stopped so at most the suite the teardown
  // landed in is affected, never the rest of the run. Four cores whatever
  // the host: the fixtures are a handful of rows, and a fixed partition
  // count keeps the suites' plans host-independent.
  private var s: SparkSession = null
  def session: SparkSession = synchronized {
    if (s == null || s.sparkContext.isStopped) s = Session.local(cpus = 4)
    s
  }
}
