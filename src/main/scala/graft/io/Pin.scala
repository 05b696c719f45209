package graft.io

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Pinning and freeing of intermediate frames.
  *
  * A pin materializes a frame and truncates its lineage, so later jobs
  * re-read a materialized sliver instead of re-running its plan: an eager
  * `localCheckpoint` (executor-memory blocks, no write path, but they die
  * with their executor) or, under a dir, a parquet round-trip (survives
  * executor loss on any Hadoop filesystem, costs one write).
  *
  * One lifecycle rule: pins are taken inside a [[scope]], and when the
  * scope ends every pin it took that the frames it returns do not read is
  * freed — all of them when its body throws. A pin a returned frame still
  * reads outlives the scope: a nested scope hands it to the enclosing
  * scope on the same thread, which applies the same rule when it ends; an
  * outermost scope hands it to the caller, who frees a local pin with
  * [[release]] and owns the dir of a reliable one (a per-run dir, deleted
  * after the results are consumed). */
private[graft] object Pin {

  /** One pin a scope holds: a local checkpoint's blocks or a spill's files. */
  private sealed trait Held { def free(): Unit }
  private final case class Blocks(rdd: RDD[_]) extends Held {
    def free(): Unit = unpersistQuietly(rdd, blocking = false)
  }
  private final case class Spill(path: Path, conf: Configuration) extends Held {
    def free(): Unit = path.getFileSystem(conf).delete(path, true)
  }

  /** The pins of the scopes open on this thread, innermost first. */
  private val open = new ThreadLocal[List[ArrayBuffer[Held]]] {
    override def initialValue(): List[ArrayBuffer[Held]] = Nil
  }

  /** Runs `body` with a pin function: a `localCheckpoint` when `dir` is
    * None, else a parquet spill to `<dir>/<prefix>-<uuid>`. On return,
    * frees every pin taken here (or handed up by a nested scope) that the
    * returned frames do not read. The returned frames are every Dataset
    * the result holds, directly or inside tuples, case classes and
    * Options; their reads are found by walking their analyzed plans,
    * subqueries included: `LogicalRDD` leaves by RDD id, parquet relations
    * by root path. When `body` throws, all the scope's pins are freed and
    * the original error is rethrown, with any cleanup failure attached as
    * suppressed. Tracking the exact pins taken, never diffing
    * `getPersistentRDDs`, keeps concurrent persists on the same context
    * (a second scope, a cache materializing) out of reach. */
  def scope[T](spark: SparkSession, dir: Option[String], prefix: String)(
      body: (DataFrame => DataFrame) => T): T = {
    val held = ArrayBuffer.empty[Held]
    val conf = spark.sessionState.newHadoopConf()
    def pin(df: DataFrame): DataFrame = dir match {
      case None =>
        val out = df.localCheckpoint()
        held ++= checkpointRdd(out).map(Blocks)
        out
      case Some(d) =>
        val p = new Path(s"$d/$prefix-${java.util.UUID.randomUUID()}")
        val q = p.getFileSystem(conf).makeQualified(p)
        held += Spill(q, conf) // before the write: a torn write is freed too
        df.write.parquet(q.toString)
        spark.read.parquet(q.toString)
    }
    val outer = open.get
    open.set(held :: outer)
    val result =
      try body(pin)
      catch {
        case e: Throwable =>
          free(held).foreach(e.addSuppressed)
          throw e
      } finally open.set(outer)
    val (live, dead) = held.partition(readBy(frames(result)))
    free(dead).foreach(e => throw e)
    outer.headOption.foreach(_ ++= live)
    result
  }

  private def frames(x: Any): Seq[DataFrame] = x match {
    case d: Dataset[_] => Seq(d.toDF())
    case p: Product => p.productIterator.flatMap(frames).toSeq
    case _ => Nil
  }

  /** Whether any of `frames` reads a pin. */
  private def readBy(frames: Seq[DataFrame]): Held => Boolean = {
    val plans = frames.map(_.queryExecution.analyzed)
    val rdds = plans.flatMap(_.collectWithSubqueries {
      case l: LogicalRDD => l.rdd.id
    }).toSet
    val roots = plans.flatMap(_.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten).toSet
    val read: Held => Boolean = {
      case Blocks(rdd) => rdds(rdd.id)
      case Spill(path, _) => roots(path.toString)
    }
    read
  }

  /** Frees every pin, even past a failure; returns the first failure with
    * the later ones attached as suppressed. */
  private def free(held: Iterable[Held]): Option[Throwable] =
    held.foldLeft(Option.empty[Throwable]) { (first, h) =>
      try { h.free(); first }
      catch {
        case e: Throwable =>
          first.foreach(_.addSuppressed(e))
          first.orElse(Some(e))
      }
    }

  /** The persisted RDD backing a localCheckpoint'd frame (None for any
    * other plan shape): `Dataset.localCheckpoint` wraps exactly the RDD it
    * persisted in a `LogicalRDD` leaf. */
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Frees the persisted RDD backing a localCheckpoint'd frame (plain
    * `unpersist()` on such a Dataset is a no-op: it only drops CacheManager
    * entries, and checkpoints persist the RDD directly). No-op for any
    * other frame. The frame is NOT recomputable afterwards (its lineage was
    * truncated), so release only when done. */
  def release(df: DataFrame): Unit =
    checkpointRdd(df).foreach(unpersistQuietly(_, blocking = false))

  private val quietLock = new Object

  /** Unpersist `rdd` without the WARN Spark logs for every freed local
    * checkpoint ("RDD N was locally checkpointed, its lineage has been
    * truncated"): freeing a checkpoint this engine took is the point, so
    * that one logger — the RDD's own class — is raised to ERROR for the
    * call and restored after, and the same warning elsewhere still
    * shows. Serialized, so two overlapping calls cannot restore each
    * other's raised level. */
  def unpersistQuietly(rdd: RDD[_], blocking: Boolean): Unit =
    quietLock.synchronized {
      val log = rdd.getClass.getName
      val level = org.apache.logging.log4j.LogManager.getLogger(log).getLevel
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        log, org.apache.logging.log4j.Level.ERROR)
      try rdd.unpersist(blocking)
      finally
        org.apache.logging.log4j.core.config.Configurator.setLevel(log, level)
    }
}
