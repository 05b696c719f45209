package graft.testbed

import java.nio.file.{Files, Path, Paths}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** The battery's one fixture registry and its release scope.
  *
  * A fixture is what the entries of one family share: a cached or
  * checkpointed frame, a driver value (a trained model) or a temp dir an
  * index is built into. Each is keyed by (session, sf dir, name) and built
  * once, on first touch. A [[scope]] wraps one family: persist the shared
  * frames, fan the entries off them, then drop them (SURVEY §2.3). */
object Fixtures {

  /** One fixture, built under its own lock: each key is built once, and
    * different keys build concurrently. */
  private final class Slot(build: () => Any, val isDir: Boolean) {
    @volatile var built: Option[Any] = None
    def get: Any = synchronized { if (built.isEmpty) built = Some(build()); built.get }
  }

  private val slots = TrieMap.empty[(SparkSession, String, String), Slot]

  private def slot[A](s: SparkSession, sfDir: String, name: String, isDir: Boolean)(
      build: => A): A =
    slots.getOrElseUpdate((s, sfDir, name), new Slot(() => build, isDir)).get.asInstanceOf[A]

  /** A frame or driver value. Frames need no release of their own: the
    * scope drops every cache entry and RDD persisted inside it. */
  def value[A](s: SparkSession, sfDir: String, name: String)(build: => A): A =
    slot(s, sfDir, name, isDir = false)(build)

  /** A temp dir `graft-<name>*` filled once by `fill`; its scope deletes it. */
  def dir(s: SparkSession, sfDir: String, name: String)(fill: String => Unit): String =
    slot(s, sfDir, name, isDir = true) {
      val d = Files.createTempDirectory(s"graft-$name")
      try { fill(d.toString); d.toString } catch { case e: Throwable => delete(d); throw e }
    }

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()
  }

  private def cacheEntries(spark: SparkSession): IndexedSeq[CachedData] = {
    val m = classOf[CacheManager].getDeclaredMethod("cachedData") // no public listing
    m.setAccessible(true)
    m.invoke(spark.sharedState.cacheManager).asInstanceOf[IndexedSeq[CachedData]]
  }

  /** Runs `body`, then releases what it pinned: the fixtures built inside
    * it (dirs deleted, keys forgotten), the cache entries added and the
    * RDDs persisted since it began, including pins entries and operators
    * make themselves (localCheckpoints, internal caches). It is done when
    * `scope` returns, with no wait on GC or the ContextCleaner, and touches
    * nothing persisted or cached before it began.
    *
    * The leak gate: any RDD still persisted that was not before, and any
    * of the scope's fixture dirs that still exists, is named in
    * `errors(s"$label:leak")`. A cache entry made before the scope but
    * materialized inside it is one. */
  def scope[A](spark: SparkSession, errors: mutable.Map[String, String], label: String)(
      body: => A): A = {
    val sc = spark.sparkContext
    val (keysBefore, rddsBefore, cachedBefore) =
      (slots.readOnlySnapshot().keySet, sc.getPersistentRDDs.keySet, cacheEntries(spark))
    try body
    finally {
      val dirs = slots.readOnlySnapshot().keys.filterNot(keysBefore).flatMap(slots.remove)
        .filter(_.isDir).flatMap(_.built).map(p => Paths.get(p.toString)).toSeq
      dirs.foreach(d => try delete(d) catch { case NonFatal(_) => }) // the gate reports it
      val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      cacheEntries(spark).filterNot(e => cachedBefore.exists(_.plan.sameResult(e.plan)))
        .foreach(e => spark.sharedState.cacheManager
          .uncacheQuery(classic, e.plan, cascade = false, blocking = true))
      val cached = cacheEntries(spark).map(_.cachedRepresentation.cacheBuilder)
        .filter(_.isCachedColumnBuffersLoaded).map(_.cachedColumnBuffers.id).toSet
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!rddsBefore(id) && !cached(id))
          graft.io.Pin.unpersistQuietly(rdd, blocking = true)
      }
      val leaks = sc.getPersistentRDDs.keySet.filterNot(rddsBefore).toSeq.sorted.map(id => s"rdd $id") ++
        dirs.filter(Files.exists(_)).map(d => s"dir $d")
      if (leaks.nonEmpty) errors(s"$label:leak") = leaks.mkString(", ")
    }
  }
}
