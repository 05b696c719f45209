package graft.io

import org.apache.spark.sql.SparkSession

/** Engine-owned commit sentinel: a zero-byte `_GRAFT_COMMIT` file the
  * writer creates itself AFTER a directory's content write returns.
  *
  * Why not the committer's `_SUCCESS`: it only exists when
  * `mapreduce.fileoutputcommitter.marksuccessfuljobs` is true AND the
  * committer in use writes it — cloud-optimized committers may not.
  * Creating our own marker removes the config dependency: the sentinel
  * exists iff the writer's own control flow reached the line after the
  * write, on any filesystem and committer. Every directory gated on
  * [[isCommitted]] (the seen set's Bloom sidecar and emit dirs, the
  * curated verdict dirs, the gauge ledger's entries) is written through
  * [[mark]], so the sentinel alone decides.
  *
  * The underscore prefix keeps it invisible to Spark's file-source
  * listing. An `overwrite`-mode rewrite of the directory deletes the
  * old marker with the old content, so a torn rewrite reads
  * uncommitted — exactly the semantics the gates need. */
private[graft] object Commit {

  val Marker = "_GRAFT_COMMIT"

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Create the sentinel under `dir`. Call only after the content write
    * has returned (the write's success is what the marker asserts). */
  def mark(spark: SparkSession, dir: String): Unit =
    fsOf(spark, dir)
      .create(new org.apache.hadoop.fs.Path(s"$dir/$Marker"), true)
      .close()

  /** True iff the writer marked `dir` committed with the sentinel. */
  def isCommitted(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(s"$dir/$Marker"))

  /** Per-tree JVM locks for the mutating faces: [[Manifest]]'s commits
    * and [[Compact]]'s read→append→commit span. Keyed by the target's
    * path; reentrant (JVM monitors). ACROSS processes the
    * single-maintainer contract applies: exactly one application owns
    * a tree's mutations. */
  private val treeLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  def withTreeLock[A](treeDir: String)(body: => A): A =
    treeLocks.getOrElseUpdate(treeDir, new Object).synchronized(body)
}
