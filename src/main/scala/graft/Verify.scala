package graft
import java.nio.file.{Files, Paths}
import graft.io.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // A query that errors must be a red row, not a silently vanished one:
    // every failure is recorded in _errors.json alongside the dumps (in r8/r9
    // three analysis-time failures shrank the battery 92→89 with no visible
    // signal — the driver's compare only sees dirs that exist).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def dump(qs: Seq[(String, SparkEntry.Q)]): Unit = qs.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // one fixture scope per family, as in Bench: peak cache memory stays
    // at one family's, and a family that leaves a pin is an error
    SparkEntry.eachFamily(spark, errors)(dump)
    // Json.JStr escapes backslash, quote and ALL control chars (<0x20): a
    // tab or CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.of(SparkEntry.oracleSql).render)
    Files.writeString(Paths.get(s"$outDir/_errors.json"), Json.of(errors).render)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
