package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.testbed.{DatacubeQueries, DocQueries, Fixtures}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the testbed query batteries, one entry per
  * operator from SURVEY.md §2 (keys carry the §2 id); `oracleSql` holds the
  * equivalent DuckDB SQL for the hash-compare gate. Column names are aliased
  * identically on both sides; ratio-valued doubles are rounded to 4 decimals
  * on both sides; measures are integer-valued so sums are exact in doubles.
  */
object SparkEntry {

  type Q = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full monthly global-timeseries slice (ingest → validate → temporal
    * agg → spatial agg), SURVEY §7.2. */
  def entry(spark: SparkSession): DataFrame =
    DatacubeQueries.globalTimeseries(spark, "/root/testdata/sf0.001", "month")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    DatacubeQueries.queries ++ DocQueries.queries

  def oracleSql: Map[String, String] =
    DatacubeQueries.oracles ++ DocQueries.oracles

  /** `SPARK_GRAFT_ONLY=a,b,c` names a subset of the battery (local
    * iteration on a few entries in a fresh session); absent → all. */
  val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** The name's prefix before its first digit: "ir" for "ir6_seen_set_probe". */
  def familyOf(name: String): String = name.takeWhile(!_.isDigit)

  /** The selected entries by family, in run order: the datacube battery
    * as one family, "cube", then each doc prefix family (d, g, ir, m, ...),
    * each sorted by name. Every fixture is used inside one family. */
  def selectedFamilies: Seq[(String, Seq[(String, Q)])] = {
    val docKeys = DocQueries.queries.keySet
    val (doc, cube) = queries.toSeq.filter(q => only.forall(_(q._1))).sortBy(_._1)
      .partition(q => docKeys(q._1))
    ("cube" -> cube) +: doc.groupBy(q => familyOf(q._1)).toSeq.sortBy(_._1)
  }

  /** Runs `run` on each selected family in turn, each inside its own
    * [[Fixtures.scope]]: one family's fixtures and pins are released before
    * the next family starts, and a family that leaves any behind lands in
    * `errors` as `<family>:leak`. */
  def eachFamily[A](spark: SparkSession, errors: mutable.Map[String, String])(
      run: Seq[(String, Q)] => A): Seq[A] =
    selectedFamilies.map { case (family, qs) =>
      Fixtures.scope(spark, errors, family)(run(qs))
    }
}
