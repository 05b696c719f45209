package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.io.Pin
import graft.operators.Dedup

/** The pin lifecycle: a scope keeps the pins its returned frames read and
  * frees every other pin it took, frees all of them when its body throws,
  * and never touches a pin taken outside it. Local pins are checked as
  * persisted RDD ids, reliable ones as the spill dirs under `dir`. */
class PinSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def rddsRead(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd.id }.toSet
  private def entries(dir: String): Seq[String] =
    new File(dir).listFiles().map(_.getName).toSeq.sorted
  private def unpersist(ids: Set[Int]): Unit =
    ids.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
  private def xs(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq.sorted

  private def chain(pin: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val a = pin(spark.range(10).toDF("x"))
    val b = pin(a.filter(col("x") > 3))
    val c = pin(b.select((col("x") * 2).as("y")))
    // `a` is superseded: neither returned frame reads it
    (b, c.filter(col("y") > 15))
  }

  test("local scope: the returned frames keep the pins they read, the rest are freed") {
    val before = persisted
    val (b, c) = Pin.scope(spark, None, "pin")(chain)
    val added = persisted -- before
    assert(added.size === 2)
    assert(added === rddsRead(b) ++ rddsRead(c))
    assert(xs(b) === (4L to 9L) && xs(c) === Seq(16L, 18L))
    unpersist(added)
  }

  test("reliable scope: only the spills the returned frames read stay under dir") {
    val dir = SparkSpec.tempDir("graft-pin-rel").toString
    val before = persisted
    val (b, c) = Pin.scope(spark, Some(dir), "pin")(chain)
    assert(entries(dir).size === 2 && entries(dir).forall(_.startsWith("pin-")))
    assert(persisted -- before === Set.empty[Int])
    assert(xs(b) === (4L to 9L) && xs(c) === Seq(16L, 18L))
  }

  test("a throwing body frees all its pins and rethrows the original error") {
    val dir = SparkSpec.tempDir("graft-pin-fail").toString
    for (d <- Seq(None, Some(dir))) {
      val before = persisted
      val boom = new IllegalStateException("boom")
      val e = intercept[IllegalStateException] {
        Pin.scope(spark, d, "pin") { pin =>
          chain(pin)
          throw boom
        }
      }
      assert(e eq boom)
      assert(e.getSuppressed.isEmpty)
      assert(persisted -- before === Set.empty[Int], s"dir $d")
      assert(entries(dir) === Nil, s"dir $d")
    }
  }

  test("a pin taken outside the scope survives it") {
    val dir = SparkSpec.tempDir("graft-pin-outer").toString
    val local = spark.range(20).toDF("x").localCheckpoint()
    val reliable = Pin.scope(spark, Some(dir), "pin")(pin => pin(spark.range(20).toDF("x")))
    val spill = entries(dir)
    for ((d, outside) <- Seq(None -> local, Some(dir) -> reliable)) {
      val before = persisted
      val n = Pin.scope(spark, d, "pin") { pin =>
        pin(pin(outside.filter(col("x") % 2 === 0)).filter(col("x") > 4)).count()
      }
      assert(n === 7L)
      assert(persisted -- before === Set.empty[Int])
    }
    assert(rddsRead(local).subsetOf(persisted))
    assert(entries(dir) === spill)
    assert(xs(local) === (0L until 20L) && xs(reliable) === (0L until 20L))
    Pin.release(local)
  }

  test("a nested scope hands its surviving pins to the enclosing one") {
    val before = persisted
    val out = Pin.scope(spark, None, "pin") { pin =>
      val inner = Pin.scope(spark, None, "cc")(ck => ck(ck(spark.range(10).toDF("x"))))
      assert((persisted -- before) === rddsRead(inner))
      pin(inner.filter(col("x") % 2 === 0))
    }
    // the inner result was the enclosing scope's to free: `out` does not read it
    assert(persisted -- before === rddsRead(out))
    assert(xs(out) === Seq(0L, 2L, 4L, 6L, 8L))
    Pin.release(out)
  }

  private lazy val edges = df("doc_a LONG, doc_b LONG", Seq(
    Row(1L, 2L), Row(3L, 2L), Row(3L, 4L), Row(10L, 11L), Row(21L, 20L)))
  private val components = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
    10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
  private def toMap(d: DataFrame) = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components leave exactly their result's pin") {
    for (cc <- Seq[DataFrame => DataFrame](Dedup.connectedComponents(_),
        Dedup.connectedComponentsStar(_))) {
      val before = persisted
      val labels = cc(edges)
      assert(persisted -- before === rddsRead(labels))
      assert(rddsRead(labels).size === 1)
      assert(toMap(labels) === components)
      Pin.release(labels)
      assert(persisted -- before === Set.empty[Int])
    }
    val dir = SparkSpec.tempDir("graft-pin-cc").toString
    val before = persisted
    val labels = Dedup.connectedComponents(edges, checkpointDir = Some(dir))
    assert(persisted -- before === Set.empty[Int])
    assert(entries(dir).size === 1 && entries(dir).head.startsWith("cc-"))
    assert(toMap(labels) === components)
  }
}
