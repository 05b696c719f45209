package graft.testbed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal data generator: writes a K× copy of an sf directory with
  * jittered keys, so the battery can be run at ~sf1 (6M lineitem rows) to
  * check memory headroom and near-linear scaling. Key jitter rules:
  *
  *  - fact tables get their primary keys offset per copy (new groups, new
  *    (lat,lng) cells — the cube grows in GROUP count, not group size);
  *  - `documents.text` for copy k>0 has every WORD suffixed with a
  *    copy-unique tag: the shingle set of each copy is isomorphic to the
  *    original but disjoint across copies, so the near-dup graph is K
  *    disjoint replicas of the original — edge count scales linearly.
  *    (Two rejected alternatives, measured: verbatim copies turn every
  *    cluster into a K-times clique, quadratic pairs; a single token
  *    INTERLEAVED between words creates shingles like (tag, w, tag)
  *    shared by every doc pair with one common word — the hot-shingle
  *    skew that took uncapped d2 from 3.7 s to 475 s at K=10 while the
  *    maxDocFreq-capped d5 stayed linear);
  *  - dimension tables are copied as-is (they stay broadcast-sized).
  *
  * Usage: runMain graft.testbed.ScaleUp [srcDir] [dstDir] [K] [keyOffset] [tables]
  *
  * `keyOffset` (default 1e8) must exceed the SOURCE's key range: stacking
  * ScaleUp on an already-scaled directory (sf1 → sf10) needs a 10× larger
  * offset or copy i of source-copy j collides with copy i' of j' whenever
  * i+j = i'+j'. `tables` (comma list) restricts output to a subset — the
  * sf10 rehearsal only needs documents+embeddings, not a 60M-row lineitem.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val off = args.lift(3).map(_.toLong).getOrElse(100000000L)
    val wanted: String => Boolean = args.lift(4) match {
      case Some(list) => list.split(",").map(_.trim).toSet
      case None => _ => true
    }
    val spark = graft.Session.local()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      if (wanted(t)) df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def scaled(t: String)(jitter: (DataFrame, Int) => DataFrame): Unit =
      if (wanted(t)) {
        val base = read(t)
        write((0 until k).map(i => jitter(base, i)).reduce(_.unionByName(_)), t)
      }
    val Off = off // key offset per copy, beyond the SOURCE's key range

    for (t <- Seq("region", "nation", "supplier", "customer", "part"))
      write(read(t), t)

    scaled("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * Off))
        .withColumn("l_partkey", col("l_partkey") + lit(i * Off))
    }
    scaled("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * Off))
    }
    scaled("events") { (df, i) =>
      // user_id offsets too: the as-of/sessionize windows partition on
      // user_id, so copies must add USERS (new groups), not grow every
      // user's event stream K× (bigger per-key windows — group size)
      df.withColumn("event_id", col("event_id") + lit(i * Off))
        .withColumn("user_id", col("user_id") + lit(i * Off))
    }
    scaled("documents") { (df, i) =>
      val d = df.withColumn("doc_id", col("doc_id") + lit(i * Off))
      if (i == 0) d
      // the tag carries the pass (offset scale) too: stacked passes must
      // mint suffixes from disjoint families, or pass-2 copy i of pass-1
      // copy 0 collides with pass-2 copy 0 of pass-1 copy i (both "w<i>")
      // and those two copies' shingle sets stop being disjoint
      else d.withColumn("text", regexp_replace(col("text"), "(\\S+)",
        s"$$1w${off / 100000000L}x$i"))
    }
    scaled("embeddings") { (df, i) =>
      val d0 = df.withColumn("vec_id", col("vec_id") + lit(i * Off))
      if (i == 0) d0
      else {
        // per-copy deterministic sign flips: cos(s∘a, s∘b) = cos(a, b)
        // exactly (s_d² = 1), so each copy's near-dup graph is isomorphic
        // to the original, while cross-copy cosines decorrelate to ~0 —
        // verbatim copies would make every vector a 10-clique of cosine-1.0
        // duplicates and the true pair set quadratic in K
        // seeded by the key offset too: stacking passes (sf1 -> sf10) must
        // draw a DIFFERENT sign family, or pass-2 copy i applied to
        // pass-1 copy i cancels (s_i ∘ s_i = identity) and those vectors
        // become verbatim cosine-1.0 duplicates of copy 0 — the exact
        // quadratic trap the flips exist to avoid
        val signs = (0 until 64).map { d =>
          if ((((off + i.toLong) * 64 + d) * 2654435761L >>> 13) % 2 == 0) 1.0f
          else -1.0f
        }
        val signArr = array(signs.map(lit): _*)
        d0.withColumn("embedding",
          zip_with(col("embedding"), signArr, (x, s) => (x * s).cast("float")))
      }
    }
    println(s"scaled $src -> $dst x$k")
    spark.stop()
  }
}
