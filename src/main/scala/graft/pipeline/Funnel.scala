package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Pin
import graft.operators.Dedup

/** The gate funnel [[DocPipeline]] and [[CrawlPipeline]] both run: the
  * execution contract of a curation recipe. The stages refine an ID SET,
  * never the corpus:
  *
  *  1. the caller's signal frame (every per-row signal a gate decides on,
  *     keyed by `_id` and computed in one projection over the corpus)
  *     gets SEQUENTIAL SURVIVAL FLAGS: each gate ANDs its rule onto the
  *     previous gate's flag. Only this metadata frame is pinned, never the
  *     corpus text;
  *  2. the whole gate funnel's n_in/n_out column counts in ONE aggregation
  *     job over that pin (an empty corpus counts 0, not null);
  *  3. optional near dedup over the survivors: the caller's candidate
  *     pairs (doc_a, doc_b) → [[Dedup.connectedComponents]] → each
  *     cluster's min id, pinned as an id sliver. Its own jobs, but
  *     metadata-only work;
  *  4. an optional selection over the survivors, as its own job;
  *  5. the kept frame: the corpus semi-joined once against the final ids,
  *     size-gated on the count the funnel already holds ([[KeepJoin]]), so
  *     the corpus text never shuffles when the id sliver fits a broadcast.
  *
  * At any scale the corpus is read by the signal projection and once more
  * by the kept frame; nothing wider than metadata is pinned or shuffled.
  *
  * All of it runs in one [[Pin.scope]] over `dir` (`localCheckpoint` pins
  * when None, reliable `pin-*` parquet spills under it otherwise): the
  * kept frame keeps the pins it reads, every other pin (a superseded
  * signal pin, CC's labels) is freed on return, and a failure frees all of
  * them. */
private[pipeline] object Funnel {

  /** A survival gate: its summary stage, and its rule given the previous
    * gates' survival flag. */
  final case class Gate(stage: String, rule: Column => Column)

  /** A stage that runs as its own jobs over the survivors' signal frame. */
  final case class Step(stage: String, run: DataFrame => DataFrame)

  /** Returns (kept corpus rows, summary (stage, n_in, n_out)). `signals`
    * builds the signal frame and may pin with the function it is given;
    * `near` returns candidate pairs, `select` the chosen survivors. */
  def run(
      corpus: DataFrame,
      corpusId: Column,
      inputStage: String,
      dir: Option[String],
      signals: (DataFrame => DataFrame) => DataFrame,
      gates: Seq[Gate],
      near: Option[Step],
      select: Option[Step]
  ): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    def summary(stages: Seq[(String, Long, Long)]) =
      spark.createDataFrame(stages).toDF("stage", "n_in", "n_out")
    if (gates.isEmpty && near.isEmpty && select.isEmpty) {
      // nothing to decide: the corpus passes through untouched (the same
      // frame, not a self-semi-join: duplicate ids survive as they arrived)
      val n = corpus.count()
      return (corpus, summary(Seq((inputStage, n, n))))
    }
    Pin.scope(spark, dir, "pin") { pin =>
      val flags = gates.indices.map(i => s"_s$i")
      var meta = signals(pin)
      var prior = lit(true)
      for ((g, flag) <- gates.zip(flags)) {
        meta = meta.withColumn(flag, prior && g.rule(prior))
        prior = col(flag)
      }
      val m = pin(meta)
      val counts = count(lit(1)) +:
        flags.map(f => sum(when(col(f), 1L).otherwise(0L)))
      val row = m.agg(counts.head, counts.tail: _*).head()
      // sum() over zero rows is NULL, not 0
      val funnel = counts.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
      var stages = (inputStage, funnel.head, funnel.head) +:
        gates.indices.map(i => (gates(i).stage, funnel(i), funnel(i + 1)))

      var surv = m.filter(prior)
      var ids = surv.select(col("_id"))
      var n = funnel.last
      def narrow(stage: String, next: DataFrame): Unit = {
        val k = next.count()
        stages :+= ((stage, n, k))
        ids = next
        n = k
      }
      near.foreach { case Step(stage, pairs) =>
        val labels = Dedup.connectedComponents(pairs(surv), checkpointDir = dir)
        val dropIds = labels.filter(col("component") =!= col("doc_id"))
          .select(col("doc_id").as("_drop_id"))
        // an id-only pin: nothing returned reads CC's labels, so the
        // scope frees them
        narrow(stage, pin(ids.join(dropIds, col("_id") === col("_drop_id"), "left_anti")))
        surv = surv.join(ids.select(col("_id").as("_keep_id")),
          col("_id") === col("_keep_id"), "left_semi")
      }
      select.foreach { case Step(stage, pick) => narrow(stage, pick(surv).select(col("_id"))) }
      (KeepJoin.semi(corpus, corpusId, ids, "_id", n), summary(stages))
    }
  }
}
