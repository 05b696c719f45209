package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.io.Pin

/** Byte-pair-encoding merge induction — the tokenizer-vocabulary
  * learning pass of a training-data pipeline (the SentencePiece/HF
  * `train()` step), distributed the way BPE actually scales:
  *
  *  - the CORPUS is touched exactly once, to build the word-frequency
  *    table (Heaps'-law-bounded — this is the object BPE iterates on;
  *    every classic implementation does the same reduction);
  *  - each merge round is ONE pair-count aggregation over that table
  *    plus a 1-row argmax collect (the merge rule is metadata), and the
  *    merge applies as a per-word string rewrite — no corpus rescan.
  *
  * Symbol-sequence encoding (the part both engines must agree on
  * bit-for-bit): a word's symbols are joined with TWO spaces and the
  *    whole string padded with one space each side, so the pair
  *    `(a, b)` is the literal substring ` a  b ` and a left-to-right
  *    non-overlapping `replace( a  b , ab )` implements exactly BPE's
  *    greedy-left merge application (each match consumes one of the two
  *    separator spaces on each side, so back-to-back pairs still
  *    match). Pair counting is positional (adjacent positions,
  *    overlapping occurrences counted — the standard BPE statistic),
  *    weighted by word frequency; ties break (count DESC, a ASC,
  *    b ASC).
  *
  * Returns the merge table (round, a, b, pair_count) — `rounds` rows
  * (fewer if the table runs out of pairs). */
object Bpe {

  /** The double-space symbol encoding of a word: one symbol per
    * character. `regexp_replace(w, '(.)', '$1  ')` then trim. */
  private def charSyms(wordCol: String) =
    trim(regexp_replace(col(wordCol), "(.)", "$1  "))

  /** Positional adjacent pairs of every multi-symbol word, frequency-
    * weighted: (a, b, cnt). Single-symbol words carry no pairs (and
    * Spark's sequence(1, 0) DESCENDS rather than being empty — it must
    * not be reached). */
  private def pairsOf(syms: DataFrame): DataFrame =
    syms
      .select(col("freq"), split(col("s"), "  ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("freq"), explode(
        transform(sequence(lit(1), size(col("l")) - 1),
          i => struct(element_at(col("l"), i).as("a"),
            element_at(col("l"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("freq").as("cnt"))

  /** Incremental merge learning — the shape that survives a real
    * tokenizer's 30k rounds: the standing state is the word table AND its
    * pair-count table, and each round updates both from only the words
    * CONTAINING the merged pair (the classic incremental-BPE observation:
    * a merge changes no other word's pairs). Per round:
    *
    *  1. argmax over the standing pair counts (vocabulary-sized, never
    *     re-derived from the words);
    *  2. affected = words whose padded encoding contains ` a  b `;
    *  3. delta = pairs(affected, negated) ∪ pairs(affected rewritten) —
    *     unchanged pairs cancel exactly (integer counts);
    *  4. fold the delta into the pair table; rewrite only the affected
    *     words.
    *
    * Both standing tables are eagerly localCheckpoint'd each round (the
    * PageRank lineage lesson — they are vocabulary-sized, and the argmax
    * materializes the pair table anyway) and the previous round's
    * checkpoint RDDs released, so a 30k-round run holds two tables and a
    * bounded plan, not 30k chained rewrites. Counts are integers, so the
    * incremental table equals the full recompute bit-for-bit every round
    * (BpeSpec pins it against [[learnMergesRecompute]]). */
  def learnMerges(
      docs: DataFrame,
      textCol: String,
      rounds: Int
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var syms = docs
      .select(explode(TextFunctions.tokens(textCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("s", charSyms("word"))
      .select("s", "freq")
      .localCheckpoint()
    val symsParts = math.max(1, syms.rdd.getNumPartitions)
    var pairs = pairsOf(syms)
      .groupBy("a", "b").agg(sum("cnt").as("cnt"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = pairs
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, cnt))
        val needle = s"$a  $b"                  // inner double-space form
        val pat = lit(s" $a  $b ")              // boundary-padded literal
        val rep = lit(s" ${a + b} ")
        def padded(c: org.apache.spark.sql.Column) =
          concat(lit(" "), c, lit(" "))
        val hasPair = padded(col("s")).contains(s" $needle ")
        val affected = syms.filter(hasPair)
        val rewritten = affected
          .withColumn("s", trim(replace(padded(col("s")), pat, rep)))
        val delta = pairsOf(affected).select(col("a"), col("b"), (-col("cnt")).as("cnt"))
          .unionByName(pairsOf(rewritten))
        val newPairs = pairs.unionByName(delta)
          .groupBy("a", "b").agg(sum("cnt").as("cnt"))
          .filter(col("cnt") > 0)
          .localCheckpoint()
        // coalesce BEFORE the checkpoint: the filter ∪ rewrite union has
        // 2× its parent's partitions and localCheckpoint preserves
        // partitioning, so without this the partition count DOUBLES per
        // round — 2^r tasks per stage by round r (observed: a 262k-task
        // stage by round ~15 at sf0.1). The pair table is immune (its
        // groupBy reshuffles to spark.sql.shuffle.partitions).
        val newSyms = syms.filter(!hasPair).unionByName(rewritten)
          .coalesce(symsParts)
          .localCheckpoint()
        Pin.release(pairs); Pin.release(syms)
        pairs = newPairs
        syms = newSyms
      }
      r += 1
    }
    Pin.release(pairs); Pin.release(syms)
    merges.result().toDF("round", "a", "b", "pair_count")
  }

  /** The one-shot recompute form — each round re-aggregates every pair of
    * the full word table. O(rounds × corpus-vocabulary) total work and an
    * unbounded rewrite lineage: fine as the spec WITNESS for
    * [[learnMerges]] (both must emit identical merge tables — integer
    * counts, same tie order), wrong as the production path at real merge
    * counts. */
  private[graft] def learnMergesRecompute(
      docs: DataFrame,
      textCol: String,
      rounds: Int
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = docs
      .select(explode(TextFunctions.tokens(textCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("s", charSyms("word"))
      .select("s", "freq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var syms = wf
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val best = pairsOf(syms)
        .groupBy("a", "b").agg(sum("cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.nonEmpty) {
        val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, cnt))
        syms = syms.withColumn("s",
          trim(replace(concat(lit(" "), col("s"), lit(" ")),
            lit(s" $a  $b "), lit(s" ${a + b} "))))
      }
    }
    wf.unpersist(blocking = false)
    merges.result().toDF("round", "a", "b", "pair_count")
  }

  /** Apply a learned merge table to text: per-word greedy-left
    * application of the merges in order; returns (original columns…,
    * bpe_tokens array). The rewrite chain is k literal replaces — pure
    * codegen, corpus-scan speed. */
  def applyMerges(
      docs: DataFrame,
      textCol: String,
      merges: Seq[(String, String)]
  ): DataFrame =
    docs.withColumn("bpe_tokens", expr(buildApplySql(textCol, merges)))

  /** SQL-expression form of the merge chain over each token. */
  private def buildApplySql(textCol: String, merges: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val chain = merges.foldLeft(
      s"trim(regexp_replace(w, '(.)', '$$1  '))") { case (acc, (a, b)) =>
      s"trim(replace(concat(' ', $acc, ' '), ' ${esc(a)}  ${esc(b)} ', ' ${esc(a + b)} '))"
    }
    s"flatten(transform(${TextFunctions.toksSql(textCol)}, w -> split($chain, '  ')))"
  }
}
