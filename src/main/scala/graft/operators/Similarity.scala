package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path.
  *
  * Scale design:
  *  - cosine is a higher-order `zip_with`+`aggregate` expression — codegen'd,
  *    no UDF;
  *  - brute force broadcasts the (small) query set against the corpus: one
  *    pass over the big side, partial top-k per partition via a
  *    (query, partition) pre-window, final top-k over survivors — the same
  *    two-phase shape as any scale-safe top-k;
  *  - the LSH variant buckets vectors by the sign pattern of `numPlanes`
  *    deterministic pseudo-random hyperplanes; candidates only meet within a
  *    bucket (multi-probe / repetition are the standard recall knobs and
  *    compose by unioning bucket ids).
  */
object Similarity {

  /** Dot product via the native codegen'd [[graft.functions.VectorDot]]
    * expression (registered by [[graft.plans.GraftExtensions]]) — a tight
    * primitive loop in generated code instead of the interpreted
    * higher-order-function path. Left-to-right summation. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Spread an under-partitioned frame across the cores before per-row
    * flop-heavy projections (native argmax / bucket scoring). The native
    * expressions removed the shuffles that USED to redistribute this
    * work, so a small-file local scan would otherwise run k·dims flops
    * per row on one core. A genuine cluster scan of a large corpus has
    * more splits than this guard's threshold and passes through
    * untouched — the repartition exists for the under-split case only. */
  private[operators] def spreadToCores(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Cosine similarity of two array<double> columns (by name). NULL when
    * either vector has zero norm: the raw ratio is 0/0 there — ANSI Spark
    * throws DIVIDE_BY_ZERO and non-ANSI yields NaN, which compares GREATER
    * than every value, so an unguarded zero-norm vector (a dead encoder
    * output) would either crash the query or pass every `cosine >= t`
    * near-dup threshold and rank first in every desc top-k. NULL does
    * neither: comparisons are false, desc ordering puts it last. */
  def cosine(a: String, b: String): Column = {
    val denom = sqrt(dot(col(a), col(a))) * sqrt(dot(col(b), col(b)))
    when(denom > 0.0, dot(col(a), col(b)) / denom)
  }

  /** Deterministic pseudo-random hyperplane component for (plane i, dim d):
    * an exact-in-double rational in [-0.5, 0.5) derived from a Knuth
    * multiplicative hash — identical across engines, no RNG state. The
    * definition lives on [[graft.functions.LshBuckets]] (the native
    * bucketing expression precomputes its plane tables from it). */
  def planeComponent(i: Int, d: Int, dims: Int): Double =
    graft.functions.LshBuckets.planeComponent(i, d, dims)

  /** LSH bucket id from the sign bits of dot products with `numPlanes`
    * hyperplanes starting at global plane index `planeOffset`. Plane
    * components are embedded as literal arrays (computed once at plan
    * time, not per row-element on the interpreted lambda path). */
  def lshBucket(vecCol: String, dims: Int, numPlanes: Int, planeOffset: Int = 0): Column = {
    val terms = (0 until numPlanes).map { i =>
      val plane = array((0 until dims).map(d =>
        lit(planeComponent(i + planeOffset, d, dims))): _*)
      when(dot(col(vecCol).cast("array<double>"), plane) >= 0.0, lit(1 << i)).otherwise(lit(0))
    }
    terms.reduce(_ + _)
  }

  /** Multi-table LSH buckets (OR-amplification): array of structs
    * `(t, bucket)` for `tables` independent hash tables of `planesPerTable`
    * hyperplanes each. Single-bucket random-hyperplane LSH has poor recall;
    * candidates from ANY shared (table, bucket) restore it while keeping
    * the per-table join key cardinality high.
    *
    * Delegates to the native [[graft.functions.LshBuckets]] expression —
    * the per-plane expression-tree form ([[lshBucketsTree]], kept as the
    * parity witness) built ~tables·planes dot nodes with literal-array
    * planes in one projection, overflowing codegen's method budget into
    * interpreted evaluation (138 s of hashing on a 200k-vector corpus;
    * the native loop does the same arithmetic at scan speed). */
  def lshBuckets(vecCol: String, dims: Int, tables: Int, planesPerTable: Int): Column = {
    // tolerant registration: a Column has no session handle, and this may
    // be called while building a plan before any session exists on the
    // thread — every operator entry point registers on its own frame's
    // session anyway, so this is belt-and-braces for direct column users
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(graft.plans.GraftExtensions.register)
    call_function("lsh_buckets", col(vecCol),
      lit(dims), lit(tables), lit(planesPerTable))
  }

  /** The expression-tree formulation [[lshBuckets]] replaced — the
    * equivalence-test witness (CorpusOpsSpec pins identical (t, bucket)
    * sets on both paths). */
  private[graft] def lshBucketsTree(
      vecCol: String, dims: Int, tables: Int, planesPerTable: Int): Column = {
    val buckets = (0 until tables).map { t =>
      struct(lit(t).as("t"),
        lshBucket(vecCol, dims, planesPerTable, t * planesPerTable).as("bucket"))
    }
    array(buckets: _*)
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded), ranked by (rounded score desc, id).
    * Returns (query_id, rank, neighbor_id, cosine). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine("qv", "cv"), 4))
    // two-phase top-k: per-partition survivors first, then the real rank
    val ord = Seq(col("cosine").desc, col("neighbor_id").asc)
    val pre = Window.partitionBy(col("query_id"), spark_partition_id()).orderBy(ord: _*)
    val fin = Window.partitionBy(col("query_id")).orderBy(ord: _*)
    scored
      .withColumn("_rn0", row_number().over(pre)).filter(col("_rn0") <= k).drop("_rn0")
      .withColumn("rank", row_number().over(fin)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Int8 scalar-quantized brute-force top-k — the memory-bandwidth scale
    * path for exact-ish search: unit-normalize, then map every component
    * to an 8-bit integer with ONE global scale (127 / max |component| over
    * the normalized corpus, computed in-DAG and broadcast), and rank by
    * the integer dot product of the quantized vectors. An int8 corpus is
    * 8× smaller than float64 — at 100 TB that is the difference between a
    * scan-bound and a memory-resident index — and the integer scores make
    * the ranking EXACTLY reproducible across engines: every product is
    * ≤ 127² and a 64-dim sum stays ≤ ~10^6, exact in doubles, so unlike a
    * float cosine there is no rounding boundary to disagree on.
    *
    * Queries quantize with the corpus scale (a query component larger than
    * the corpus max simply maps above 127 — the contract bounds CORPUS
    * storage, not query registers). Ties rank by neighbor id.
    *
    * ZERO-NORM VECTORS drop on BOTH sides before quantization (a zero
    * vector cannot unit-normalize; int8 zero would claim qscore 0 against
    * everything, i.e. a fake mid-rank neighbor). Corpus-side this matches
    * [[bruteForceTopK]]'s NULL-cosine rank-last contract in effect; but a
    * zero-norm QUERY id is absent from this output entirely, whereas
    * bruteForceTopK still emits its k rows with NULL cosine — a deliberate
    * asymmetry: quantized scores have no NULL to rank last with, and a
    * dead query vector has no meaningful neighbors to return. Callers
    * needing per-query accounting should anti-join their query set against
    * the distinct query_ids returned. Returns
    * (query_id, rank, neighbor_id, qscore), qscore the integer dot. */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    def unit(df: DataFrame, outId: String) = df
      .select(col(idCol).as(outId), col(vecCol).cast("array<double>").as("raw"))
      .withColumn("nrm", sqrt(dot(col("raw"), col("raw"))))
      .filter(col("nrm") > 0.0)
      .select(col(outId), transform(col("raw"), x => x / col("nrm")).as("uv"))
    val cu = unit(corpus, "neighbor_id")
    val scale = cu
      .agg((lit(127.0) / max(array_max(transform(col("uv"), x => abs(x)))))
        .as("scale"))
    def quantize(df: DataFrame, outVec: String) = df
      .crossJoin(broadcast(scale))
      .withColumn(outVec,
        transform(col("uv"), x => round(x * col("scale")).cast("int")))
      .drop("uv", "scale")
    val c = quantize(cu, "qc")
    val q = quantize(unit(queries, "query_id"), "qq")
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("qscore",
        dot(col("qq").cast("array<double>"), col("qc").cast("array<double>"))
          .cast("long"))
    val ord = Seq(col("qscore").desc, col("neighbor_id").asc)
    val pre = Window.partitionBy(col("query_id"), spark_partition_id()).orderBy(ord: _*)
    val fin = Window.partitionBy(col("query_id")).orderBy(ord: _*)
    scored
      .withColumn("_rn0", row_number().over(pre)).filter(col("_rn0") <= k).drop("_rn0")
      .withColumn("rank", row_number().over(fin)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qscore"))
  }

  /** Spherical k-means (Lloyd) refinement of IVF centroids.
    *
    * Seeds with `nCentroids` corpus vectors STRIDED across the
    * id-ordered training sample ([[stridedIdx]] — [[ivfTopK]]'s
    * unrefined path keeps its simpler first-k pick, which is fine
    * there because those centroids are never retrained against a
    * drifted corpus), then runs `iters` assignment + re-center steps:
    *
    *  - ASSIGN: each (unit-normalized) corpus vector gets its max-dot
    *    centroid from the native `best_centroid` argmax over the
    *    collected centroid literal — a PROJECTION (no join, no agg, no
    *    exchange), one corpus pass;
    *  - RE-CENTER: the new centroid is the element-wise mean of its cell's
    *    normalized vectors rescaled to unit length (the exact maximizer of
    *    the cell's summed cosine), via `posexplode` → (cent_id, pos)
    *    partial-agg mean → reassembly. The (cent_id, pos) key has
    *    nCentroids × dims cardinality, so the shuffle is tiny regardless
    *    of corpus size; the heavy side is map-side partial means.
    *  - An emptied cell keeps its previous centroid (left join fallback).
    *
    * Normalizing before the mean makes the update the exact maximizer of
    * the spherical objective (mean cosine to the assigned centroid), so
    * the objective is non-decreasing per iteration — the property
    * SimilaritySpec asserts. Centroids are collected per iteration
    * (nCentroids rows — driver-tiny), which also truncates lineage: the
    * loop never stacks `iters` joins into one plan.
    *
    * Returns (cent_id, centv) with the seed's centroid ids. */
  /** Cap on the driver-collected TRAINING sample for k-means / PQ
    * codebooks. Training quality needs a bounded sample, not the corpus
    * (the FAISS contract: `train()` on ≤ ~100k vectors, `add()` the
    * whole index) — so collecting it is a metadata-sized operation whose
    * cost is CONSTANT in corpus size, and the Lloyd iterations run as
    * driver-local loops instead of one distributed aggregation per pass.
    * At battery scale every corpus is under the cap, so the sample IS
    * the corpus and results are identical to the full-corpus iteration
    * the DuckDB oracles unroll. At 100 TB the sample is a HASH-SPREAD
    * `TrainSampleCap`-sized subset (deterministic — ordered by
    * xxhash64(vid) — one narrow TakeOrdered job) so it represents the
    * whole id range, not the oldest shard: a retrain triggered by
    * drift in the NEWEST data must actually see that data (the #18h
    * autonomic-loop lesson), and "first cap ids" never would. Only
    * encode/assign/score touch the full data.
    *
    * Why this replaced distributed Lloyd passes: each pass was one job +
    * one giant codegen'd plan; at 16 centroids × 64 dims the per-pass
    * JOB overhead (analysis + Janino + scheduling) dominated the
    * arithmetic by 100× at any corpus size small enough to iterate on,
    * and at corpus sizes where the arithmetic would dominate, sample
    * training is what you'd run anyway. */
  val TrainSampleCap: Int = 1 << 16

  /** A deterministic bounded training sample, ascending-vid: ALL rows
    * when the corpus fits the cap (the oracle-matched regime —
    * identical to the old orderBy(vid).limit(cap)), else a
    * hash-spread cap-sized subset (ordered by xxhash64(vid), a pure
    * function of the ids, then re-sorted by vid for the seed/summation
    * order contract). One narrow TakeOrdered job either way. */
  private def collectTrainSample(
      vecs: DataFrame, idCol: String, vecCol: String, cap: Int
  ): Array[(Long, Array[Double])] =
    vecs.select(col(idCol).cast("long").as("vid"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .orderBy(xxhash64(col("vid")), col("vid")).limit(cap)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Deterministic SPREAD seed pick — `k` indices STRIDED across the
    * `n`-row id-ordered sample (0, s, 2s, …, (k−1)·s with s = n/k; all
    * of 0 until n when n ≤ k). Seeds were previously the first k rows
    * by id — under append-only corpus growth that is the OLDEST data,
    * so a drift-triggered retrain seeded every Lloyd/PQ codebook from
    * exactly the region the corpus drifted AWAY from and could never
    * recover recall (degenerately: seeds identical → one cluster
    * absorbs everything and the rest never update). Strided-by-rank is
    * as deterministic and as cheap, spans the sample's id range, and
    * is reproducible in plain SQL (the DuckDB oracles mirror it
    * rank-for-rank). */
  private def stridedIdx(n: Int, k: Int): Array[Int] =
    if (n <= k) Array.range(0, n)
    else { val s = n / k; Array.tabulate(k)(_ * s) }

  /** Unit-normalize in the exact arithmetic of the distributed path
    * (left-fold dot, sqrt, per-element divide); zero-norm → None. */
  private def unitizeLocal(v: Array[Double]): Option[Array[Double]] = {
    val n = math.sqrt(graft.functions.BestCentroid.dot(v, v, v.length))
    if (n > 0.0) Some(v.map(_ / n)) else None
  }

  /** Argmax centroid with [[graft.functions.BestCentroid]]'s exact
    * contract: left-fold dots, strict >, ties to the lowest index. */
  private[operators] def bestCentroidLocal(x: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = Double.NegativeInfinity
    var bid = 0; var found = false
    var cid = 0
    while (cid < cents.length) {
      val d = graft.functions.BestCentroid.dot(x, cents(cid),
        math.min(x.length, cents(cid).length))
      if (!d.isNaN && (!found || d > best)) { best = d; bid = cid; found = true }
      cid += 1
    }
    bid
  }

  /** Driver-local spherical Lloyd over an ascending-vid unit sample:
    * argmax assignment (ties to the lowest cent_id — BestCentroid's
    * contract), per-cell mean summed in sample order, unit
    * re-normalization; an empty cell keeps its previous centroid. Seeds
    * are `nCentroids` sample vectors strided across the id order
    * ([[stridedIdx]]).
    *
    * PARALLEL, bit-deterministic: the assignment pass (the sample×k dot
    * grid — under the auto-k regime this was the measured super-linear
    * term of d15/d24 at sf10: k grows to thousands and a single thread
    * pays ~1e11 flops) fans out per-point over all cores — each point's
    * argmax is independent, so parallelism cannot change it. The
    * accumulation keeps its determinism contract by construction: member
    * indices are bucketed per cell IN SAMPLE ORDER single-threaded
    * (cheap, no flops), then each cell's sum runs sequentially over its
    * members in that order — the exact double-addition order of the old
    * sequential loop — with cells fanned out across cores. Same doubles,
    * 32× the arithmetic throughput. */
  private def localLloyd(
      unit: Array[(Long, Array[Double])], nCentroids: Int, iters: Int
  ): Array[(Int, Array[Double])] = {
    var cent: Array[(Int, Array[Double])] =
      stridedIdx(unit.length, nCentroids).zipWithIndex
        .map { case (j, i) => (i, unit(j)._2) }
    val n = unit.length
    val cids = new Array[Int](n)
    for (_ <- 0 until iters) {
      val cents = cent.map(_._2)
      val dims = if (unit.nonEmpty) unit(0)._2.length else 0
      java.util.stream.IntStream.range(0, n).parallel()
        .forEach(i => cids(i) = bestCentroidLocal(unit(i)._2, cents))
      // bucket member indices per cell in sample order (index arithmetic
      // only), then sum each cell sequentially — cells in parallel
      val counts = new Array[Int](cents.length)
      var i = 0
      while (i < n) { counts(cids(i)) += 1; i += 1 }
      val offsets = new Array[Int](cents.length)
      var acc = 0
      var c = 0
      while (c < cents.length) { offsets(c) = acc; acc += counts(c); c += 1 }
      val fill = offsets.clone()
      val memberIdx = new Array[Int](n)
      i = 0
      while (i < n) { val cd = cids(i); memberIdx(fill(cd)) = i; fill(cd) += 1; i += 1 }
      val sums = Array.fill(cents.length)(new Array[Double](dims))
      java.util.stream.IntStream.range(0, cents.length).parallel().forEach { cd =>
        val s = sums(cd)
        var j = offsets(cd)
        val end = offsets(cd) + counts(cd)
        while (j < end) {
          val uv = unit(memberIdx(j))._2
          var d = 0
          while (d < dims) { s(d) += uv(d); d += 1 }
          j += 1
        }
      }
      cent = cent.map { case (cid, prev) =>
        if (counts(cid) == 0) (cid, prev)
        else {
          val m = sums(cid).map(_ / counts(cid))
          // re-normalize to unit length (spherical k-means: the unit-
          // scaled mean maximizes the cell's summed cosine, and keeps
          // dot == cosine in the assignment step)
          val nm = math.sqrt(m.map(x => x * x).sum)
          (cid, if (nm > 0.0) m.map(_ / nm) else prev)
        }
      }
    }
    cent
  }

  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int = 16,
      iters: Int = 3
  ): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    // bounded sample (== the corpus at any size under the cap), unit-
    // normalized with the scan path's arithmetic; ascending vid so seeds
    // and mean-summation order are deterministic
    val unit = collectTrainSample(corpus, idCol, vecCol, TrainSampleCap)
      .flatMap { case (vid, v) => unitizeLocal(v).map((vid, _)) }
    val cent = localLloyd(unit, nCentroids, iters)
    spark.createDataFrame(cent.toIndexedSeq.map { case (cid, v) => (cid, v.toSeq) })
      .toDF("cent_id", "centv")
  }

  /** IVF (inverted-file) ANN top-k — the cell-partitioned scale path:
    *
    *  1. centroids = the first `nCentroids` corpus vectors by id
    *     (deterministic), optionally Lloyd-refined for `refineIters`
    *     spherical k-means steps ([[kmeansCentroids]] — better-balanced
    *     cells, higher recall at the same nProbe);
    *  2. every corpus vector is assigned to its max-cosine centroid via a
    *     broadcast join + map-side `max(struct)` hash agg — one pass, no
    *     window over the corpus;
    *  3. each query probes its `nProbe` nearest centroids and scores ONLY
    *     the vectors assigned to those cells, exactly.
    *
    * At 100 TB the centroid id is a shuffle key: each cell's vectors
    * co-locate, a probe touches nProbe/nCentroids of the corpus, and
    * recall/cost tunes by (nCentroids, nProbe). Each (query, neighbor)
    * pair meets at most once (a vector lives in ONE cell), so no dedup.
    * Returns (query_id, rank, neighbor_id, cosine). */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      refineIters: Int = 0
  ): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val cent =
      if (refineIters > 0)
        kmeansCentroids(corpus, idCol, vecCol, nCentroids, refineIters)
      else
        corpus.orderBy(col(idCol)).limit(nCentroids)
          .select(col(idCol).as("cent_id"), col(vecCol).cast("array<double>").as("centv"))
    val assign = ivfAssign(corpus, idCol, vecCol, cent)
    val probes = ivfProbes(queries, idCol, vecCol, cent, nProbe)
    ivfScore(assign, probes, k)
  }

  /** Max-cosine cell assignment against a (small) centroid table via the
    * native `best_centroid` argmax — a PROJECTION off the corpus scan
    * (ties to the smallest centroid id, the same contract as the
    * `max(struct(cosine, -cent_id))` join formulation this replaces,
    * without the corpus × k row blow-up or the re-grouping shuffle).
    * Centroid ids need not be contiguous (the unrefined IVF path uses
    * corpus ids), so the argmax INDEX maps back through an id-lookup
    * literal ordered by cent_id. Returns (neighbor_id, cent_id, cv). */
  private def ivfAssign(
      corpus: DataFrame, idCol: String, vecCol: String, cent: DataFrame
  ): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val rows = cent
      .select(col("cent_id").cast("long"), col("centv").cast("array<double>"))
      .orderBy("cent_id").collect()
    val idsLit = typedLit(rows.map(_.getLong(0)).toSeq)
    val centsLit = typedLit(rows.map(_.getSeq[Double](1).toSeq).toSeq)
    spreadToCores(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv")))
      .select(col("neighbor_id"),
        element_at(idsLit,
          call_function("best_centroid", col("cv"), centsLit, lit(true)) + 1)
          .as("cent_id"),
        col("cv"))
  }

  /** Each query's `nProbe` max-cosine centroids (ties to the smaller id).
    * Returns (query_id, cent_id, qv). */
  private def ivfProbes(
      queries: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame, nProbe: Int
  ): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val probeWin = Window.partitionBy("query_id")
      .orderBy(col("cos_c").desc, col("cent_id").asc)
    qv.join(broadcast(cent))
      .withColumn("cos_c", cosine("qv", "centv"))
      .withColumn("_pr", row_number().over(probeWin)).filter(col("_pr") <= nProbe)
      .select("query_id", "cent_id", "qv")
  }

  /** Exact scoring of probed cells + final per-query rank. */
  private def ivfScore(assign: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = assign.join(broadcast(probes), Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", round(cosine("qv", "cv"), 4))
    val fin = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(fin)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Persist an IVF index: `dir/centroids` (the small centroid table) and
    * `dir/assignments` hive-partitioned by `cent_id` — each cell becomes
    * its own directory of parquet files, so a probe of that cell is a
    * PARTITION-PRUNED scan (directory-level, before any file is opened).
    * This is the serving-side counterpart of [[ivfTopK]]: build once over
    * the 100 TB corpus, then every query batch reads nProbe cells per
    * query instead of the corpus. Same deterministic centroid seed /
    * Lloyd refinement as [[ivfTopK]], so [[ivfIndexTopK]] over the layout
    * returns exactly what [[ivfTopK]] computes in-flight
    * (IvfIndexSpec pins both the equality and the pruning). */
  def ivfIndexWrite(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      nCentroids: Int = 16,
      refineIters: Int = 0
  ): Unit = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val cent =
      if (refineIters > 0)
        kmeansCentroids(corpus, idCol, vecCol, nCentroids, refineIters)
      else
        corpus.orderBy(col(idCol)).limit(nCentroids)
          .select(col(idCol).as("cent_id"), col(vecCol).cast("array<double>").as("centv"))
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    ivfAssign(corpus, idCol, vecCol, cent)
      .withColumn("cent_id", col("cent_id").cast("long"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$dir/assignments")
  }

  /** Top-k over a persisted IVF index ([[ivfIndexWrite]]): probes resolve
    * against the small centroid table, the probed cell ids (query-batch
    * metadata — nQueries × nProbe ints, NOT row data) become a literal
    * partition predicate, and the assignment scan reads ONLY those cell
    * directories. Returns (query_id, rank, neighbor_id, cosine), identical
    * to [[ivfTopK]] at the same (nCentroids, nProbe, refineIters). */
  def ivfIndexTopK(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4
  ): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val cent = spark.read.parquet(s"$dir/centroids")
    val probes = ivfProbes(queries, idCol, vecCol, cent, nProbe)
    val probedCells = probes.select(col("cent_id").cast("long"))
      .distinct().collect().map(_.getLong(0))
    val assign = spark.read.parquet(s"$dir/assignments")
      .filter(col("cent_id").isin(probedCells.toIndexedSeq: _*))
    ivfScore(assign, probes, k)
  }

  /** Multi-table LSH-bucketed ANN top-k: candidates are corpus vectors
    * sharing ANY (table, bucket) with the query, scored exactly AT the
    * bucket join, then deduplicated across tables. Trades some recall for
    * a corpus-partitionable plan: at 100 TB the (table, bucket) pair is a
    * shuffle key, not a broadcast — each bucket's candidates co-locate,
    * the corpus is touched exactly once (no candidate-keyed re-fetch
    * join), and recall/cost is tuned by (tables, planesPerTable). */
  def annTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int,
      tables: Int = 8,
      planesPerTable: Int = 4
  ): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    // corpus vectors RIDE the bucket stream and are scored at the bucket
    // join against the broadcast query vectors — a pair that collides in
    // several tables pays a few extra codegen'd dots, but the corpus is
    // never re-fetched: the old shape's candidate `distinct` plus a
    // corpus-keyed vector-fetch join (a full corpus shuffle at any
    // scale) are gone. Cross-table dedup and ranking share ONE window
    // spec (and therefore one exchange + sort): a duplicated pair has an
    // IDENTICAL deterministic cosine, so its copies are adjacent under
    // (cosine desc, neighbor asc) and lag(neighbor) spots them; the
    // row_number then ranks the surviving distinct pairs on the same
    // already-partitioned, already-sorted stream.
    // norms computed ONCE per bucketed row, not per pair: the in-pair
    // arithmetic sqrt(dot(q,q)) * sqrt(dot(c,c)) is reproduced exactly
    // as qnrm * cnrm, so the cosine (and its NULL-on-zero-denominator
    // contract) is bit-identical to Similarity.cosine
    val cb = corpus
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"),
        explode(lshBuckets(vecCol, dims, tables, planesPerTable)).as("tb"))
      .select(col("neighbor_id"), col("cv"),
        sqrt(dot(col("cv"), col("cv"))).as("cnrm"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val qb = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"),
        explode(lshBuckets(vecCol, dims, tables, planesPerTable)).as("tb"))
      .select(col("query_id"), col("qv"),
        sqrt(dot(col("qv"), col("qv"))).as("qnrm"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val fin = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cb.join(broadcast(qb), Seq("t", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        when(col("qnrm") * col("cnrm") > 0.0,
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 4)))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      // pre-rank to k*tables ROWS (duplicates included) on the SAME
      // window spec: Catalyst's InferWindowGroupLimit turns this into a
      // map-side Partial group-limit BELOW the exchange, so each task
      // ships at most k*tables rows per query instead of every bucket
      // collision. Exact: a pair among the k best distinct pairs has at
      // most (k-1)*tables copies of strictly better pairs ahead of its
      // first copy, so that copy ranks <= k*tables and survives.
      .withColumn("_pre", row_number().over(fin))
      .filter(col("_pre") <= k * tables)
      .withColumn("_dup",
        lag(col("neighbor_id"), 1).over(fin) === col("neighbor_id"))
      .filter(!coalesce(col("_dup"), lit(false)))
      .withColumn("rank", row_number().over(fin)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Per-dimension corpus statistics of an embedding column — the health
    * check run before any ANN indexing (collapsed dimensions, biased
    * encoders, wrong normalization all show up here). Returns
    * (dim, n, mean, std), 0-based dims.
    *
    * One posexplode + one hash aggregation keyed by dimension (tiny key
    * space — partial aggs do all the work map-side). Values are rounded
    * to 1e-6 and summed as scaled integers so the result is exact and
    * summation-order-free on any engine (the t19 lesson); q*q stays
    * within a signed 64-bit sum up to ~2^23 rows per dimension at |x|<=1
    * — beyond that, pre-aggregate per partition or widen to decimal. */
  def embeddingStats(corpus: DataFrame, vecCol: String): DataFrame =
    corpus
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .withColumn("q", round(col("x").cast("double") * 1e6).cast("long"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("q").as("sq"),
        sum(col("q") * col("q")).as("sqq"))
      .select(col("dim"), col("n"),
        round(col("sq") / 1e6 / col("n"), 4).as("mean"),
        round(sqrt(col("sqq") / 1e12 / col("n")
          - (col("sq") / 1e6 / col("n")) * (col("sq") / 1e6 / col("n"))), 4).as("std"))

  /** Recall@k of an approximate top-k result against the exact one — the
    * quality gauge every ANN deployment tunes against (the recall/cost
    * trade of `annTopK`'s (tables, planesPerTable) or `ivfTopK`'s
    * (nCentroids, nProbe) is meaningless without it). Both inputs are
    * ranked result frames with (query_id, rank, neighbor_id) — any of
    * [[bruteForceTopK]]/[[annTopK]]/[[ivfTopK]]/[[quantizedTopK]] fits.
    *
    * Per query: `n_truth` exact neighbors at rank <= k, `n_hits` of them
    * also in the approximate top-k, `recall` = n_hits / n_truth (rounded
    * 1e-4). Queries the approximate side missed entirely still appear
    * (n_hits = 0) because the aggregation is driven from the exact side.
    *
    * Scale: both inputs are query-batch-sized (nQueries x k rows — result
    * metadata, never corpus data), so the pair join and the per-query
    * aggregation shuffle a few thousand rows regardless of corpus size;
    * the expensive part is producing the inputs, not judging them. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val truth = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val cand = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("__graft_hit", lit(1))
    truth.join(cand, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"), count(col("__graft_hit")).as("n_hits"))
      .withColumn("recall", round(col("n_hits") / col("n_truth"), 4))
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid, "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011) — the memory-scale ANN path:
  // a unit vector is split into `m` contiguous subvectors, each quantized
  // to one of `codes` per-subspace centroids, so the corpus stores m
  // small codes per vector (m bytes at codes <= 256) instead of dims
  // floats — at 100 TB the difference between an index that fits on the
  // cluster and one that doesn't. Scoring is ADC (asymmetric distance
  // computation): the query stays exact, each subspace contributes a
  // table lookup, and the approximate cosine is the sum of m lookups
  // instead of a dims-wide dot.
  // ---------------------------------------------------------------------

  /** Per-subspace codebooks via plain (Euclidean) Lloyd over the
    * unit-normalized corpus, all `m` subspaces trained in the SAME
    * corpus passes. Assignment uses the native `best_centroid` dot-argmax
    * through the augmentation trick: argmin ||x - c||^2 = argmax
    * (dot(x, c) - ||c||^2 / 2) = dot-argmax of [x, 1] against
    * [c, -||c||^2 / 2] — so the per-iteration assignment of ALL
    * subspaces is one projection off the scan (no corpus × codes join),
    * and the re-center is one (sub, code, pos)-keyed mean whose key
    * cardinality is m × codes × (dims/m), corpus-size-free. Seeds are
    * the subvectors of `codes` unit vectors strided across the id
    * order ([[stridedIdx]], deterministic); an emptied code keeps its
    * previous centroid; ties
    * go to the lowest code, all mirrored by the DuckDB oracle.
    * Returns [sub][code][dims/m]. */
  def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      m: Int,
      codes: Int,
      iters: Int = 2
  ): Array[Array[Array[Double]]] = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    // sample + local unit-normalize (the scan path's arithmetic), then
    // the driver-local Lloyd core — one narrow job total
    pqTrainBooksOnSample(
      collectTrainSample(corpus, idCol, vecCol, TrainSampleCap)
        .flatMap { case (vid, v) => unitizeLocal(v).map((vid, _)) },
      m, codes, iters, dims / m)
  }

  /** The shared Lloyd loop of [[pqCodebooks]] and the residual variant:
    * trains m per-subspace codebooks over ANY (vid, uv) vector frame
    * (unit vectors for PQ-on-the-vector, cell residuals for IVFADC) —
    * the input need not be normalized. Seeds are the subvector slices
    * of `codes` rows strided across the vid order ([[stridedIdx]]);
    * every per-iteration quantity is the same as [[pqCodebooks]]
    * documents. */
  private[graft] def pqTrainBooks(
      vecs: DataFrame,
      m: Int,
      codes: Int,
      iters: Int,
      d: Int
  ): Array[Array[Array[Double]]] =
    // bounded driver-side sample (see TrainSampleCap — identical to the
    // full-corpus iteration whenever the corpus fits under the cap, which
    // every oracle-checked battery corpus does), ascending vid
    pqTrainBooksOnSample(
      collectTrainSample(vecs, "vid", "uv", TrainSampleCap), m, codes, iters, d)

  /** The driver-local core of [[pqTrainBooks]], over an already-collected
    * ascending-vid sample. */
  private def pqTrainBooksOnSample(
      sample: Array[(Long, Array[Double])],
      m: Int,
      codes: Int,
      iters: Int,
      d: Int
  ): Array[Array[Array[Double]]] = {
    require(sample.length >= codes,
      s"PQ training needs at least `codes` sample vectors: asked for " +
        s"$codes codes from a ${sample.length}-row sample — shrink " +
        "`codes` or grow the corpus")
    val seeds = stridedIdx(sample.length, codes).map(sample(_)._2)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => seeds.map(_.slice(s * d, s * d + d)))
    // subvector slices per sample row, sliced once outside the loop
    val subs: Array[Array[Array[Double]]] =
      sample.map { case (_, v) => Array.tabulate(m)(s => v.slice(s * d, s * d + d)) }
    for (_ <- 0 until iters) {
      // the distributed form scored best_centroid(concat(sv, [1.0]),
      // book augmented with −0.5‖c‖²) — i.e. a left-fold dot over d+1
      // elements; reproduce that float-op order exactly so the unrolled
      // SQL oracle still matches bit-for-bit
      val aug: Array[Array[Array[Double]]] = books.map(_.map(c =>
        c :+ (-0.5 * c.map(x => x * x).sum)))
      val sums = Array.fill(m, codes)(new Array[Double](d))
      val counts = Array.fill(m, codes)(0L)
      subs.foreach { rowSubs =>
        var s = 0
        while (s < m) {
          val svAug = rowSubs(s) :+ 1.0
          val code = bestCentroidLocal(svAug, aug(s))
          val acc = sums(s)(code)
          var i = 0
          while (i < d) { acc(i) += rowSubs(s)(i); i += 1 }
          counts(s)(code) += 1
          s += 1
        }
      }
      books = Array.tabulate(m)(s => Array.tabulate(codes)(c =>
        if (counts(s)(c) == 0) books(s)(c)
        else sums(s)(c).map(_ / counts(s)(c))))
    }
    books
  }

  /** PQ-encode the corpus: one projection computing the m per-subspace
    * code assignments of each unit-normalized vector — at scale this is
    * the index build, and it never exchanges. Zero-norm vectors are
    * dropped (they have no meaningful cosine to anything; same corpus
    * contract as [[quantizedTopK]]). Returns (id, pq_codes array<int>). */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      books: Array[Array[Array[Double]]]
  ): DataFrame = {
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    val m = books.length
    val d = books(0)(0).length
    def augLit(book: Array[Array[Double]]) =
      typedLit(book.map(c =>
        (c :+ (-0.5 * c.map(x => x * x).sum)).toSeq).toSeq)
    spreadToCores(corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("raw")))
      .withColumn("nrm", sqrt(dot(col("raw"), col("raw"))))
      .filter(col("nrm") > 0.0)
      .withColumn("uv", transform(col("raw"), x => x / nullif(col("nrm"), lit(0.0))))
      .select(col("id"), array((0 until m).map { s =>
        call_function("best_centroid",
          concat(slice(col("uv"), s * d + 1, d), array(lit(1.0))),
          augLit(books(s)), lit(false))
      }: _*).as("pq_codes"))
  }

  /** IVF + PQ — the two scale levers composed, the shape of a FAISS
    * IVFx,PQy index re-expressed as a Spark plan: the coarse quantizer
    * (`nCentroids` unit vectors strided across the id order,
    * dot-assigned — same assignment RULE as [[ivfTopK]]'s cosine
    * argmax, different seed pick since the strided-seed change)
    * prunes WHICH vectors a query scores, and the PQ codes decide what
    * the stored corpus IS (m small ints per vector). One corpus
    * projection emits (cell, pq_codes); a query batch probes `nProbe`
    * cells, its ADC tables broadcast joined on the CELL id, and scoring
    * is m lookups per candidate — at 100 TB the cell id is the partition
    * key, a probe touches nProbe/nCentroids of the encoded corpus, and
    * nothing vector-sized ever shuffles. Encodes the unit vector itself
    * (IVF-Flat-PQ), not the cell residual — [[ivfPqResidualTopK]] is the
    * Jégou §IV residual refinement, and the v13 vs v10/v8 recall gauges
    * quantify the trade between the two forms. Zero-norm vectors drop on
    * both sides (the PQ contract). Returns (query_id, rank, neighbor_id,
    * score). */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 4,
      codes: Int = 16,
      iters: Int = 2
  ): DataFrame = {
    val (coarse, books, enc) =
      ivfPqTrainEncode(corpus, idCol, vecCol, dims, nCentroids, m, codes, iters)
    val qunit = unitized(queries, idCol, vecCol, "query_id")
    val probes = ivfPqProbes(corpus.sparkSession, qunit, coarse, nProbe)
    ivfPqRank(enc, ivfPqAdc(probes, books, m, codes, dims / m), k, m, codes)
  }

  /** Unit-normalize `(idCol → outId, vecCol → uv)` with the scan path's
    * exact arithmetic (left-fold dot, sqrt, per-element divide);
    * zero-norm rows DROP — the PQ-family corpus/query contract. */
  private def unitized(
      df: DataFrame, idCol: String, vecCol: String, outId: String
  ): DataFrame = df
    .select(col(idCol).as(outId), col(vecCol).cast("array<double>").as("raw"))
    .withColumn("nrm", sqrt(dot(col("raw"), col("raw"))))
    .filter(col("nrm") > 0.0)
    .select(col(outId),
      transform(col("raw"), x => x / nullif(col("nrm"), lit(0.0))).as("uv"))

  /** A subspace codebook augmented with −0.5‖c‖² (the dot-argmax trick)
    * as a plan literal. */
  private def pqAugLit(book: Array[Array[Double]]): Column =
    typedLit(book.map(c =>
      (c :+ (-0.5 * c.map(x => x * x).sum)).toSeq).toSeq)

  /** The m per-subspace PQ code assignments of the `uv` column as ONE
    * array expression — the projection that IS the encode at any scale. */
  private def pqCodesCol(
      books: Array[Array[Array[Double]]], m: Int, d: Int): Column =
    array((0 until m).map { s =>
      call_function("best_centroid",
        concat(slice(col("uv"), s * d + 1, d), array(lit(1.0))),
        pqAugLit(books(s)), lit(false))
    }: _*)

  /** The shared train+encode of [[ivfPqTopK]] and [[ivfPqIndexWrite]]:
    * ONE collected sample trains both artifacts (PQ codebooks + the
    * coarse quantizer = nCentroids nonzero unit vectors strided across
    * the id order), and ONE corpus projection emits (neighbor_id, cent_id,
    * pq_codes). Sharing the code path is what makes the persisted
    * index's results equal the in-flight operator's bit-for-bit. */
  private def ivfPqTrainEncode(
      corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int, nCentroids: Int, m: Int, codes: Int, iters: Int
  ): (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val d = dims / m
    graft.plans.GraftExtensions.register(corpus.sparkSession)
    // zero-norm rows are dropped BEFORE the sample cap, not after:
    // post-cap dropping spent sample slots on untrainable vectors, and
    // — worse — let a mostly-zero >cap corpus pass a corpus-wide
    // "usable >= codes" pre-check and still crash pqTrainBooksOnSample
    // (the sample could hold fewer nonzero rows than the whole corpus
    // does). Under the cap the composition is identical (same rows
    // survive either order); unitizeLocal still runs on the RAW
    // vector so the unit arithmetic stays bit-equal to the oracle's.
    val trainable = corpus
      .filter(col(vecCol).isNotNull)
      .filter(sqrt(dot(col(vecCol).cast("array<double>"),
        col(vecCol).cast("array<double>"))) > 0.0)
    val sample = collectTrainSample(trainable, idCol, vecCol, TrainSampleCap)
      .flatMap { case (vid, v) => unitizeLocal(v).map((vid, _)) }
    // a LOUD day-zero failure, named here instead of an obscure
    // empty-seed crash downstream. This guard sits in the SHARED train
    // path, so it covers the in-flight ivfPqTopK face too — both faces
    // draw their coarse/code seeds from the corpus and neither can
    // train without vectors; the message stays face-neutral (the
    // persisted-index bootstrap remedy lives in ivfPqIndexWrite's docs:
    // build on the first non-empty batch, stream appends after —
    // day-zero serving is the text/band/seen families' contract).
    require(sample.nonEmpty,
      "IVF+PQ training needs a non-empty corpus with at least one " +
        "non-zero vector: the coarse and code seeds are drawn from it.")
    val books = pqTrainBooksOnSample(sample, m, codes, iters, d)
    val coarse = stridedIdx(sample.length, nCentroids).map(sample(_)._2)
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    val cunit = spreadToCores(unitized(corpus, idCol, vecCol, "neighbor_id"))
    val enc = cunit.select(col("neighbor_id"),
      call_function("best_centroid", col("uv"), coarseLit, lit(false))
        .as("cent_id"),
      pqCodesCol(books, m, d).as("pq_codes"))
    (coarse, books, enc)
  }

  /** Each query's `nProbe` max-dot coarse cells (ties to the lower
    * cent_id). Returns (query_id, cent_id, uv). */
  private def ivfPqProbes(
      spark: org.apache.spark.sql.SparkSession,
      qunit: DataFrame, coarse: Array[Array[Double]], nProbe: Int
  ): DataFrame = {
    val centDf = spark.createDataFrame(
      coarse.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
      .toDF("cent_id", "centv")
    val probeWin = Window.partitionBy("query_id")
      .orderBy(col("dot_c").desc, col("cent_id").asc)
    qunit.join(broadcast(centDf))
      .withColumn("dot_c", dot(col("uv"), col("centv")))
      .withColumn("_pr", row_number().over(probeWin)).filter(col("_pr") <= nProbe)
      .select("query_id", "cent_id", "uv")
  }

  /** Per-(query, cell) ADC lookup tables: the m × codes subspace dots as
    * one query-side array — broadcast metadata, never corpus-sized. */
  private def ivfPqAdc(
      probes: DataFrame, books: Array[Array[Array[Double]]],
      m: Int, codes: Int, d: Int
  ): DataFrame =
    probes.select(col("query_id"), col("cent_id"), array((for {
      s <- 0 until m
      c <- 0 until codes
    } yield dot(slice(col("uv"), s * d + 1, d),
      typedLit(books(s)(c).toSeq))): _*).as("adc"))

  /** ADC scoring of the probed encoded cells + final per-query rank —
    * the serving tail shared by the in-flight and index-served faces. */
  private def ivfPqRank(
      enc: DataFrame, probeAdc: DataFrame, k: Int, m: Int, codes: Int
  ): DataFrame = {
    val fin = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    enc.join(broadcast(probeAdc), Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round((0 until m).map(s =>
        element_at(col("adc"),
          col("pq_codes").getItem(s) + lit(s * codes) + 1)).reduce(_ + _), 4))
      .select(col("query_id"), col("neighbor_id"), col("score"))
      .withColumn("rank", row_number().over(fin)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** Persist an IVF+PQ index — the third face of the index triad
    * (inverted text: [[graft.io.TextIndex]]; IVF-Flat: [[ivfIndexWrite]])
    * and at 100 TB THE serving artifact: the stored corpus is m small
    * ints per vector (m bytes at codes ≤ 256), hive-partitioned by
    * coarse cell, so a query batch reads nProbe/nCentroids of an
    * already-512×-smaller corpus. Layout under `dir`:
    *  - `centroids/` — (cent_id, centv), the coarse quantizer;
    *  - `codebooks/` — (sub, code, cv), the m × codes PQ codebooks;
    *  - `meta/` — one row (dims, n_centroids, m, codes), so serving
    *    verifies against the layout's actual parameters instead of
    *    trusting the caller (the TextIndex `storedBuckets` discipline);
    *  - `codes/` — (neighbor_id, pq_codes) `partitionBy(cent_id)`.
    * Training/encode is [[ivfPqTrainEncode]] — the identical code path
    * [[ivfPqTopK]] runs, and doubles round-trip parquet exactly, so
    * [[ivfPqIndexTopK]] over this layout returns what the in-flight
    * operator computes bit-for-bit (IvfPqIndexSpec pins equality AND
    * partition pruning). */
  def ivfPqIndexWrite(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      dims: Int,
      nCentroids: Int = 16,
      m: Int = 4,
      codes: Int = 16,
      iters: Int = 2
  ): Unit = {
    val spark = corpus.sparkSession
    // a stale batch-id watermark from a previous stream would silently
    // drop the first batches of a NEW stream whose checkpoint restarts
    // ids at 0 (the io-family full-rebuild rule; the in-stream
    // [[ivfPqIndexRebuild]] deliberately PRESERVES the watermark)
    graft.io.Watermark.clear(spark, dir)
    ivfPqBuildGen(corpus, idCol, vecCol, dir,
      graft.io.Manifest.current(spark, dir), dims, nCentroids, m, codes,
      iters)
  }

  private val IvfPqGenName = "g([0-9]{6})".r
  private val IvfPqBuildFace = "Similarity.ivfPqIndexWrite"

  /** Build a fresh GENERATION subtree (`<dir>/g<NNNNNN>/{centroids,
    * codebooks,meta,codes}`) and flip the family [[graft.io.Manifest]]
    * to it — the shared mechanics of [[ivfPqIndexWrite]] (bootstrap)
    * and [[ivfPqIndexRebuild]] (re-train): one manifest commit makes
    * the new generation the live index and RETIRES the previous one
    * (`prev`, None on a first build) without deleting a byte — a
    * reader in any process pinned on the previous snapshot keeps
    * serving the old generation bit-identically until
    * [[ivfPqIndexVacuum]]. A crash mid-build leaves an orphan
    * generation directory no snapshot references (swept by vacuum);
    * generation numbers always advance past every directory on disk,
    * committed or not, so a torn build's directory is never reused. */
  private def ivfPqBuildGen(
      corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      prev: Option[graft.io.Manifest.Snapshot],
      dims: Int, nCentroids: Int, m: Int, codes: Int, iters: Int
  ): Unit = {
    val spark = corpus.sparkSession
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (fs.exists(dirPath))
        fs.listStatus(dirPath).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName)
          .collect { case IvfPqGenName(n) => n.toLong }
      else Seq.empty
    val gen = f"g${existing.maxOption.getOrElse(0L) + 1L}%06d"
    ivfPqWriteTree(corpus, idCol, vecCol, s"$dir/$gen", dims, nCentroids,
      m, codes, iters)
    val subtrees = Seq("centroids", "codebooks", "meta", "codes")
    val files = subtrees
      .flatMap(s => graft.io.Manifest.listFiles(spark, dir, s"$gen/$s"))
    graft.io.Manifest.commitSet(spark, dir, files,
      prev.fold(Seq.empty[String])(_.files)): Unit
  }

  /** The four-subtree write into `treeRoot` — pure layout, no
    * lifecycle (watermarks/manifests are the callers'). */
  private def ivfPqWriteTree(
      corpus: DataFrame, idCol: String, vecCol: String, treeRoot: String,
      dims: Int, nCentroids: Int, m: Int, codes: Int, iters: Int
  ): Unit = {
    val spark = corpus.sparkSession
    val (coarse, books, enc) =
      ivfPqTrainEncode(corpus, idCol, vecCol, dims, nCentroids, m, codes, iters)
    spark.createDataFrame(
        coarse.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
      .toDF("cent_id", "centv")
      .write.mode("overwrite").parquet(s"$treeRoot/centroids")
    spark.createDataFrame(
        for { s <- 0 until m; c <- 0 until codes } yield (s, c, books(s)(c).toSeq))
      .toDF("sub", "code", "cv")
      .write.mode("overwrite").parquet(s"$treeRoot/codebooks")
    spark.createDataFrame(Seq((dims, nCentroids, m, codes)))
      .toDF("dims", "n_centroids", "m", "codes")
      .write.mode("overwrite").parquet(s"$treeRoot/meta")
    // repartition on the cell key first (the TextIndex/BandIndex lesson):
    // without it every task writes a sliver file into every cell
    // directory — tasks × nCentroids files and a commit storm, and every
    // subsequent probe's scan pays the per-cell file count forever
    enc.repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$treeRoot/codes")
  }

  /** A resolved IVF+PQ tree: `gen` is the manifest's live generation,
    * where the four subtrees live, and `snap` pins the file list every
    * read of this serve call goes through (so a concurrent
    * rebuild/compaction commit can never mix generations inside one
    * call). */
  private final case class IvfPqTree(dir: String,
      snap: graft.io.Manifest.Snapshot, gen: String) {
    def root: String = s"$dir/$gen"
    def codesDir: String = s"$root/codes"
  }

  private def ivfPqResolve(
      spark: org.apache.spark.sql.SparkSession, dir: String): IvfPqTree = {
    val s = graft.io.Manifest.live(spark, dir, IvfPqBuildFace)
    val gen = s.files.headOption.map(_.takeWhile(_ != '/')).getOrElse(
      sys.error(s"IVF+PQ index at $dir: the committed manifest lists " +
        "no files — an IVF+PQ index is never legitimately empty (an " +
        "empty training corpus fails loudly at build), so this is a " +
        "corrupted manifest; rebuild the index"))
    IvfPqTree(dir, s, gen)
  }

  /** The codes tree through the resolved snapshot. */
  private def ivfPqCodesFrame(
      spark: org.apache.spark.sql.SparkSession, tree: IvfPqTree): DataFrame =
    graft.io.Manifest.readSubtree(spark, tree.dir, tree.snap,
      s"${tree.gen}/codes", None)

  /** Per-cell code counts of the LIVE index — the layout inspection
    * face (ir3's build witness): (cent_id, n_vecs) through the resolved
    * snapshot, so retired generations and compaction-superseded files
    * never count. */
  def ivfPqIndexCellCounts(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val tree = ivfPqResolve(spark, dir)
    ivfPqCodesFrame(spark, tree)
      .groupBy(col("cent_id").cast("long").as("cent_id"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** Top-k over a persisted IVF+PQ index ([[ivfPqIndexWrite]]): the
    * (tiny) centroid/codebook tables collect as driver metadata, each
    * query's probed cell ids (query-batch metadata — nQueries × nProbe
    * ints) become a literal partition predicate, and the codes scan
    * reads ONLY those cell directories — per-probe cost is
    * nProbe/nCentroids of the m-bytes-per-vector index, corpus-size-
    * free. Returns (query_id, rank, neighbor_id, score), identical to
    * [[ivfPqTopK]] at the same build parameters. */
  /** The (tiny) persisted training artifacts of an IVF+PQ layout,
    * collected as driver metadata: (m, codes, coarse centroids ordered
    * by cell id, per-subspace codebooks). Doubles round-trip parquet
    * exactly, so every consumer quantizes with the build's exact
    * arithmetic. */
  private def ivfPqArtifacts(
      spark: org.apache.spark.sql.SparkSession, tree: IvfPqTree
  ): (Int, Int, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    // a generation is immutable once committed (appends touch only
    // codes/), so plain directory reads inside the resolved root are
    // snapshot-consistent
    val root = tree.root
    val meta = spark.read.parquet(s"$root/meta")
      .select("dims", "n_centroids", "m", "codes").head()
    val (m, codes) = (meta.getInt(2), meta.getInt(3))
    val coarse = spark.read.parquet(s"$root/centroids")
      .select(col("cent_id").cast("int"), col("centv"))
      .orderBy("cent_id").collect()
      .map(_.getSeq[Double](1).toArray)
    val books = Array.fill(m, codes)(Array.empty[Double])
    spark.read.parquet(s"$root/codebooks")
      .select(col("sub").cast("int"), col("code").cast("int"), col("cv"))
      .collect()
      .foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    (m, codes, coarse, books)
  }

  def ivfPqIndexTopK(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4
  ): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val tree = ivfPqResolve(spark, dir)
    val (m, codes, coarse, books) = ivfPqArtifacts(spark, tree)
    val d = coarse(0).length / m
    val qunit = unitized(queries, idCol, vecCol, "query_id")
    // eager localCheckpoint: the probe frame feeds TWO executions (the
    // probed-cell collect and the ADC join) — without it the query
    // batch's centroid-ranking window runs twice
    val probes = ivfPqProbes(spark, qunit, coarse, nProbe).localCheckpoint()
    val probedCells = probes.select(col("cent_id").cast("int"))
      .distinct().collect().map(_.getInt(0))
    // dropDuplicates on the vector id: a no-op on a healthy index (one
    // cell + one code row per vector by construction — duplicate rows
    // are identical), it collapses the physical duplicates a replayed
    // [[ivfPqIndexAppendBatch]] crash window leaves (codes appended,
    // marker not advanced) — without it a duplicated neighbor would
    // claim two of the k ranks. Runs on the cell-pruned sliver only,
    // the BandIndex.probe merge-on-read discipline.
    val enc = ivfPqCodesFrame(spark, tree)
      .filter(col("cent_id").isin(probedCells.toIndexedSeq: _*))
      .dropDuplicates("neighbor_id")
    ivfPqRank(enc, ivfPqAdc(probes, books, m, codes, d), k, m, codes)
  }

  /** Encode a vector frame with a persisted index's STORED training
    * artifacts: one projection emitting (neighbor_id, cent_id, pq_codes)
    * — exactly the rows [[ivfPqIndexAppend]] writes, exposed so the
    * append layout's read-back is spec-comparable against the in-flight
    * encode (IvfPqIndexSpec). */
  def ivfPqIndexEncode(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      vectors: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame =
    ivfPqEncodeTree(spark, ivfPqResolve(spark, dir), vectors, idCol, vecCol)

  private def ivfPqEncodeTree(
      spark: org.apache.spark.sql.SparkSession, tree: IvfPqTree,
      vectors: DataFrame, idCol: String, vecCol: String
  ): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val (m, codes, coarse, books) = ivfPqArtifacts(spark, tree)
    val d = coarse(0).length / m
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    spreadToCores(unitized(vectors, idCol, vecCol, "neighbor_id"))
      .select(col("neighbor_id"),
        call_function("best_centroid", col("uv"), coarseLit, lit(false))
          .as("cent_id"),
        pqCodesCol(books, m, d).as("pq_codes"))
  }

  /** Incremental maintenance of a persisted IVF+PQ index — the append
    * face that completes the index triad's maintenance story (inverted
    * text and the band index already have one): a DELTA of vectors (ids
    * disjoint from the indexed ones) is encoded with the index's STORED
    * artifacts and its codes append into the cell directories. This is
    * the FAISS contract: `train()` is frozen at build time, `add()`
    * quantizes against it — so unlike the text/band indexes (whose
    * layouts are parameter-only and append == rebuild EXACTLY), a
    * rebuild here would RE-TRAIN on the grown corpus and legitimately
    * differ. What the append face guarantees instead (IvfPqIndexSpec):
    * appended codes equal the in-flight encode against the stored
    * artifacts ([[ivfPqIndexEncode]]), serving sees old and new vectors
    * through the same pruned probes, and adding candidates can only
    * IMPROVE each query's best ADC score (ranking is monotone in the
    * candidate set). Re-train cadence — rebuilding when the corpus
    * drifts far from the frozen training sample — is the operator's
    * caller-owned knob, as in any IVF deployment. Costs one delta-sized
    * encode pass; the standing codes are never rewritten. */
  def ivfPqIndexAppend(
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String
  ): Unit = {
    val spark = delta.sparkSession
    val tree = ivfPqResolve(spark, dir)
    // before/after listing brackets the append so the snapshot commit
    // adds precisely this write's files (the io-family discipline)
    val before =
      graft.io.Manifest.listFiles(spark, dir, s"${tree.gen}/codes").toSet
    ivfPqEncodeTree(spark, tree, delta, idCol, vecCol)
      .repartition(col("cent_id"))
      .write.mode("append").partitionBy("cent_id").parquet(tree.codesDir)
    graft.io.Manifest.commitAdd(spark, dir,
      graft.io.Manifest.listFiles(spark, dir, s"${tree.gen}/codes")
        .filterNot(before), Nil): Unit
  }

  /** Replay-safe streaming append for the vector index (the
    * [[graft.streaming.Streaming.vectorIndexMaintenance]] foreachBatch
    * body, parity harness #19) — the [[graft.io.BandIndex.appendBatch]]
    * posture on the IVF+PQ layout: the index's own batch-id watermark
    * turns Structured Streaming's restart replay into a no-op, and the
    * one unprotected window (codes appended, marker not advanced)
    * replays as PHYSICAL duplicate code rows that [[ivfPqIndexTopK]]
    * collapses on the pruned sliver before ranking (merge-on-read), so
    * the window costs wasted bytes, never a duplicated neighbor in the
    * top-k. Returns true iff applied. Ids must be disjoint from the
    * indexed corpus (the append contract). */
  def ivfPqIndexAppendBatch(
      delta: DataFrame, idCol: String, vecCol: String, dir: String,
      batchId: Long
  ): Boolean =
    graft.io.MaintenanceFace.gated(delta.sparkSession, dir, batchId) {
      ivfPqIndexAppend(delta, idCol, vecCol, dir)
    }

  /** Compact fragmented code-cell directories — each [[ivfPqIndexAppend]]
    * adds one parquet file per touched cell, so probe fan-in grows with
    * every append batch (the [[graft.io.Compact]] small-files decay, on
    * the vector index). Content-identical rewrite of only the
    * fragmented cells (serving unchanged — IvfPqIndexSpec pins it);
    * `dedupCols` additionally collapses the physical duplicates a
    * replayed [[ivfPqIndexAppendBatch]] crash window leaves, making the
    * serve-path heal free by removing the bytes. */
  def ivfPqIndexCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String): graft.io.Compact.CompactStats = {
    val tree = ivfPqResolve(spark, dir)
    graft.io.Compact.compactTree(spark, dir, IvfPqBuildFace,
      tree.codesDir, "cent_id", dedupCols = Some(Seq("neighbor_id")))
  }

  /** Physically reclaim non-live bytes — generations a rebuild retired
    * for snapshot-pinned readers, compaction-superseded cell files, and
    * torn builds' orphan generation dirs — [[graft.io.Manifest.vacuum]]
    * over every generation on disk. The declared pin-expiry point: run
    * it on a retention cadence longer than the serving fleet's longest
    * query. */
  def ivfPqIndexVacuum(spark: org.apache.spark.sql.SparkSession,
      dir: String, retainVersions: Int = 0,
      orphanGraceMs: Long = 0L): graft.io.Manifest.VacuumStats = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens =
      if (fs.exists(dirPath))
        fs.listStatus(dirPath).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).filter {
            case IvfPqGenName(_) => true
            case _ => false
          }
      else Seq.empty
    graft.io.Manifest.vacuum(spark, dir,
      gens.flatMap(g => Seq("centroids", "codebooks", "meta", "codes")
        .map(s => s"$g/$s")),
      retainVersions, orphanGraceMs)
  }

  /** Maintenance-time ANN drift gauge for a persisted IVF+PQ index (the
    * r17 verdict's missing piece: [[ivfPqIndexAppend]] correctly
    * freezes `train()` — the FAISS contract — but nothing measured when
    * the frozen quantizer has drifted off the corpus it now encodes).
    * The gauge serves `queries` two ways over the SAME candidate sliver
    * `sample` (raw vectors, ids ⊆ the indexed corpus — delta-sized by
    * the caller):
    *  - approx: the sliver encoded with the index's STORED artifacts
    *    ([[ivfPqIndexEncode]] — exactly the codes the index holds for
    *    those ids) and ranked through the probed-cell ADC path the
    *    serving face runs;
    *  - exact: [[bruteForceTopK]] over the sliver's raw vectors.
    * Holding the candidate set fixed on both sides isolates what the
    * gauge should measure — probe + quantization loss under the frozen
    * training — from corpus composition. Returns [[recallAtK]]'s
    * per-query (query_id, n_truth, n_hits, recall); aggregate and
    * threshold it on a maintenance cadence
    * ([[graft.streaming.Streaming.shouldRebuild]]), and
    * [[ivfPqIndexRebuild]] when it decays. Cost: one sliver encode +
    * one sliver×queries broadcast rank — never corpus-sized.
    *
    * SELF-MATCH ASYMMETRY (r18 advisory): when the query set overlaps
    * the candidate sliver by id — the streaming gauge's shape, where
    * the batch serves as both — the two sides treat the query's own
    * vector DIFFERENTLY: the exact side ([[bruteForceTopK]]) excludes
    * self by contract, while the approx ADC ranking scores every
    * encoded sliver row, so the self row (nearly always approx rank 1)
    * burns one of the k approx slots on a row that can never be a
    * truth hit — recall@k reads up to 1/k off purely from the overlap,
    * muting the drift signal the ledger exists to expose. `excludeSelf
    * = true` makes the sides symmetric: both rank top-(k+1), drop the
    * self row, renumber — exact, since at most one self row exists per
    * query. Leave it false when queries and sliver are disjoint, where
    * it changes nothing but costs one extra rank row. */
  def ivfPqIndexDriftGauge(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      sample: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = false
  ): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val tree = ivfPqResolve(spark, dir)
    val (m, codes, coarse, books) = ivfPqArtifacts(spark, tree)
    val d = coarse(0).length / m
    val qunit = unitized(queries, idCol, vecCol, "query_id")
    // probes feed ONE consumer here (the ADC tables — no partition-prune
    // collect, the gauge never touches codes/), so no pin is needed
    val probes = ivfPqProbes(spark, qunit, coarse, nProbe)
    val kRank = if (excludeSelf) k + 1 else k
    def dropSelf(ranked: DataFrame): DataFrame =
      if (!excludeSelf) ranked
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("rank"))
        ranked.filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
      }
    val approx = dropSelf(ivfPqRank(
      ivfPqEncodeTree(spark, tree, sample, idCol, vecCol),
      ivfPqAdc(probes, books, m, codes, d), kRank, m, codes))
    recallAtK(approx,
      dropSelf(bruteForceTopK(sample, queries, idCol, vecCol, kRank)), k)
  }

  /** Re-train on the CURRENT corpus and flip the layout in — the
    * rebuild face the drift gauge's decay (see
    * [[graft.streaming.Streaming.shouldRebuild]]) triggers.
    *
    * The rebuild is a GENERATION FLIP ([[ivfPqBuildGen]]): the
    * new index trains and writes completely under `<dir>/g<N+1>/`, one
    * manifest commit makes it live, and the old generation stays on
    * disk — READER-INVISIBLE ACROSS PROCESSES: a serve call in any
    * process that resolved the previous snapshot keeps its file list
    * intact until [[ivfPqIndexVacuum]] (the declared retention point).
    * A crash mid-build leaves an orphan generation no reader ever
    * sees; the next rebuild numbers past it and vacuum sweeps it. The
    * index's batch-id watermark is PRESERVED — an in-stream rebuild
    * (the [[graft.streaming.Streaming.vectorIndexMaintenance]] /
    * steady-state loop shape) must keep gating the same stream's
    * replays; a genuinely new stream starts with [[ivfPqIndexWrite]],
    * which clears it. */
  def ivfPqIndexRebuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      dims: Int,
      nCentroids: Int = 16,
      m: Int = 4,
      codes: Int = 16,
      iters: Int = 2
  ): Unit = {
    val spark = corpus.sparkSession
    ivfPqBuildGen(corpus, idCol, vecCol, dir,
      Some(graft.io.Manifest.live(spark, dir, IvfPqBuildFace)), dims,
      nCentroids, m, codes, iters)
  }

  /** [[ivfPqIndexRebuild]] at the LIVE index's OWN geometry — the
    * in-loop retrain face the autonomic steady-state loop calls
    * ([[graft.streaming.Streaming.steadyStateStep]]'s rebuild cadence,
    * harness #18h): a drift-triggered retrain wants "the same index,
    * trained on what the corpus looks like NOW", so the (dims,
    * n_centroids, m, codes) tuple is read from the live generation's
    * `meta/` — the same stored-parameters-over-caller-trust discipline
    * the serving faces use — instead of asking the stream closure to
    * re-thread build-time constants it has no authority over. `iters`
    * stays a knob (training budget is a per-retrain decision, not
    * layout). Everything else is [[ivfPqIndexRebuild]]: a
    * reader-invisible generation flip that preserves the batch-id
    * watermark. */
  def ivfPqIndexRetrain(
      corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      iters: Int = 2
  ): Unit = {
    val spark = corpus.sparkSession
    val (dims, nCentroids, m, codes) = ivfPqIndexGeometry(spark, dir)
    ivfPqIndexRebuild(corpus, idCol, vecCol, dir, dims, nCentroids, m,
      codes, iters)
  }

  /** The live generation's stored layout (dims, n_centroids, m, codes)
    * — the parameters [[ivfPqIndexRetrain]] trains at, exposed so a
    * caller can pre-check trainability (a retrain needs at least
    * `codes` usable corpus vectors) before committing to the build. */
  def ivfPqIndexGeometry(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int, Int, Int) = {
    val tree = ivfPqResolve(spark, dir)
    val meta = spark.read.parquet(s"${tree.root}/meta")
      .select("dims", "n_centroids", "m", "codes").head()
    (meta.getInt(0), meta.getInt(1), meta.getInt(2), meta.getInt(3))
  }

  /** IVF + PQ with RESIDUAL encoding — the Jégou et al. §IV refinement
    * (IVFADC proper) that [[ivfPqTopK]] deliberately skips: the PQ
    * codebooks are trained on, and encode, each vector's residual to its
    * coarse centroid `r = uv − c(cell)` instead of the vector itself.
    * Residuals concentrate near the origin regardless of which cell a
    * vector landed in, so the same m × codes budget spends its
    * quantization resolution on the (much smaller) within-cell spread —
    * the recall gain at fixed index bytes is what the v13 gauge
    * measures against v11's vector-encoding form.
    *
    * Score decomposition (what keeps ADC per-query cheap even though
    * the encoding is cell-relative): cos(q, x) ≈ q·(c + r̂) =
    * q·c + q·r̂, where q·c is the probe dot the query already computed
    * to RANK the cells, and q·r̂ = Σ_s dot(q_s, book_s[code_s]) is the
    * same m-lookup ADC sum as [[pqTopK]] — against codebooks that are
    * shared across cells, so the lookup table stays per-QUERY-sized.
    *
    * Two shifts matter, and they are DIFFERENT vectors (measured: recall
    * fell to 0.1 subtracting raw first-by-id corpus vectors, 0.2
    * subtracting the re-normalized spherical centroid):
    *  - cell ASSIGNMENT and PROBING rank on the Lloyd-refined UNIT
    *    centroids ([[kmeansCentroids]], `refineIters` steps) — the
    *    cosine contract every IVF face in this file shares;
    *  - the residual SHIFT is the cell's UN-normalized mean μ (the
    *    Jégou form): q·x = q·μ + q·r holds for any shift, and the mean
    *    is the one that minimizes ‖r‖, so the codebooks spend their
    *    budget on the true within-cell spread. The probe therefore
    *    carries two dots — q·centv to rank cells, q·μ to open the
    *    score — both query-side scalars.
    *
    * Plan shape is identical to [[ivfPqTopK]] (one corpus projection
    * emitting (cell, residual codes), broadcast ADC tables keyed by
    * cell, one rank-window exchange); the extra training cost is the
    * residual projection riding the same scan. Same determinism
    * contract: left-associated score sum starting at the probe dot,
    * 1e-4 rounding, ties to the lowest neighbor id, zero-norm vectors
    * drop on both sides. Returns (query_id, rank, neighbor_id, score). */
  def ivfPqResidualTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 4,
      codes: Int = 16,
      iters: Int = 2,
      refineIters: Int = 2
  ): DataFrame = {
    require(dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val d = dims / m
    val spark = corpus.sparkSession
    graft.plans.GraftExtensions.register(spark)
    def unitize(df: DataFrame, outId: String) = df
      .select(col(idCol).as(outId), col(vecCol).cast("array<double>").as("raw"))
      .withColumn("nrm", sqrt(dot(col("raw"), col("raw"))))
      .filter(col("nrm") > 0.0)
      .select(col(outId),
        transform(col("raw"), x => x / nullif(col("nrm"), lit(0.0))).as("uv"))
    val cunit = spreadToCores(unitize(corpus, "neighbor_id"))
    // ONE collected sample serves every training artifact of this index:
    // the Lloyd-refined coarse centroids, the residual sample, and the
    // PQ codebooks — so the whole train() phase costs a single narrow
    // TakeOrdered job plus the (necessarily full-corpus) cell-mean agg
    val sample = collectTrainSample(corpus, idCol, vecCol, TrainSampleCap)
      .flatMap { case (vid, v) => unitizeLocal(v).map((vid, _)) }
    val coarse = localLloyd(sample, nCentroids, refineIters)
      .sortBy(_._1).map(_._2)
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    // the un-normalized cell means μ — one tiny-keyed aggregation over
    // the assigned corpus, collected as metadata (nCentroids × dims
    // doubles); an empty cell's μ is all-zero, which scoring never reads
    // (no vectors encode into it)
    val muMap = cunit
      .select(call_function("best_centroid", col("uv"), coarseLit, lit(false))
          .as("cent_id"),
        posexplode(col("uv")).as(Seq("pos", "x")))
      .groupBy("cent_id", "pos").agg(avg(col("x")).as("mx"))
      .groupBy("cent_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("mx")))).as("ps"))
      .select(col("cent_id"), transform(col("ps"), p => p("mx")).as("muv"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val mu = Array.tabulate(nCentroids)(i =>
      muMap.getOrElse(i, Array.fill(dims)(0.0)))
    val muLit = typedLit(mu.map(_.toSeq).toSeq)
    // cell + residual in ONE projection off the scan: the coarse argmax
    // and the element-wise subtract are both codegen'd, nothing exchanges
    def residualize(df: DataFrame, outId: String) = df
      .select(col(outId),
        call_function("best_centroid", col("uv"), coarseLit, lit(false))
          .as("cent_id"),
        col("uv"))
      .withColumn("rv", zip_with(col("uv"),
        element_at(muLit, col("cent_id") + 1), (x, c) => x - c))
    val resid = residualize(cunit, "neighbor_id")
    // residuals of the SAME sample, computed locally with the scan
    // path's exact arithmetic (argmax cell, per-element subtract)
    val residSample = sample.map { case (vid, uv) =>
      val muV = mu(bestCentroidLocal(uv, coarse))
      (vid, Array.tabulate(uv.length)(i => uv(i) - muV(i)))
    }
    val books = pqTrainBooksOnSample(residSample, m, codes, iters, d)
    def augLit(book: Array[Array[Double]]) =
      typedLit(book.map(c =>
        (c :+ (-0.5 * c.map(x => x * x).sum)).toSeq).toSeq)
    // ONE corpus projection: coarse cell + the m residual PQ codes
    val enc = resid.select(col("neighbor_id"), col("cent_id"),
      array((0 until m).map { s =>
        call_function("best_centroid",
          concat(slice(col("rv"), s * d + 1, d), array(lit(1.0))),
          augLit(books(s)), lit(false))
      }: _*).as("pq_codes"))
    val qunit = unitize(queries, "query_id")
    val centDf = spark.createDataFrame(
      coarse.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
      .toDF("cent_id", "centv")
    val probeWin = Window.partitionBy("query_id")
      .orderBy(col("dot_c").desc, col("cent_id").asc)
    val probes = qunit.join(broadcast(centDf))
      .withColumn("dot_c", dot(col("uv"), col("centv")))
      .withColumn("_pr", row_number().over(probeWin)).filter(col("_pr") <= nProbe)
      .select("query_id", "cent_id", "uv")
    // per-(query, cell) ADC row: dot_mu (q·μ — opens the score sum) and
    // the per-query lookup table (codebooks are shared across cells)
    val probeAdc = probes.select(col("query_id"), col("cent_id"),
      dot(col("uv"), element_at(muLit, col("cent_id") + 1)).as("dot_mu"),
      array((for {
        s <- 0 until m
        c <- 0 until codes
      } yield dot(slice(col("uv"), s * d + 1, d),
        typedLit(books(s)(c).toSeq))): _*).as("adc"))
    val fin = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    enc.join(broadcast(probeAdc), Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(
        (col("dot_mu") +: (0 until m).map(s =>
          element_at(col("adc"),
            col("pq_codes").getItem(s) + lit(s * codes) + 1))).reduce(_ + _), 4))
      .select(col("query_id"), col("neighbor_id"), col("score"))
      .withColumn("rank", row_number().over(fin)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** Approximate top-k by ADC over PQ codes: trains the codebooks
    * ([[pqCodebooks]]), encodes the corpus ([[pqEncode]] — a
    * projection), computes each query's m × codes lookup table of
    * subspace dots in one query-side projection, and scores every
    * (query, vector) pair as m table lookups (pure codegen
    * `element_at`s, summed left-to-right so the oracle reproduces the
    * float sum exactly) — never touching the corpus vectors again. The
    * per-query ranking window carries a rank <= k filter, so Catalyst's
    * partial group-limit prunes map-side before the only shuffle.
    *
    * Scale posture: the corpus after encode is m ints per vector, the
    * query table is broadcast metadata (nQueries × m × codes doubles),
    * and scoring is corpus-scan-speed — the plan a 100 TB serving layer
    * needs. Zero-norm queries are dropped with the corpus-side contract
    * (documented asymmetry vs [[bruteForceTopK]], as with
    * [[quantizedTopK]]). Returns (query_id, rank, neighbor_id, score)
    * with score = the ADC approximation of the cosine, rounded 1e-4. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int,
      m: Int = 4,
      codes: Int = 16,
      iters: Int = 2
  ): DataFrame = {
    val d = dims / m
    val books = pqCodebooks(corpus, idCol, vecCol, dims, m, codes, iters)
    val enc = pqEncode(corpus, idCol, vecCol, books)
      .select(col("id").as("neighbor_id"), col("pq_codes"))
    val qadc = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("raw"))
      .withColumn("nrm", sqrt(dot(col("raw"), col("raw"))))
      .filter(col("nrm") > 0.0)
      .withColumn("uv", transform(col("raw"), x => x / nullif(col("nrm"), lit(0.0))))
      .select(col("query_id"), array((for {
        s <- 0 until m
        c <- 0 until codes
      } yield dot(slice(col("uv"), s * d + 1, d),
        typedLit(books(s)(c).toSeq))): _*).as("adc"))
    val fin = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    enc.join(broadcast(qadc))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round((0 until m).map(s =>
        element_at(col("adc"),
          col("pq_codes").getItem(s) + lit(s * codes) + 1)).reduce(_ + _), 4))
      .select(col("query_id"), col("neighbor_id"), col("score"))
      .withColumn("rank", row_number().over(fin)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }
}
