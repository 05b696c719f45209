package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Pin

/** Link-graph analytics. PageRank is the web-curation quality signal the
  * large corpus pipelines derive from a crawl's link graph (harmonic/
  * PageRank centrality feeds quality weighting); here it runs over any
  * (src, dst) edge frame.
  *
  * Determinism contract (what makes an iterative float computation
  * hash-comparable across engines): every per-iteration contribution
  * r(u)/outdeg(u) is rounded to a 1e-12-scaled integer BEFORE the
  * per-destination sum, so the sum is order-free (integer addition
  * commutes; the t19/t20 scaled-sum lesson applied to iteration), and
  * the new rank (1-d)/N + d·(sum/1e12) is the same double on every
  * engine by induction. No other float op depends on aggregation order.
  *
  * Scale posture: each iteration is ONE join (ranks ⨝ edges on src) +
  * ONE aggregation (sum per dst) — the canonical distributed PageRank;
  * the edge frame is persisted once and co-partitioning edges by src
  * (bucketed layout) makes the per-iteration join exchange-free on the
  * edge side. Ranks are node-sized. Iterations are a fixed small count
  * (the unrolled-SQL-oracle regime), not convergence-tested. */
object Graph {

  /** PageRank over a directed edge list. Dangling nodes (no out-edges)
    * are not redistributed — pass a symmetrized edge set (every node
    * with an in-edge also has an out-edge) for the classic ergodic
    * setup; the battery's order graph is symmetric by construction.
    * Returns (node, outdeg, rank) with rank rounded to 6 decimals. */
  /** Above this node count a node-sized frame stops being broadcast-safe:
    * ~5M nodes ≈ 80 MB of (long, long) rows — comfortably under executor
    * broadcast budgets; beyond it the partitioned path's per-iteration
    * contribution build stops hinting `broadcast(deg)` and lets the two
    * node-sized frames meet in an ordinary shuffle join. */
  val BroadcastNodeLimit: Long = 5000000L

  /** Below this node count the ranks are held ON the driver between
    * iterations ([[pageRankDriverHeld]]); above it the edge cache is
    * hash-partitioned once and only node-sized contributions move per
    * iteration ([[pageRankPartitioned]]). Deliberately LOWER than
    * [[BroadcastNodeLimit]]: the driver-held path pays a collect() plus
    * two node-sized arrays per iteration, so the upper part of the
    * broadcastable range (2M–5M nodes) is better served by the
    * partitioned plan, which still gets its contribution broadcast from
    * AQE when sizes permit. The two paths are bit-identical by the q12
    * integer-quantization contract (GraphSpec pins the parity). */
  val DriverHeldNodeLimit: Long = 2000000L

  /** Below this DEDUPED edge count the whole edge list is collected and
    * every iteration runs as flat array arithmetic on the driver
    * ([[pageRankCollected]]) — 8M edges ≈ 128 MB of index arrays, the
    * same envelope a broadcast-sized structure gets. Iterating a graph
    * this small through distributed job waves is pure scheduling
    * overhead: each pass is a full job (broadcast build + cached-scan +
    * agg + collect, ~0.5 s at local[32]) to do ~milliseconds of
    * arithmetic. Above the cap the distributed paths take over — the
    * gate is on the measured edge count, so no unbounded collect can
    * ever happen. */
  val EdgeCollectLimit: Long = 8000000L

  /** Per-node degree/reciprocity profile of a directed edge list — the
    * link-graph shape audit run before any centrality pass (degree
    * distributions and reciprocal-link share are the standard crawl-graph
    * health signals; a spam farm shows up as high-reciprocity cliques
    * long before PageRank converges on it).
    *
    * Returns one row per node appearing on either edge end:
    * (node, out_deg, in_deg, recip_deg = #neighbors linked in BOTH
    * directions, is_source = no in-edges, is_sink = no out-edges) — all
    * integers/booleans, hash-exact.
    *
    * Scale shape: edges dedup once (one shuffle), then two edge-sized
    * hash aggregations for the degree tables and ONE self-equi-join on
    * the full (src,dst)=(dst,src) pair for reciprocity — an equi-join on
    * both key columns, never a per-node neighborhood expansion; the
    * node-sized aggregates meet in a full-outer join that AQE broadcasts
    * when node count permits. */
  def degreeProfile(
      edges: DataFrame,
      srcCol: String,
      dstCol: String
  ): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
      .select(col("src").as("node"), col("out_deg"))
    val in = e.groupBy("dst").agg(count(lit(1)).as("in_deg"))
      .select(col("dst").as("node"), col("in_deg"))
    val recip = e.alias("a")
      .join(e.alias("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .groupBy(col("a.src").as("node"))
      .agg(count(lit(1)).as("recip_deg"))
    val prof = out.join(in, Seq("node"), "full_outer")
      .join(recip, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("recip_deg"), lit(0L)).as("recip_deg"),
        (coalesce(col("in_deg"), lit(0L)) === 0).as("is_source"),
        (coalesce(col("out_deg"), lit(0L)) === 0).as("is_sink"))
      .localCheckpoint()
    e.unpersist()
    prof
  }

  /** Per-node triangle counts over an UNDIRECTED graph (edges are
    * canonicalized, direction and duplicates ignored) — the clustering /
    * community-density signal next to [[degreeProfile]]'s reciprocity.
    *
    * Returns (node, n_triangles) for every node on any edge, zeros
    * included — all integers, hash-exact.
    *
    * Scale shape: the textbook wedge join made 100 TB-safe by DEGREE
    * ORIENTATION — every edge orients from its (degree, id)-smaller
    * endpoint to the larger, so each node's oriented out-degree is
    * O(√m) and the wedge join (oriented ⨝ oriented on the common
    * source) generates O(m^1.5) candidates TOTAL instead of Σdeg² —
    * the hub that would explode an unoriented join contributes no
    * wedges at all. The closing check is one more equi-join against the
    * oriented edge set, and per-node attribution is an explode + count.
    * Three edge-keyed shuffle joins, no broadcast assumption, no
    * per-node adjacency list ever materializes. */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String
  ): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // canonical undirected form, deduped once
    val und = raw.select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient each edge toward the (degree, id)-larger endpoint, carrying
    // the head's degree so wedge endpoints can be ordered in ORIENTATION
    // order — which makes the closing edge's direction known and the
    // close a pure equi-join (an OR-of-directions would nested-loop)
    val uLt = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val ornt = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(uLt, col("u")).otherwise(col("v")).as("s"),
        when(uLt, col("v")).otherwise(col("u")).as("t"),
        when(uLt, col("dv")).otherwise(col("du")).as("dt"))
      .localCheckpoint()
    // wedges from a common oriented source, endpoints in orientation
    // order: the triangle's closing edge can then ONLY be w1 -> w2
    val wedges = ornt.alias("e1")
      .join(ornt.alias("e2"),
        col("e1.s") === col("e2.s") && (col("e1.dt") < col("e2.dt") ||
          (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t"))))
      .select(col("e1.s").as("w0"), col("e1.t").as("w1"), col("e2.t").as("w2"))
    val tris = wedges.alias("w")
      .join(ornt.alias("e3"),
        col("w.w1") === col("e3.s") && col("w.w2") === col("e3.t"))
      .select(col("w0"), col("w1"), col("w2"))
    val perNode = tris
      .select(explode(array(col("w0"), col("w1"), col("w2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    val out = deg.select(col("n").as("node"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .localCheckpoint()
    Pin.release(ornt)
    und.unpersist()
    out
  }

  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 5,
      damping: Double = 0.85
  ): DataFrame =
    pageRankWithLimit(edges, srcCol, dstCol, iters, damping,
      DriverHeldNodeLimit)

  /** [[pageRank]] with the driver-held/partitioned node-count switch
    * injectable — the test seam that lets GraphSpec force the partitioned
    * path onto a small graph and pin bit-parity between the two
    * implementations (production callers always go through [[pageRank]]
    * and its [[DriverHeldNodeLimit]] default). */
  private[graft] def pageRankWithLimit(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      damping: Double,
      driverHeldLimit: Long,
      edgeCollectLimit: Long = EdgeCollectLimit
  ): DataFrame = {
    // Exactly ONE edge-sized structure is ever materialized: the deduped
    // edge list. Degrees are node-sized metadata (eagerly checkpointed),
    // and each iteration joins the edges against a node-sized
    // CONTRIBUTION table (rank/outdeg, quantized) built from two tiny
    // frames — no edge+degree join cache, half the memory of the naive
    // two-cache shape and one less edge-sized materialization.
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
    val ePre = e0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the edge count (one job, materializes the cache) gates the tiny-
    // graph path BEFORE any degree machinery is built
    val m = ePre.count()
    if (m <= edgeCollectLimit) return pageRankCollected(ePre, iters, damping)
    // node count is one scalar of metadata; the teleport term needs it
    // inside every iteration's projection. Under the documented
    // symmetrized-input contract every node has an out-edge, so N is
    // deg's row count — no explode-distinct pass over the edges
    val deg = ePre.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val n = deg.count()
    // The contribution table is NODE-sized while the edge table is
    // EDGE-sized, so the per-iteration join must never shuffle the big
    // side per pass:
    //  - small graphs: broadcast the contributions (checkpointed frames
    //    carry no size stats, so without the hint Catalyst would
    //    sort-merge-join and re-shuffle the EDGES every iteration — the
    //    dominant cost of the unhinted plan);
    //  - big graphs: hash-partition the edge cache by src ONCE; each
    //    iteration then shuffles only the node-sized contributions to
    //    meet it (the cached partitioning is reused across all iters).
    val small = n <= driverHeldLimit
    if (small) pageRankDriverHeld(ePre, deg, n, iters, damping)
    else pageRankPartitioned(e0, ePre, deg, n, iters, damping)
  }

  /** Tiny-graph PageRank: the whole DEDUPED edge list (already bounded by
    * [[EdgeCollectLimit]] at the call site) is collected once and every
    * iteration runs as flat int-indexed array arithmetic on the driver —
    * no per-iteration jobs at all. Bit-parity with the distributed paths
    * is inherited from the q12 contract: contributions are quantized with
    * the SAME BigDecimal HALF_UP rounding Spark's `round` performs, their
    * per-destination sum is an integer (order-independent), and the rank
    * update is the same double expression — so all three implementations
    * produce identical doubles (GraphSpec pins the three-way parity).
    *
    * Semantics mirrored exactly from the distributed shape:
    *  - N counts SOURCE nodes (the symmetrized-input contract);
    *  - only nodes holding a rank AND an out-edge contribute;
    *  - a node appears in the next iteration's rank set iff at least one
    *    in-neighbor contributed (the inner join + groupBy);
    *  - the output keeps (rank-holding ∩ source) nodes, rank rounded to
    *    6 decimals. */
  private def pageRankCollected(
      e: DataFrame, iters: Int, damping: Double
  ): DataFrame = {
    val sp = e.sparkSession
    import sp.implicits._
    import scala.collection.immutable.ArraySeq
    val raw = e.as[(Long, Long)].collect()
    e.unpersist()
    val idxOf = new java.util.HashMap[java.lang.Long, Integer](raw.length * 2)
    var nAll = 0
    def idx(v: Long): Int = {
      val k: java.lang.Long = v
      val got = idxOf.get(k)
      if (got != null) got.intValue
      else { idxOf.put(k, nAll); nAll += 1; nAll - 1 }
    }
    val esrc = new Array[Int](raw.length)
    val edst = new Array[Int](raw.length)
    var i = 0
    while (i < raw.length) {
      esrc(i) = idx(raw(i)._1); edst(i) = idx(raw(i)._2); i += 1
    }
    val outdeg = new Array[Long](nAll)
    i = 0
    while (i < raw.length) { outdeg(esrc(i)) += 1L; i += 1 }
    val nodeOf = new Array[Long](nAll)
    idxOf.forEach((k, v) => nodeOf(v.intValue) = k.longValue)
    var n = 0L
    i = 0
    while (i < nAll) { if (outdeg(i) > 0L) n += 1L; i += 1 }
    val teleport = (1.0 - damping) / n.toDouble
    val rank = new Array[Double](nAll)
    val present = new Array[Boolean](nAll)
    i = 0
    while (i < nAll) {
      if (outdeg(i) > 0L) { rank(i) = 1.0 / n.toDouble; present(i) = true }
      i += 1
    }
    val q12 = new Array[Long](nAll)
    val hasQ = new Array[Boolean](nAll)
    val s12 = new Array[Long](nAll)
    val hit = new Array[Boolean](nAll)
    for (_ <- 0 until iters) {
      java.util.Arrays.fill(s12, 0L)
      java.util.Arrays.fill(hit, false)
      var k = 0
      while (k < nAll) {
        hasQ(k) = present(k) && outdeg(k) > 0L
        if (hasQ(k))
          q12(k) = BigDecimal.decimal(rank(k) / outdeg(k) * 1e12)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        k += 1
      }
      var x = 0
      while (x < esrc.length) {
        val s = esrc(x)
        if (hasQ(s)) { val d = edst(x); s12(d) += q12(s); hit(d) = true }
        x += 1
      }
      k = 0
      while (k < nAll) {
        present(k) = hit(k)
        if (hit(k)) rank(k) = teleport + damping * (s12(k) / 1e12)
        k += 1
      }
    }
    val buf = Array.newBuilder[(Long, Long, Double)]
    i = 0
    while (i < nAll) {
      if (present(i) && outdeg(i) > 0L)
        buf += ((nodeOf(i), outdeg(i),
          BigDecimal.decimal(rank(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble))
      i += 1
    }
    sp.createDataset(ArraySeq.unsafeWrapArray(buf.result()))
      .toDF("node", "outdeg", "rank")
  }

  /** Small-graph PageRank: ranks held ON THE DRIVER between iterations.
    *
    * On the small path the per-iteration contribution table is broadcast
    * anyway — i.e. it already round-trips through the driver — so keeping
    * the ranks there costs no extra data movement. What it BUYS is one
    * edge-join job per iteration with zero recomputation: the previous
    * shape (broadcast of a lazily-chained contrib frame) made every
    * iteration's broadcast-exchange job re-execute all prior iterations
    * since the last checkpoint — quadratic-in-batch edge joins plus the
    * checkpoint materializations themselves (measured: 5.5 s → ~2 s for
    * 5 iterations on a 1.2 M-edge graph; the join work is ~50 ms of it).
    *
    * The driver-side arithmetic mirrors the Spark expressions it
    * replaces bit-for-bit: `round(x)` on a double is
    * `BigDecimal.decimal(x).setScale(0, HALF_UP)` in Spark's Round, and
    * the rank update (teleport + damping·s12/1e12) stays ON the
    * executors inside the same job as the edge join, so the q12
    * quantization contract — iteration results identical regardless of
    * where materialization falls — is untouched. Memory: two node-sized
    * arrays on the driver, bounded by [[BroadcastNodeLimit]] — the same
    * envelope the broadcast itself needs. */
  private def pageRankDriverHeld(
      e: DataFrame, deg: DataFrame, n: Long, iters: Int, damping: Double
  ): DataFrame = {
    val sp = e.sparkSession
    import sp.implicits._
    import scala.collection.immutable.ArraySeq
    val degMap: Map[Long, Long] =
      deg.as[(Long, Long)].collect().toMap
    val teleport = (1.0 - damping) / n.toDouble
    var ranks: Array[(Long, Double)] =
      degMap.keysIterator.map(k => k -> 1.0 / n.toDouble).toArray
    for (_ <- 0 until iters) {
      // sink nodes (rank but no out-edge — off-contract input) drop from
      // the contributions, mirroring the old inner join against deg.
      // Arrays end to end: Array.flatMap lands in a fresh array and
      // ArraySeq.unsafeWrapArray hands it to createDataset without a
      // copy, so the per-iteration driver footprint really is the two
      // node-sized arrays the path is sized for — no multi-million-
      // element immutable Seq materializes between them
      val contribArr: Array[(Long, Long)] = ranks.flatMap { case (node, r) =>
        degMap.get(node).map { outdeg =>
          val q = BigDecimal.decimal(r / outdeg * 1e12)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          (node, q)
        }
      }
      val contrib = sp.createDataset(ArraySeq.unsafeWrapArray(contribArr))
        .toDF("cnode", "q12")
      ranks = e.alias("ed")
        .join(broadcast(contrib), col("ed.src") === col("cnode"))
        .groupBy("dst")
        .agg(sum("q12").as("s12"))
        .select(col("dst").as("node"),
          (lit(teleport) + lit(damping) * (col("s12") / 1e12)).as("rank"))
        .as[(Long, Double)].collect()
    }
    val outArr: Array[(Long, Long, Double)] = ranks.flatMap { case (node, r) =>
      degMap.get(node).map { outdeg =>
        (node, outdeg,
          BigDecimal.decimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }
    }
    val out = sp.createDataset(ArraySeq.unsafeWrapArray(outArr))
      .toDF("node", "outdeg", "rank")
    Pin.release(deg)
    e.unpersist()
    out
  }

  /** Big-graph PageRank: the edge cache is hash-partitioned by src ONCE;
    * each iteration shuffles only the node-sized contributions to meet
    * it (the cached partitioning is reused across all iters), with
    * lineage checkpoints batching three iterations per job. */
  private def pageRankPartitioned(
      e0: DataFrame, ePre: DataFrame, deg: DataFrame,
      n: Long, iters: Int, damping: Double
  ): DataFrame = {
    val e = {
      val r = e0.repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count() // materialize through the partitioner before dropping ePre
      ePre.unpersist()
      r
    }
    val teleport = lit(1.0 - damping) / n.toDouble
    var ranks = deg.select(col("src").as("node"),
      (lit(1.0) / n.toDouble).as("rank"))
    var lastCk: Option[DataFrame] = None
    // deg is node-sized: broadcast it into the per-iteration contribution
    // build only while that is broadcast-safe; past BroadcastNodeLimit
    // the two node-sized frames meet in an ordinary shuffle join instead
    // (both shuffles are node-sized — the edge cache never moves either way)
    def degSide: DataFrame =
      if (n <= BroadcastNodeLimit) broadcast(deg.alias("dg"))
      else deg.alias("dg")
    for (i <- 0 until iters) {
      // explicit aliases: ranks' lineage CONTAINS deg (initial ranks is a
      // projection of it), so unqualified refs trip the ambiguous-self-
      // join detector on the first iteration
      val contrib = ranks.alias("rk")
        .join(degSide, col("rk.node") === col("dg.src"))
        .select(col("dg.src").as("cnode"),
          round(col("rk.rank") / col("dg.outdeg") * 1e12).cast("long").as("q12"))
      ranks = e.alias("ed")
        .join(contrib, col("ed.src") === col("cnode"))
        .groupBy("dst")
        .agg(sum("q12").as("s12"))
        .select(col("dst").as("node"),
          (teleport + lit(damping) * (col("s12") / 1e12)).as("rank"))
      // truncate the lineage every THIRD pass (the CC operators' pattern,
      // batched): without checkpoints the driver re-analyzes a plan that
      // grows by a join+agg per iteration and planning cost comes to
      // dominate; a three-iteration batch keeps the plan bounded while
      // cutting the job count to ceil(iters/3). The LAST pass is
      // deliberately NOT checkpointed — the output materialization below
      // computes the tail chain + final join in the same job. The q12
      // integer rounding makes every iteration's result the same doubles
      // regardless of where the materialization barrier falls. Ranks are
      // node-sized, safe to materialize.
      if (i % 3 == 2 && i != iters - 1) {
        val prev = lastCk
        ranks = ranks.localCheckpoint()
        lastCk = Some(ranks)
        prev.foreach(Pin.release) // free the superseded checkpoint RDD
      }
    }
    val out = ranks.alias("rk")
      .join(deg.alias("dg"), col("rk.node") === col("dg.src"))
      .select(col("rk.node").as("node"), col("dg.outdeg").as("outdeg"),
        round(col("rk.rank"), 6).as("rank"))
      // materialize before dropping the caches the lineage leans on
      .localCheckpoint()
    lastCk.foreach(Pin.release)
    Pin.release(deg)
    e.unpersist()
    out
  }
}
