package graft.testbed

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Classifier, Dedup, Keywords, Multimodal, Packing, Robots, Salted, Sampling, Similarity, Sketches}
import graft.sources.{Sitemaps, Warc}

/** LLM-training-data pipeline battery over the `documents` / `embeddings`
  * tables: text analysis, language ID, fingerprinting, exact + near dedup,
  * vector similarity search, multimodal plumbing. Every query is mirrored by
  * a DuckDB oracle over the same parquet (the MinHash/LSH entries included —
  * the signature family is lexicographic-min of salted md5, which DuckDB can
  * reproduce exactly).
  */
object DocQueries {

  type Q = (SparkSession, String) => DataFrame

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    Fixtures.value(s, dir, name)(s.read.parquet(s"$dir/$name.parquet").cache())

  /** m8/m9 image corpus, cached for the m family (m8 hashes it, m9
    * pair-joins it — the PNG encode runs once). Group g = doc_id/4 owns a
    * 32-byte pattern table derived from md5(g) ++ md5(g||"b") — md5 so
    * the DuckDB oracle rebuilds the exact bytes, TWO digests so the
    * 66-cell thumbnail walk doesn't cycle a 16-byte table into a tiny
    * comparison-pattern space (32 independent byte comparisons ≈ 2^32
    * distinct dhash patterns — incidental cross-group collisions are
    * birthday-rare at any test SF, and the oracle reproduces them when
    * they happen). Variants: v0 base 11x6, v1 exact 2x upscale (22x12),
    * v2 one-cell +8 brightness jitter, v3 unrelated pattern (seeds
    * "c"/"d"); doc_id % 97 == 0 rows carry an undecodable payload. Cell
    * values are % 240 so the +8 jitter can't wrap. */
  /** The 32-byte per-group pattern table of the m8-m11 corpora:
    * md5(g) ++ md5(g||"b") (the v3 unrelated pattern reseeds with
    * "c"/"d"), byte-for-byte reproducible by the oracle from the hex. */
  private def md5Table(md: java.security.MessageDigest, seed: String,
                       salt1: String, salt2: String): Array[Int] = {
    def digest(x: String): Array[Int] =
      md.digest(x.getBytes("UTF-8")).map(b => b & 0xff)
    digest(seed + salt1) ++ digest(seed + salt2)
  }

  private def imagePayloads(s: SparkSession, dir: String): DataFrame =
    Fixtures.value(s, dir, "_image_payloads") {
      import s.implicits._
      table(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          System.setProperty("java.awt.headless", "true")
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { id =>
            if (id % 97 == 0) (id, "not an image".getBytes("UTF-8"))
            else {
              val g = id / 4
              val v = (id % 4).toInt
              val tbl =
                if (v == 3) md5Table(md, g.toString, "c", "d")
                else md5Table(md, g.toString, "", "b")
              def base(x: Int, y: Int): Int = tbl((x + y * 11) % 32) % 240
              val cx = (1 + g % 9).toInt
              val cy = (g % 6).toInt
              def gray(l: Int): Int = (l << 16) | (l << 8) | l
              val png = v match {
                case 1 => Multimodal.encodePng(22, 12,
                  (x, y) => gray(base(x / 2, y / 2)))
                case 2 => Multimodal.encodePng(11, 6, (x, y) =>
                  gray(base(x, y) + (if (x == cx && y == cy) 8 else 0)))
                case _ => Multimodal.encodePng(11, 6,
                  (x, y) => gray(base(x, y)))
              }
              (id, png)
            }
          }
        }
        .toDF("doc_id", "payload").cache()
    }

  /** m10/m11 audio corpus, cached like [[imagePayloads]] and built from
    * the SAME md5 group tables: 244 16-bit PCM samples per doc (window w
    * of the 61-window envelope covers samples [4w, 4w+4) exactly),
    * sample i = 117 · tbl[(5i + i mod 7) mod 32] — the nonlinear index
    * walk keeps the 61 window energies from collapsing onto a short
    * byte-table cycle. Variants: v0 base, v1 every-sample-duplicated 2x
    * resample (window energies double exactly → identical envelope
    * signs), v2 +100 on one interior window's 4 samples (flips <= 2
    * bits), v3 unrelated pattern; doc_id % 97 == 0 rows are undecodable. */
  private def audioPayloads(s: SparkSession, dir: String): DataFrame =
    Fixtures.value(s, dir, "_audio_payloads") {
      import s.implicits._
      table(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { id =>
            if (id % 97 == 0) (id, Array[Byte](1, 2, 3))
            else {
              val g = id / 4
              val v = (id % 4).toInt
              val tbl =
                if (v == 3) md5Table(md, g.toString, "c", "d")
                else md5Table(md, g.toString, "", "b")
              val wj = (1 + g % 59).toInt
              def sample(i: Int): Int =
                117 * tbl((i * 5 + i % 7) % 32) +
                  (if (v == 2 && i / 4 == wj) 100 else 0)
              val base = Array.tabulate(244)(sample)
              val samples: Array[Short] =
                if (v == 1) Array.tabulate(488)(i => base(i / 2).toShort)
                else base.map(_.toShort)
              (id, Multimodal.syntheticWavPcm(8000, 1, samples))
            }
          }
        }
        .toDF("doc_id", "payload").cache()
    }

  /** Exact-Jaccard >= 0.8 pair graph, cached for the d family (d2 emits
    * it, d4 clusters it — the shingle co-occurrence join runs once). */
  private def jaccardEdges(s: SparkSession, dir: String): DataFrame =
    Fixtures.value(s, dir, "_jaccard_edges")(
      Dedup.jaccardPairs(table(s, dir, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.8).cache())

  /** Connected components of [[jaccardEdges]] (checkpoint-backed), shared
    * by d4, d12 and d20. */
  private def ccLabels(s: SparkSession, dir: String): DataFrame =
    Fixtures.value(s, dir, "_cc_labels")(Dedup.connectedComponents(jaccardEdges(s, dir)))

  /** GD iterations for the t30/t31 classifier battery entries AND their
    * unrolled DuckDB mirror. 8 is past convergence on the sf corpora
    * (the margin signs — all either engine compares — are stable from
    * ~iter 5) and keeps the oracle's per-iteration CTE chain inside the
    * driver's fd budget; 20 iterations blew it in r8/r9. */
  private val ClassifierIters = 8

  /** The t30/t31 trained model, cached per (session, sfdir): training is
    * 1 + iters full-corpus aggregations, so the two battery entries must
    * share one model (the d12/d13 shared-materialization pattern) — the
    * model itself is 18 doubles of driver-side metadata. */
  private def classifierModel(s: SparkSession, dir: String): Classifier.LogisticModel =
    Fixtures.value(s, dir, "_classifier")(
      Classifier.trainLogistic(table(s, dir, "documents"), "text",
        iters = ClassifierIters, lr = 4.0))

  /** Shared ANN result chains, one per (session, sfdir, key): the v
    * family's recall/fusion entries judge the SAME approximate and exact
    * top-k frames the base entries produce, so each chain (driver Lloyd +
    * encode + score jobs) derives ONCE and its query-batch-sized result
    * (nQueries × k rows — metadata, not corpus) checkpoints for every
    * consumer. The d2/d4 + t30/t31 shared-materialization pattern; the
    * reference pipeline likewise persists one aggregated frame and fans
    * its outputs off it (SURVEY §2.3). The family's first caller pays
    * the build, so family totals are the honest comparison. */
  private def chain(s: SparkSession, dir: String, key: String)(
      mk: => DataFrame): DataFrame =
    Fixtures.value(s, dir, key)(mk.localCheckpoint())

  private def q20(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings").filter(col("vec_id") < 20)

  /** Exact top-3 for the standard query batch — the truth set every
    * recall gauge judges against. */
  private def brute3(s: SparkSession, dir: String): DataFrame =
    chain(s, dir, "brute3")(Similarity.bruteForceTopK(
      table(s, dir, "embeddings"), q20(s, dir), "vec_id", "embedding", k = 3))

  private def ann3(s: SparkSession, dir: String): DataFrame =
    chain(s, dir, "ann3")(Similarity.annTopK(
      table(s, dir, "embeddings"), q20(s, dir), "vec_id", "embedding",
      k = 3, dims = 64, tables = 8, planesPerTable = 4))

  private def ivf3(s: SparkSession, dir: String): DataFrame =
    chain(s, dir, "ivf3")(Similarity.ivfTopK(
      table(s, dir, "embeddings"), q20(s, dir), "vec_id", "embedding",
      k = 3, nCentroids = 16, nProbe = 4))

  private def pq3(s: SparkSession, dir: String): DataFrame =
    chain(s, dir, "pq3")(Similarity.pqTopK(
      table(s, dir, "embeddings"), q20(s, dir), "vec_id", "embedding",
      k = 3, dims = 64, m = 4, codes = 16, iters = 2))

  private def resid3(s: SparkSession, dir: String): DataFrame =
    chain(s, dir, "resid3")(Similarity.ivfPqResidualTopK(
      table(s, dir, "embeddings"), q20(s, dir), "vec_id", "embedding",
      k = 3, dims = 64, nCentroids = 16, nProbe = 4, m = 4, codes = 16, iters = 2))

  /** The ir-family shared SERVE chains (r20 opt, guide §2.4 — the same
    * v-family pattern [[pq3]]/[[ann3]] use): ir9's hybrid fusion reads
    * the IDENTICAL bm25 and IVF+PQ serve calls ir1/ir4 already time, so
    * each serve runs ONCE per family and ir9 times the fusion. Both
    * results are query-batch-sized rank frames (20/60 rows — metadata),
    * and the serve cost stays measured in its own entry (ir1/ir4 run
    * before ir9 in battery order). Results are bit-identical: the chain
    * pins the very frames the entries previously recomputed. */
  private def irBm25Chain(s: SparkSession, dir: String): DataFrame =
    chain(s, dir, "ir_bm25")(graft.io.TextIndex.bm25SearchIndex(
      s, textIndexDir(s, dir), Seq("hash", "join", "merge"), k = 20))
  private def irAnnChain(s: SparkSession, dir: String): DataFrame =
    chain(s, dir, "ir_ivfpq3")(Similarity.ivfPqIndexTopK(
      s, ivfPqIndexDir(s, dir),
      table(s, dir, "embeddings").filter(col("vec_id") < 20),
      "vec_id", "embedding", k = 3, nProbe = 4))

  /** The persisted inverted text index serving ir1/ir2, built once per
    * (session, sf-dir) into a temp directory — the index BUILD is the
    * ingest-time cost (one tokenize + one aggregation), amortized across
    * every query that serves from it, exactly the deployment shape. */
  private def textIndexDir(s: SparkSession, dir: String): String =
    Fixtures.dir(s, dir, "ir-index")(
      graft.io.TextIndex.writeIndex(table(s, dir, "documents"), "doc_id", "text", _))

  /** The persisted IVF+PQ index serving ir4 (built by ir3's first touch,
    * then shared) — the v11 geometry (16 cells, 4×16 codes, 2 Lloyd
    * passes), so the index-served search mirrors v11's oracle exactly. */
  private def ivfPqIndexDir(s: SparkSession, dir: String): String =
    Fixtures.dir(s, dir, "ivfpq-index")(
      Similarity.ivfPqIndexWrite(table(s, dir, "embeddings"), "vec_id",
        "embedding", _, dims = 64, nCentroids = 16, m = 4, codes = 16, iters = 2))

  /** The ir10 drift-gauge LEDGER: two committed batch entries of
    * per-query recall rows ([[Similarity.ivfPqIndexDriftGauge]] over
    * deterministic corpus slivers, the shape harness #19/#18e persists
    * per maintenance batch), so the battery exercises the
    * ledger→decision fold ([[graft.streaming.Streaming
    * .gaugeLedgerDecision]]) end-to-end against real ledger bytes. */
  private def gaugeLedgerDir(s: SparkSession, dir: String): String =
    Fixtures.dir(s, dir, "gauge-ledger") { ld =>
      val emb = table(s, dir, "embeddings")
      Seq(0, 1).foreach { i =>
        Similarity.ivfPqIndexDriftGauge(s, ivfPqIndexDir(s, dir),
            emb.filter(col("vec_id") % 3 === i),
            emb.filter(col("vec_id") < 20), "vec_id", "embedding",
            k = 3, nProbe = 4)
          .write.mode("overwrite").parquet(s"$ld/batch_id=$i")
        graft.io.Commit.mark(s, s"$ld/batch_id=$i")
      }
    }

  /** The persisted MinHash band index serving ir5 — the d17 corpus split
    * (reference < 250) built as write(< 150) + append(150..249), so the
    * battery's oracle gate exercises the APPEND face too: a probe over
    * the appended index must equal d17's in-flight result exactly. */
  private def bandIndexDir(s: SparkSession, dir: String): String =
    Fixtures.dir(s, dir, "band-index") { ix =>
      val docs = table(s, dir, "documents")
      graft.io.BandIndex.writeIndex(docs.filter(col("doc_id") < 150),
        "doc_id", "text", ix, n = 3, numHashes = 64, bands = 16)
      graft.io.BandIndex.appendToIndex(
        docs.filter(col("doc_id") >= 150 && col("doc_id") < 250),
        "doc_id", "text", ix)
    }

  /** The ir6 URL universe: one synthetic URL per document, derived from
    * doc_id arithmetic so the DuckDB oracle restates it exactly. The id
    * itself rides in the path, so the universe GROWS with the corpus
    * (unlike a modulus-capped fixture) and the seen set / probe batch
    * scale with sf. */
  private def urlUniverse(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      concat(lit("http://h"), (col("doc_id") % 13).cast("string"),
        lit(".example/p/"), col("doc_id").cast("string")).as("url"))

  /** The persisted URL seen set serving ir6 — 60% of the corpus's URLs
    * (doc_id % 10 < 6), built as write(% 10 < 3) + append(3 <= % 10 < 6)
    * so the battery's oracle gate exercises the APPEND face too (the
    * bandIndexDir discipline). */
  private def seenSetDir(s: SparkSession, dir: String): String =
    Fixtures.dir(s, dir, "seen-set") { ix =>
      val u = urlUniverse(s, dir)
      graft.io.SeenSet.writeSet(u.filter(col("doc_id") % 10 < 3), "url", ix)
      graft.io.SeenSet.appendToSet(
        u.filter(col("doc_id") % 10 >= 3 && col("doc_id") % 10 < 6), "url", ix)
    }

  /** The persisted bucket-partitioned corpus store serving ir7 — built
    * write(doc_id % 3 == 0) + upsert(% 5 == 0, text amended) +
    * delete(% 7 == 0), so BOTH maintenance faces sit inside the oracle
    * gate: replaced rows must carry the new text, new keys must appear,
    * deleted keys must not resurrect from their bucket directories. */
  private def corpusStoreDir(s: SparkSession, dir: String): String =
    Fixtures.dir(s, dir, "corpus-store") { ix =>
      val docs = table(s, dir, "documents").select("doc_id", "text")
      graft.io.CorpusStore.write(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", ix)
      graft.io.CorpusStore.upsert(docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text")),
        "doc_id", ix)
      graft.io.CorpusStore.delete(
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id", ix)
    }

  /** The t37/t38 learned BPE merge table, shared like the classifier
    * model (metadata: 3 string pairs). */
  private def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    Fixtures.value(s, dir, "_bpe_merges")(
      graft.operators.Bpe.learnMerges(table(s, dir, "documents"), "text", rounds = 3)
        .orderBy("round").collect().toSeq
        .map(r => (r.getString(1), r.getString(2))))

  /** Rewrite every CTE of a DuckDB query to `AS MATERIALIZED`: DuckDB
    * INLINES chained CTEs by default, and for the deep unrolled
    * Lloyd/PQ mirrors that re-derives the whole upstream chain inside
    * every iteration — v12/v13 ran 55/70 s at sf0.1 inlined vs ~4 s
    * materialized (the g1 lesson). Purely an evaluation-strategy hint;
    * results are identical. */
  private def materializeCtes(sql: String): String = sql
    .replaceAll("(?m)^(\\s*\\S+ AS) \\(", "$1 MATERIALIZED (")
    .replaceAll("(?m)^WITH (\\S+ AS) \\(", "WITH $1 MATERIALIZED (")

  // ---- shared DuckDB fragments --------------------------------------------

  /** Whitespace-collapsed trimmed text (DuckDB regexp_replace needs the 'g'
    * flag — unlike Spark it replaces only the first match by default). */
  private val norm = "regexp_replace(trim(text), '\\s+', ' ', 'g')"
  private val ws = s"regexp_split_to_array($norm, ' ')"
  private def inList(t: String, values: Seq[String]): String =
    values.map(v => s"'$v'").mkString(s"$t IN (", ", ", ")")

  /** CTE `w`: (doc_id, lang, norm, ws, nt) over documents. */
  private val wCte =
    s"""WITH w AS (
       |  SELECT doc_id, lang, $norm AS norm, $ws AS ws, len($ws) AS nt
       |  FROM documents
       | )""".stripMargin

  /** DuckDB shingle-list expression over `ws` (3-gram). */
  private val shListSql =
    "list_distinct(list_transform(generate_series(1, len(ws) - 2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))"

  /** Shared CTE chain (after `w`) computing exact-Jaccard pair candidates
    * over 60-bit shingle hashes — used by the d2/d4/d5 oracles; mirror of
    * Dedup.jaccardPairs / Dedup.shingleHash60. `maxDocFreq` mirrors the
    * hot-shingle skew cap (shingles in more than k docs are dropped BEFORE
    * sizes and pairing, exactly like the Spark window filter). */
  private def jaccardCtes(maxDocFreq: Option[Int] = None) = {
    val capFilter = maxDocFreq
      .map(k => s" QUALIFY COUNT(*) OVER (PARTITION BY s) <= $k")
      .getOrElse("")
    s""" sh0 AS (SELECT DISTINCT doc_id, unnest($shListSql) AS sstr FROM w WHERE nt >= 3),
       | sh AS (
       |  SELECT DISTINCT doc_id,
       |         (CAST(list_sum(list_transform(generate_series(1, 7), k ->
       |            (strpos('0123456789abcdef', substr(md5(sstr), CAST(k AS INT), 1)) - 1)
       |              * (16.0 ** (7 - k)))) AS BIGINT) << 32)
       |         + CAST(list_sum(list_transform(generate_series(8, 15), k ->
       |            (strpos('0123456789abcdef', substr(md5(sstr), CAST(k AS INT), 1)) - 1)
       |              * (16.0 ** (15 - k)))) AS BIGINT) AS s
       |  FROM sh0$capFilter
       | ),
       | sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       | inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       | )""".stripMargin
  }

  /** DuckDB mirror of Dedup.shingleHash60 over a VARCHAR expression:
    * 15 md5 hex digits as a 60-bit BIGINT, split hi7<<32 + lo8 to stay
    * exact in doubles (16.0**k is exact only up to 8 hex digits). */
  private def hash60Sql(e: String): String =
    s"""(CAST(list_sum(list_transform(generate_series(1, 7), k ->
       |    (strpos('0123456789abcdef', substr(md5($e), CAST(k AS INT), 1)) - 1)
       |      * (16.0 ** (7 - k)))) AS BIGINT) << 32)
       | + CAST(list_sum(list_transform(generate_series(8, 15), k ->
       |    (strpos('0123456789abcdef', substr(md5($e), CAST(k AS INT), 1)) - 1)
       |      * (16.0 ** (15 - k)))) AS BIGINT)""".stripMargin

  /** Shared CTE chain mirroring [[Similarity.kmeansCentroids]] over the
    * embeddings table: `unit` (unit-normalized corpus), seed `c0` (first
    * `nCent` vectors by vec_id, re-ids 0..nCent-1), then `iters` UNROLLED
    * Lloyd steps a{i} (max-cosine assignment, ties to the smallest
    * cent_id) / m{i} (per-dimension mean) / c{i} (re-normalized, empty or
    * zero-norm cell keeps the previous centroid); ends with
    * `cent(cent_id, centv)`. Engines can diverge only where a vector sits
    * within float-noise of equidistant between two centroids (measure
    * zero for these embeddings), and the cosines scored downstream are
    * centroid-independent, so the mirror is hash-stable.
    *
    * `nCentSql` is a SQL expression (a literal like `"16"`, or a scalar
    * subquery against an `extraCte` such as a COUNT(*)-derived `params` —
    * the Dedup.autoClusters mirror); `extraCte` is spliced between `unit`
    * and `c0` so it can reference `e`/`unit`. */
  private def kmeansCtes(nCentSql: String, iters: Int, extraCte: String = ""): String = {
    val head =
      s""" e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | unit AS (
         |  SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
         |  FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
         |  WHERE nrm > 0
         | ),""".stripMargin +
        (if (extraCte.isEmpty) "" else s"\n $extraCte,") +
      "\n" + kmeansStepsCte(nCentSql, iters)
    head
  }

  /** The strided seed pick as a CTE body, mirroring the Spark side's
    * `Similarity.stridedIdx` RANK-FOR-RANK: k rows at ranks 0, s, 2s,
    * … ((k−1)·s) of the vid-ordered unit rows, s = n/k integer (all n
    * rows when n ≤ k). Seeds used to be the first k by vid — the
    * OLDEST data under append-only growth, which made a
    * drift-triggered retrain unable to adapt (see stridedIdx's
    * scaladoc); both engines moved together so the hash compare stays
    * exact. `kSql` may be any scalar SQL (d24 passes a subquery). */
  private def stridedSeedSelect(kSql: String, unitCte: String,
      outId: String, outVec: String): String =
    s"""  SELECT CASE WHEN kn.n <= kn.k THEN u.rn
       |              ELSE u.rn // (kn.n // kn.k) END AS $outId,
       |         u.uv AS $outVec
       |  FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rn, uv
       |        FROM $unitCte) u,
       |       (SELECT (SELECT count(*) FROM $unitCte) AS n, ($kSql) AS k) kn
       |  WHERE CASE WHEN kn.n <= kn.k THEN u.rn < kn.k
       |             ELSE u.rn % (kn.n // kn.k) = 0
       |                  AND u.rn // (kn.n // kn.k) < kn.k END""".stripMargin

  /** The headless Lloyd chain of [[kmeansCtes]] — seed `c0` through
    * `cent(cent_id, centv)` over an existing `unit` CTE, so it can
    * compose with other chains that bring their own head (the v12/v13
    * residual-PQ mirror). `pfx` renames every CTE (`<pfx>c0` …
    * `<pfx>cent`) and `unitCte` points the chain at a different source,
    * so TWO Lloyd chains can coexist in one statement — the d24 mirror
    * runs the fine chain over the corpus and a coarse chain over the
    * fine chain's own centroid table. */
  private def kmeansStepsCte(nCentSql: String, iters: Int,
      pfx: String = "", unitCte: String = "unit"): String = {
    val head =
      s""" ${pfx}c0 AS (
         |${stridedSeedSelect(nCentSql, unitCte, "cent_id", "centv")}
         | )""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s""" ${pfx}a$i AS (
         |  SELECT cent_id, uv FROM (
         |   SELECT u.uv, c.cent_id,
         |          ROW_NUMBER() OVER (PARTITION BY u.vec_id
         |            ORDER BY list_dot_product(u.uv, c.centv) DESC, c.cent_id) AS rn
         |   FROM $unitCte u CROSS JOIN ${pfx}c$p c) WHERE rn = 1
         | ),
         | ${pfx}m$i AS (
         |  SELECT cent_id, list(mx ORDER BY pos) AS mv
         |  FROM (SELECT cent_id, pos, avg(x) AS mx
         |        FROM (SELECT cent_id, unnest(uv) AS x,
         |                     generate_subscripts(uv, 1) AS pos FROM ${pfx}a$i)
         |        GROUP BY cent_id, pos)
         |  GROUP BY cent_id
         | ),
         | ${pfx}c$i AS (
         |  SELECT p.cent_id,
         |         CASE WHEN m.mv IS NULL THEN p.centv
         |              WHEN m.mn = 0 THEN p.centv
         |              ELSE list_transform(m.mv, x -> x / m.mn) END AS centv
         |  FROM ${pfx}c$p p LEFT JOIN (SELECT cent_id, mv,
         |                               sqrt(list_dot_product(mv, mv)) AS mn
         |                        FROM ${pfx}m$i) m USING (cent_id)
         | )""".stripMargin
    }
    val cent = s" ${pfx}cent AS (SELECT cent_id, centv FROM ${pfx}c$iters)"
    (head +: steps :+ cent).mkString(",\n")
  }

  /** Product-quantization oracle chain (v9/v10): per-subspace Euclidean
    * Lloyd in SQL — assignment ranks on `dot(x, c) - 0.5 * dot(c, c)`,
    * the exact score the Spark side computes through the augmented
    * `best_centroid` dot (the -0.5 factor is a power-of-two scale, so
    * the doubles are bit-identical), ties to the lowest code, an emptied
    * code keeps its previous centroid, seeds are the subvector slices of
    * `codes` unit vectors STRIDED across the id order
    * ([[stridedSeedSelect]]). Produces CTEs: `e`, `unit`,
    * `seed`, per sub `s{s}_c0..c{iters}` (codebooks) and `s{s}_enc`, and
    * the joined `enc(vec_id, c0..c{m-1})`.
    *
    * `src` is the (vec_id, uv) CTE the codebooks train on and encode —
    * `unit` for PQ-on-the-vector (v9/v10/v11), the residual CTE spliced
    * in through `extraCte` for the IVFADC mirror (v12/v13); `extraCte`
    * lands between `unit` and `seed` so it can reference both. */
  private def pqCtes(m: Int, codes: Int, iters: Int, dims: Int,
                     extraCte: String = "", src: String = "unit"): String = {
    val d = dims / m
    def lo(s: Int) = s * d + 1
    def hi(s: Int) = s * d + d
    val head =
      s""" e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | unit AS (
         |  SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
         |  FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
         |  WHERE nrm > 0
         | ),""".stripMargin +
        (if (extraCte.isEmpty) "" else s"\n$extraCte,") +
      s"""
         | seed AS (
         |${stridedSeedSelect(codes.toString, src, "code", "uv")}
         | )""".stripMargin
    val subs = (0 until m).map { s =>
      val c0 =
        s""" s${s}_c0 AS (SELECT code, uv[${lo(s)}:${hi(s)}] AS cv FROM seed)"""
      val steps = (1 to iters).map { i =>
        val p = i - 1
        s""" s${s}_a$i AS (
           |  SELECT code, sv FROM (
           |   SELECT u.sv, c.code,
           |          ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY
           |            (list_dot_product(u.sv, c.cv)
           |             - 0.5 * list_dot_product(c.cv, c.cv)) DESC,
           |            c.code) AS rn
           |   FROM (SELECT vec_id, uv[${lo(s)}:${hi(s)}] AS sv FROM $src) u
           |   CROSS JOIN s${s}_c$p c) WHERE rn = 1
           | ),
           | s${s}_m$i AS (
           |  SELECT code, list(mx ORDER BY pos) AS mv
           |  FROM (SELECT code, pos, avg(x) AS mx
           |        FROM (SELECT code, unnest(sv) AS x,
           |                     generate_subscripts(sv, 1) AS pos FROM s${s}_a$i)
           |        GROUP BY code, pos)
           |  GROUP BY code
           | ),
           | s${s}_c$i AS (
           |  SELECT p.code, CASE WHEN m.mv IS NULL THEN p.cv ELSE m.mv END AS cv
           |  FROM s${s}_c$p p LEFT JOIN s${s}_m$i m USING (code)
           | )""".stripMargin
      }
      val encS =
        s""" s${s}_enc AS (
           |  SELECT vec_id, code AS c$s FROM (
           |   SELECT u.vec_id, c.code,
           |          ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY
           |            (list_dot_product(u.uv[${lo(s)}:${hi(s)}], c.cv)
           |             - 0.5 * list_dot_product(c.cv, c.cv)) DESC,
           |            c.code) AS rn
           |   FROM $src u CROSS JOIN s${s}_c$iters c) WHERE rn = 1
           | )""".stripMargin
      (c0 +: steps :+ encS).mkString(",\n")
    }
    val encFrom = (1 until m).foldLeft("s0_enc")((acc, s) =>
      s"$acc JOIN s${s}_enc USING (vec_id)")
    val enc =
      s""" enc AS (
         |  SELECT vec_id, ${(0 until m).map(s => s"c$s").mkString(", ")}
         |  FROM $encFrom
         | )""".stripMargin
    (head +: subs :+ enc).mkString(",\n")
  }

  /** The v9 ADC scoring tail over [[pqCtes]]'s `unit`/`enc`/codebooks. */
  private def pqScoredCte(m: Int, iters: Int, dims: Int): String = {
    val d = dims / m
    val dots = (0 until m).map(s =>
      s"list_dot_product(q.uv[${s * d + 1}:${s * d + d}], b$s.cv)")
      .mkString("\n         |             + ")
    val joins = (0 until m).map(s =>
      s"JOIN s${s}_c$iters b$s ON b$s.code = v.c$s").mkString("\n         |  ")
    s""" scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |         ROUND($dots, 4) AS score
       |  FROM (SELECT * FROM unit WHERE vec_id < 20) q
       |  CROSS JOIN enc v
       |  $joins
       |  WHERE v.vec_id <> q.vec_id
       | )""".stripMargin
  }

  /** The v11 IVF+PQ scoring tail over [[pqCtes]]: coarse cells are the
    * first `nCentroids` unit vectors by id (cent_id = array position,
    * the Spark side's `coarseLit` order), assignment and probing rank on
    * the plain unit-vector dot (ties to the lowest cell — the
    * `best_centroid(normalize = false)` contract), and ADC scoring is
    * restricted to the probed cells via the cell-key join. */
  private def ivfPqScoredCte(
      m: Int, iters: Int, dims: Int, nCentroids: Int, nProbe: Int): String = {
    val d = dims / m
    val dots = (0 until m).map(s =>
      s"list_dot_product(p.uv[${s * d + 1}:${s * d + d}], b$s.cv)")
      .mkString("\n         |             + ")
    val joins = (0 until m).map(s =>
      s"JOIN s${s}_c$iters b$s ON b$s.code = v.c$s").mkString("\n         |  ")
    s""" coarse AS (
       |${stridedSeedSelect(nCentroids.toString, "unit", "cent_id", "centv")}
       | ),
       | cassign AS (
       |  SELECT vec_id, cent_id FROM (
       |   SELECT u.vec_id, c.cent_id,
       |          ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY
       |            list_dot_product(u.uv, c.centv) DESC, c.cent_id) AS rn
       |   FROM unit u CROSS JOIN coarse c) WHERE rn = 1
       | ),
       | probes AS (
       |  SELECT query_id, uv, cent_id FROM (
       |   SELECT q.vec_id AS query_id, q.uv, c.cent_id,
       |          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |            list_dot_product(q.uv, c.centv) DESC, c.cent_id) AS rn
       |   FROM (SELECT * FROM unit WHERE vec_id < 20) q CROSS JOIN coarse c)
       |  WHERE rn <= $nProbe
       | ),
       | scored AS (
       |  SELECT p.query_id, v.vec_id AS neighbor_id,
       |         ROUND($dots, 4) AS score
       |  FROM probes p
       |  JOIN cassign a ON a.cent_id = p.cent_id
       |  JOIN enc v ON v.vec_id = a.vec_id
       |  $joins
       |  WHERE v.vec_id <> p.query_id
       | )""".stripMargin
  }

  /** The residual-encoding preamble for the v12/v13 IVFADC mirror,
    * spliced into [[pqCtes]] as `extraCte` with `src = "rv"`: the
    * Lloyd-refined coarse cells of [[kmeansStepsCte]] rank assignment
    * and probing (unit centroids, plain-dot argmax, ties low — the
    * shared cosine contract), `mu` is each cell's UN-normalized mean
    * (the Jégou shift that minimizes residual norm — see the Spark-side
    * scaladoc for the measured recall ladder), and
    * `rv(vec_id, cent_id, uv)` = each vector's element-wise residual to
    * its cell mean — the frame the PQ chain trains on and encodes. */
  private def ivfResidualCte(nCentroids: Int, kmIters: Int): String =
    s"""${kmeansStepsCte(nCentroids.toString, kmIters)},
       | cassign AS (
       |  SELECT vec_id, cent_id FROM (
       |   SELECT u.vec_id, c.cent_id,
       |          ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY
       |            list_dot_product(u.uv, c.centv) DESC, c.cent_id) AS rn
       |   FROM unit u CROSS JOIN cent c) WHERE rn = 1
       | ),
       | mu AS (
       |  SELECT cent_id, list(mx ORDER BY pos) AS muv
       |  FROM (SELECT cent_id, pos, avg(x) AS mx
       |        FROM (SELECT a.cent_id, unnest(u.uv) AS x,
       |                     generate_subscripts(u.uv, 1) AS pos
       |              FROM unit u JOIN cassign a USING (vec_id))
       |        GROUP BY cent_id, pos)
       |  GROUP BY cent_id
       | ),
       | rv AS (
       |  SELECT u.vec_id, a.cent_id,
       |         list_transform(list_zip(u.uv, m.muv), x -> x[1] - x[2]) AS uv
       |  FROM unit u JOIN cassign a USING (vec_id) JOIN mu m USING (cent_id)
       | )""".stripMargin

  /** The v12 scoring tail over the residual chain: probes rank cells on
    * the unit-centroid dot, and the score opens with `q·μ` (the probed
    * cell's un-normalized mean) followed by the m residual-codebook
    * lookups — left-associated exactly like the Spark side's reduce,
    * then 1e-4-rounded. */
  private def ivfPqResidualScoredCte(
      m: Int, iters: Int, dims: Int, nProbe: Int): String = {
    val d = dims / m
    val dots = (0 until m).map(s =>
      s"list_dot_product(p.uv[${s * d + 1}:${s * d + d}], b$s.cv)")
      .mkString("\n         |             + ")
    val joins = (0 until m).map(s =>
      s"JOIN s${s}_c$iters b$s ON b$s.code = v.c$s").mkString("\n         |  ")
    s""" probes AS (
       |  SELECT query_id, uv, cent_id FROM (
       |   SELECT q.vec_id AS query_id, q.uv, c.cent_id,
       |          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |            list_dot_product(q.uv, c.centv) DESC, c.cent_id) AS rn
       |   FROM (SELECT * FROM unit WHERE vec_id < 20) q CROSS JOIN cent c)
       |  WHERE rn <= $nProbe
       | ),
       | scored AS (
       |  SELECT p.query_id, v.vec_id AS neighbor_id,
       |         ROUND(list_dot_product(p.uv, cm.muv)
       |             + $dots, 4) AS score
       |  FROM probes p
       |  JOIN mu cm ON cm.cent_id = p.cent_id
       |  JOIN cassign a ON a.cent_id = p.cent_id
       |  JOIN enc v ON v.vec_id = a.vec_id
       |  $joins
       |  WHERE v.vec_id <> p.query_id
       | )""".stripMargin
  }

  /** The t30/t31 logistic-GD oracle chain (over [[wCte]]'s `w`): features
    * are the ROUNDED t1 stats surface, the label the UNROUNDED t15 gate,
    * and every corpus sum — the standardization pass's means/second
    * moments and each unrolled iteration's gradient contributions — is
    * exact 1e-8 fixed-point int64, the same contract as
    * Classifier.trainLogistic, so both engines derive bit-identical
    * mu/sd and walk bit-identical weights. Produces CTEs `feat` (raw),
    * `sf` (standardized), `wt0..wt{iters}`, `scored(doc_id, z, y)`. */
  private def logitCtes(iters: Int, lr: String): String = {
    val stop = inList("t", TextFunctions.Stopwords)
    val nf = 6
    val punct =
      "(length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm)"
    val feat =
      s""" feat AS (
         |  SELECT doc_id,
         |         1.0 AS x0,
         |         LEAST(nt, 100) / 100.0 AS x1,
         |         ROUND(len(list_distinct(ws)) * 1.0 / nt, 4) AS x2,
         |         ROUND((length(norm) - (nt - 1)) * 1.0 / nt, 4) / 10.0 AS x3,
         |         ROUND($punct, 4) AS x4,
         |         ROUND(len(list_filter(ws, t -> $stop)) * 1.0 / nt, 4) AS x5,
         |         CASE WHEN (nt BETWEEN 20 AND 80)
         |               AND len(list_distinct(ws)) * 1.0 / nt >= 0.4
         |               AND len(list_filter(ws, t -> $stop)) * 1.0 / nt >= 0.05
         |               AND $punct <= 0.1
         |               AND ((length(norm) - (nt - 1)) * 1.0 / nt BETWEEN 3.0 AND 6.0)
         |              THEN 1.0 ELSE 0.0 END AS y
         |  FROM w
         | )""".stripMargin
    // Standardization pass, mirroring Classifier.trainLogistic: exact
    // fixed-point sums of x_j and x_j^2, then mu = (m/1e8)/n, v = q - mu^2,
    // sd = sqrt(v) when v > the 1e-12 variance floor else the 0.0
    // constant-feature sentinel (standardized value pinned to 0).
    val stSums = (1 until nf).flatMap(j => Seq(
      s"CAST(SUM(CAST(ROUND(x$j * 100000000.0) AS BIGINT)) AS BIGINT) AS m$j",
      s"CAST(SUM(CAST(ROUND(x$j * x$j * 100000000.0) AS BIGINT)) AS BIGINT) AS q$j"))
      .mkString(",\n         |         ")
    val mvExprs = (1 until nf).flatMap(j => Seq(
      s"(m$j / 100000000.0) / n AS mu$j",
      s"((q$j / 100000000.0) / n) - ((m$j / 100000000.0) / n) * ((m$j / 100000000.0) / n) AS v$j"))
      .mkString(",\n         |         ")
    val sdExprs = (1 until nf).map(j =>
      s"mu$j, CASE WHEN v$j > 0.000000000001 THEN sqrt(v$j) ELSE 0.0 END AS sd$j")
      .mkString(",\n         |         ")
    val sfExprs = (1 until nf).map(j =>
      s"CASE WHEN sd$j = 0.0 THEN 0.0 ELSE (x$j - mu$j) / sd$j END AS x$j")
      .mkString(",\n         |         ")
    val standardize =
      s""" st AS (
         |  SELECT $stSums,
         |         COUNT(*) AS n
         |  FROM feat
         | ),
         | mv AS (
         |  SELECT $mvExprs
         |  FROM st
         | ),
         | mu AS (
         |  SELECT $sdExprs
         |  FROM mv
         | ),
         | sf AS (
         |  SELECT doc_id, 1.0 AS x0,
         |         $sfExprs,
         |         y
         |  FROM feat CROSS JOIN mu
         | )""".stripMargin
    val wt0 =
      " wt0 AS (SELECT " + (0 until nf).map(j => s"0.0 AS b$j").mkString(", ") + ")"
    val zExpr = (0 until nf).map(j => s"b$j * x$j").mkString(" + ")
    val steps = (1 to iters).map { i =>
      val p = i - 1
      val sums = (0 until nf).map(j =>
        s"CAST(SUM(CAST(ROUND(r * x$j * 100000000.0) AS BIGINT)) AS BIGINT) AS s$j")
        .mkString(",\n         |         ")
      val upd = (0 until nf).map(j =>
        s"b$j - $lr * ((s$j / 100000000.0) / n) AS b$j")
        .mkString(",\n         |         ")
      s""" p$i AS (
         |  SELECT f.*, 1.0 / (1.0 + exp(-($zExpr))) - y AS r
         |  FROM sf f CROSS JOIN wt$p
         | ),
         | g$i AS (
         |  SELECT $sums,
         |         COUNT(*) AS n
         |  FROM p$i
         | ),
         | wt$i AS (
         |  SELECT $upd
         |  FROM wt$p CROSS JOIN g$i
         | )""".stripMargin
    }
    val scored =
      s""" scored AS (
         |  SELECT doc_id, $zExpr AS z, y
         |  FROM sf CROSS JOIN wt$iters
         | )""".stripMargin
    (feat +: standardize +: wt0 +: steps :+ scored).mkString(",\n")
  }

  /** Shared d13/d15 oracle body: max-cosine cluster assignment over the
    * supplied k-means CTE chain, then the within-cluster pair join —
    * identical for the pinned-k and auto-k (Dedup.autoClusters) configs. */
  private def semDedupSql(kmeans: String): String =
    s"""WITH $kmeans,
       | assign AS (
       |  SELECT vec_id, v, cent_id FROM (
       |   SELECT e.vec_id, e.v, cent.cent_id,
       |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |            list_dot_product(v, centv)
       |              / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))) DESC,
       |            cent_id) AS rn
       |   FROM e, cent) WHERE rn = 1
       | ),
       | p AS (
       |  SELECT a.cent_id, a.vec_id AS doc_a, b.vec_id AS doc_b,
       |         ROUND(list_dot_product(a.v, b.v)
       |               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
       |  FROM assign a JOIN assign b USING (cent_id)
       |  WHERE a.vec_id < b.vec_id
       | )
       |SELECT cent_id, doc_a, doc_b, cosine FROM p
       |WHERE cosine >= 0.35
       |ORDER BY cent_id, doc_a, doc_b""".stripMargin

  /** Shared m8/m9 CTE chain: the dHash60 of every decodable synthesized
    * image, rebuilt from the md5 byte tables [[imagePayloads]] seeds each
    * group with — byte j of the 32-byte table is hex pair j of md5(g) ++
    * md5(g||'b') (seeds 'c'/'d' for the v3 unrelated pattern), cell
    * (x, y) reads byte (x + 11y) mod 32, % 240, plus the v2 one-cell +8
    * jitter; bit y·10+x of the hash is the luma(x,y) > luma(x+1,y)
    * gradient sign. The v1 2x upscale box-averages four equal pixels
    * back to the base cell, so v0 and v1 share the base formula —
    * which IS the resize's correctness statement. */
  /** SQL template: byte j (0-based) of a hex digest string, as the two
    * strpos-decoded hex digits — THE shared byte decode of both md5
    * pattern-table mirrors (m8-m11); args: (hex, j, hex, j). */
  private val md5ByteOfSql =
    "16 * (strpos('0123456789abcdef', substr(%s, 2 * (%s) + 1, 1)) - 1)" +
      " + (strpos('0123456789abcdef', substr(%s, 2 * (%s) + 2, 1)) - 1)"

  private lazy val imageHashCte = {
    val j = "(sx.x + sy.y * 11) % 32"
    val fromA = md5ByteOfSql.format("s.ha", j, "s.ha", j)
    val fromB = md5ByteOfSql.format("s.hb", s"$j - 16", "s.hb", s"$j - 16")
    s"""WITH ids AS (
       |  SELECT doc_id, CAST(doc_id % 4 AS INT) AS v, doc_id // 4 AS g
       |  FROM documents
       | ),
       | seeds AS (
       |  SELECT doc_id, v, g,
       |         CASE WHEN v = 3 THEN md5(CAST(g AS VARCHAR) || 'c')
       |              ELSE md5(CAST(g AS VARCHAR)) END AS ha,
       |         CASE WHEN v = 3 THEN md5(CAST(g AS VARCHAR) || 'd')
       |              ELSE md5(CAST(g AS VARCHAR) || 'b') END AS hb
       |  FROM ids WHERE doc_id % 97 <> 0
       | ),
       | cells AS (
       |  SELECT s.doc_id, sx.x, sy.y,
       |         ((CASE WHEN $j < 16 THEN $fromA ELSE $fromB END) % 240)
       |         + CASE WHEN s.v = 2 AND sx.x = 1 + s.g % 9
       |                     AND sy.y = s.g % 6 THEN 8 ELSE 0 END AS luma
       |  FROM seeds s, generate_series(0, 10) sx(x), generate_series(0, 5) sy(y)
       | ),
       | hashes AS (
       |  SELECT l.doc_id,
       |         CAST(SUM(CASE WHEN l.luma > r.luma
       |                       THEN (1::BIGINT << CAST(l.y * 10 + l.x AS INT))
       |                       ELSE 0 END) AS BIGINT) AS dhash
       |  FROM cells l
       |  JOIN cells r ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
       |  GROUP BY l.doc_id
       | )""".stripMargin
  }

  /** Shared m10/m11 CTE chain: the envelope dHash60 of every decodable
    * synthesized WAV, rebuilt from the same md5 byte tables — sample i =
    * 117 · byte[(5i + i mod 7) mod 32] plus the v2 one-window +100
    * jitter; 61 windows of exactly 4 samples (n = 244), energy = window
    * sum, bit w = energy(w) > energy(w+1). The v1 2x resample doubles
    * every energy exactly, so its hash mirrors through the base formula
    * — which IS the resample-invariance statement. */
  private lazy val audioHashCte = {
    val j = "(i.i * 5 + i.i % 7) % 32"
    val fromA = md5ByteOfSql.format("s.ha", j, "s.ha", j)
    val fromB = md5ByteOfSql.format("s.hb", s"$j - 16", "s.hb", s"$j - 16")
    s"""WITH ids AS (
       |  SELECT doc_id, CAST(doc_id % 4 AS INT) AS v, doc_id // 4 AS g
       |  FROM documents
       | ),
       | seeds AS (
       |  SELECT doc_id, v, g,
       |         CASE WHEN v = 3 THEN md5(CAST(g AS VARCHAR) || 'c')
       |              ELSE md5(CAST(g AS VARCHAR)) END AS ha,
       |         CASE WHEN v = 3 THEN md5(CAST(g AS VARCHAR) || 'd')
       |              ELSE md5(CAST(g AS VARCHAR) || 'b') END AS hb
       |  FROM ids WHERE doc_id % 97 <> 0
       | ),
       | samples AS (
       |  SELECT s.doc_id, i.i // 4 AS w,
       |         117 * (CASE WHEN $j < 16 THEN $fromA ELSE $fromB END)
       |         + CASE WHEN s.v = 2 AND i.i // 4 = 1 + s.g % 59
       |                THEN 100 ELSE 0 END AS smp
       |  FROM seeds s, generate_series(0, 243) i(i)
       | ),
       | energies AS (
       |  SELECT doc_id, w, SUM(smp) AS e FROM samples GROUP BY doc_id, w
       | ),
       | ahashes AS (
       |  SELECT l.doc_id,
       |         CAST(SUM(CASE WHEN l.e > r.e
       |                       THEN (1::BIGINT << CAST(l.w AS INT))
       |                       ELSE 0 END) AS BIGINT) AS dhash
       |  FROM energies l
       |  JOIN energies r ON r.doc_id = l.doc_id AND r.w = l.w + 1
       |  GROUP BY l.doc_id
       | )""".stripMargin
  }

  /** Shared d3/d17 CTE chain: MinHash signatures (base hash = first 8 md5
    * hex digits masked to 31 bits, 64 affine permutations mod 2^31-1) and
    * the 16 × 4-row LSH band table `bands(doc_id, b, bh)`. Assumes `w`
    * (the tokenized corpus CTE) is already in scope. */
  private lazy val minhashBandCtes = minhashBandCtesFrom("w")

  /** [[minhashBandCtes]] over any w-shaped source CTE (doc_id, ws, nt) —
    * t40's near-dedup stage bands only the SURVIVORS of the earlier
    * gates, exactly like the engine. */
  private def minhashBandCtesFrom(src: String) =
    s""" sh AS (SELECT doc_id, $shListSql AS shingles FROM $src WHERE nt >= 3),
       | hs AS (
       |  SELECT doc_id,
       |         list_transform(shingles, s ->
       |           CAST(list_sum(list_transform(generate_series(1, 8), k ->
       |             (strpos('0123456789abcdef', substr(md5(s), CAST(k AS INT), 1)) - 1)
       |               * (16.0 ** (8 - k)))) AS BIGINT) & 2147483647) AS hs
       |  FROM sh
       | ),
       | sig AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, 63),
       |           i -> list_min(list_transform(hs,
       |                  h -> ((2 * i + 1) * h + i * 40503 + 12345) % 2147483647))) AS sig
       |  FROM hs
       | ),
       | bandrows AS (SELECT doc_id, sig, unnest(generate_series(0, 15)) AS b FROM sig),
       | bands AS (
       |  SELECT doc_id, b,
       |         md5(array_to_string(sig[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)], '_')) AS bh
       |  FROM bandrows
       | )""".stripMargin

  /** Shared t11/t17 oracle: the exact contamination computation — the
    * Bloom-prefiltered variant must reproduce it bit for bit. */
  private lazy val contaminationSql =
    s"""$wCte,
       | sh0 AS (SELECT DISTINCT doc_id, unnest($shListSql) AS sstr FROM w WHERE nt >= 3),
       | sh AS (SELECT doc_id, ${hash60Sql("sstr")} AS s FROM sh0),
       | bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
       | tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1),
       | hit AS (
       |  SELECT doc_id, COUNT(*) AS n_contaminated
       |  FROM sh WHERE s IN (SELECT s FROM bench) GROUP BY 1
       | )
       |SELECT d.doc_id AS doc_id,
       |       COALESCE(n_shingles, 0) AS n_shingles,
       |       COALESCE(n_contaminated, 0) AS n_contaminated,
       |       CASE WHEN n_shingles > 0
       |            THEN ROUND(COALESCE(n_contaminated, 0) * 1.0 / n_shingles, 4)
       |       END AS contamination
       |FROM documents d
       |LEFT JOIN tot ON d.doc_id = tot.doc_id
       |LEFT JOIN hit ON d.doc_id = hit.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Shared d4/d6 oracle: both CC implementations must produce the same
    * min-reachable component per node (transitive closure via DuckDB
    * recursive CTE). */
  private lazy val ccCtes =
    s"""WITH RECURSIVE ${wCte.stripPrefix("WITH ")},
       |${jaccardCtes()},
       | edges AS (
       |  SELECT doc_a, doc_b
       |  FROM inter
       |  JOIN sz sa ON doc_a = sa.doc_id
       |  JOIN sz sb ON doc_b = sb.doc_id
       |  WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.8
       | ),
       | sym AS (
       |  SELECT doc_a AS a, doc_b AS b FROM edges
       |  UNION SELECT doc_b, doc_a FROM edges
       |  UNION SELECT doc_a, doc_a FROM edges
       |  UNION SELECT doc_b, doc_b FROM edges
       | ),
       | reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
       | ),
       | comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)""".stripMargin

  private lazy val dedupClustersSql =
    s"""$ccCtes
       |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin

  /** The w3/w4 oracle's shared CTE chain: page universe + URL-alias
    * identity (uid / f05) + robots + extraction arithmetic, t2-style
    * language scores, the t15 quality expression, d1's content hash,
    * the d9 simhash chain over the exact-dedup survivors, and the
    * recursive component closure — `finalSelect` reads `pg` / `flags` /
    * `counts` / `f50` / `c50` / `f60` / `c60`. */
  private def crawlFunnelSql(finalSelect: String): String = {
    val langScores = TextFunctions.LangMarkers.map { case (l, m) =>
      s"          len(list_filter(ws, t -> ${inList("t", m)})) AS s_$l"
    }.mkString(",\n")
    s"""WITH RECURSIVE
       | pg0 AS (
       |  SELECT d.doc_id AS id, s.text AS text,
       |         CASE WHEN d.doc_id % 13 = 1 THEN d.doc_id - 1
       |              ELSE d.doc_id END AS uid,
       |         (d.doc_id % 89 <> 0) AS extract_ok
       |  FROM documents d JOIN documents s ON s.doc_id = d.doc_id - d.doc_id % 3
       |  WHERE d.doc_id % 97 <> 0
       | ),
       | pg AS (
       |  SELECT id, text, uid, extract_ok,
       |         ((uid % 11) <> ((uid % 7) + 1) % 11) AS allowed
       |  FROM pg0
       | ),
       | w AS (
       |  SELECT id, uid, allowed, extract_ok,
       |         regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm,
       |         regexp_split_to_array(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM pg
       | ),
       | sig0 AS (
       |  SELECT id, uid, allowed, extract_ok,
       |         md5(lower(norm)) AS hash,
       |         CASE GREATEST(s_de, s_en, s_es, s_fr, s_zh)
       |              WHEN s_de THEN 'de' WHEN s_en THEN 'en'
       |              WHEN s_es THEN 'es' WHEN s_fr THEN 'fr'
       |              ELSE 'zh' END AS predicted,
       |         (nt BETWEEN 20 AND 80) AND ttr >= 0.4 AND swr >= 0.05
       |           AND punct <= 0.1 AND (avg_len BETWEEN 3.0 AND 6.0) AS keep_q
       |  FROM (
       |   SELECT id, uid, allowed, extract_ok, norm, len(ws) AS nt,
       |$langScores,
       |          len(list_distinct(ws)) * 1.0 / len(ws) AS ttr,
       |          (length(norm) - (len(ws) - 1)) * 1.0 / len(ws) AS avg_len,
       |          (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
       |            / length(norm) AS punct,
       |          len(list_filter(ws, t -> ${inList("t", TextFunctions.Stopwords)})) * 1.0
       |            / len(ws) AS swr
       |   FROM w
       |  )
       | ),
       | sig AS (
       |  SELECT *,
       |         (id = COALESCE(
       |            MIN(CASE WHEN allowed AND extract_ok AND predicted = 'en'
       |                      AND keep_q THEN id END) OVER (PARTITION BY uid),
       |            MIN(id) OVER (PARTITION BY uid))) AS f05
       |  FROM sig0
       | ),
       | flags AS (
       |  SELECT id, hash,
       |         f05,
       |         f05 AND allowed AS f10,
       |         f05 AND allowed AND extract_ok AS f20,
       |         f05 AND allowed AND extract_ok AND predicted = 'en' AS f30,
       |         f05 AND allowed AND extract_ok AND predicted = 'en'
       |           AND keep_q AS f40
       |  FROM sig
       | ),
       | canon AS (
       |  SELECT id, f40,
       |         MIN(CASE WHEN f40 THEN id END) OVER (PARTITION BY hash) AS canon_id
       |  FROM flags
       | ),
       | f50 AS (SELECT id FROM canon WHERE f40 AND id = canon_id),
       | surv AS (SELECT w.id, ws, len(ws) AS nt FROM w JOIN f50 USING (id)),
       | tok AS (SELECT id, nt, unnest(ws) AS t FROM surv),
       | tokj AS (SELECT id, nt, t, unnest(generate_series(0, 59)) AS j FROM tok),
       | bits AS (
       |  SELECT id, nt, j,
       |         ((strpos('0123456789abcdef', substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
       |          >> CAST(3 - (j % 4) AS INT)) & 1 AS bit
       |  FROM tokj
       | ),
       | ones AS (SELECT id, nt, j, SUM(bit) AS ones FROM bits GROUP BY 1, 2, 3),
       | shh AS (
       |  SELECT id,
       |         CAST(SUM(CASE WHEN 2 * ones > nt THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS sh
       |  FROM ones GROUP BY 1
       | ),
       | banded AS (
       |  SELECT id, sh, b, (sh >> CAST(b * 15 AS INT)) & 32767 AS band_val
       |  FROM shh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb
       | ),
       | cand AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b, x.sh AS ha, y.sh AS hb
       |  FROM banded x JOIN banded y
       |    ON x.b = y.b AND x.band_val = y.band_val AND x.id < y.id
       | ),
       | edges AS (
       |  SELECT a, b FROM cand
       |  WHERE CAST(list_sum(list_transform(generate_series(0, 59),
       |          i -> CAST((xor(ha, hb) >> CAST(i AS INT)) & 1 AS INT))) AS INT) <= 10
       | ),
       | sym AS (
       |  SELECT a, b FROM edges UNION SELECT b, a FROM edges
       |  UNION SELECT a, a FROM edges UNION SELECT b, b FROM edges
       | ),
       | reach(a, b) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a
       | ),
       | comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a),
       | dropids AS (SELECT id FROM comp WHERE component <> id),
       | f60 AS (SELECT id FROM f50 WHERE id NOT IN (SELECT id FROM dropids)),
       | counts AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n00,
       |         CAST(COUNT(*) FILTER (WHERE f05) AS BIGINT) AS n05,
       |         CAST(COUNT(*) FILTER (WHERE f10) AS BIGINT) AS n10,
       |         CAST(COUNT(*) FILTER (WHERE f20) AS BIGINT) AS n20,
       |         CAST(COUNT(*) FILTER (WHERE f30) AS BIGINT) AS n30,
       |         CAST(COUNT(*) FILTER (WHERE f40) AS BIGINT) AS n40
       |  FROM flags
       | ),
       | c50 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n50 FROM f50),
       | c60 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n60 FROM f60)
       |$finalSelect""".stripMargin
  }

  /** Shared w3/w4 fixture + run: per-doc WARC files whose single
    * response wraps the text of the doc's GROUP HEAD (`id - id % 3` —
    * guaranteed exact-dup groups) in minimal HTML, t51's host/path and
    * robots arithmetic, garbage (non-WARC) files at id % 97 and
    * script-only bodies (empty extraction) at id % 89. Pages at
    * id % 13 = 1 are URL ALIASES: they carry the PREVIOUS page's
    * host/path plus tracking params (`?utm_source=...&fbclid=...`), so
    * the canonicalizer maps them onto page id-1's URL and the opt-in
    * 05_url_dedup stage drops them whenever the target page exists
    * (min-id keep; when id-1 is a garbage file the alias is the sole
    * holder of that canonical URL and survives). nearMaxHamming 10
    * matches d9 so the near-dedup stage actually bites on this
    * corpus. */
  private[testbed] def crawlRun(s: SparkSession, dir: String)
      : graft.pipeline.CrawlPipelineResult = {
    import s.implicits._
    val robotsDf = (0 until 7).map { k =>
      def c(m: Int) = ('a' + m).toChar
      (s"site$k.com",
        "User-agent: evilbot\nDisallow: /\n\n" +
          s"User-agent: *\nDisallow: /s${c(k)}\n" +
          s"Allow: /s${c(k)}/p\nDisallow: /s${c((k + 1) % 11)}\n")
    }.toDF("host", "robots_txt")
    val docs = table(s, dir, "documents")
    val src = docs.select(col("doc_id").as("src_id"), col("text").as("src_text"))
    val warc = docs
      .select(col("doc_id"), (col("doc_id") - col("doc_id") % 3).as("src_id"))
      .join(src, "src_id")
      .select(col("doc_id"), col("src_text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        if (id % 97 == 0) (id, "garbage not warc".getBytes("UTF-8"))
        else {
          // alias pages surface under their TARGET's URL + tracking query
          val u = if (id % 13 == 1) id - 1 else id
          val c = ('a' + (u % 11).toInt).toChar
          val qs = if (id % 13 == 1) s"?utm_source=feed&fbclid=x$id" else ""
          val body =
            if (id % 89 == 0)
              "<html><body><script>var x = 1;</script></body></html>"
            else s"<html><body><p>$text</p></body></html>"
          val rec = Warc.WarcRecord("response",
            Some(s"http://site${u % 7}.com/s$c/p$u$qs"),
            Some("2024-01-01T00:00:00Z"),
            Some("application/http; msgtype=response"),
            ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
              .getBytes("UTF-8"))
          val info = Warc.WarcRecord("warcinfo", None, None,
            Some("application/warc-fields"),
            "software: graft\r\n".getBytes("UTF-8"))
          (id, Warc.build(Seq(info, rec), gzipPerRecord = id % 2 == 0))
        }
      }).toDF("doc_id", "payload")
    graft.pipeline.CrawlPipeline.run(warc, "doc_id", Some(robotsDf),
      graft.pipeline.CrawlPipelineConfig(dedupUrl = true, nearMaxHamming = 10))
  }

  /** The w6/w9 Crawl-delay robots fixture: an evilbot group with a
    * punitive delay graftbot must NOT pick up, a graftbot-specific
    * override on host 5 (delay 7), '*' delays of k+1 elsewhere, and no
    * delay on k%3=0 hosts (the crawler default applies). */
  private def crawlDelayRobots(spark: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until 7).map { k =>
      val specific =
        if (k == 5) "User-agent: graftbot\nCrawl-delay: 7\n\n" else ""
      val star =
        if (k % 3 == 0) "User-agent: *\nDisallow: /private\n"
        else s"User-agent: *\nCrawl-delay: ${k + 1}\n"
      (s"site$k.com",
        "User-agent: evilbot\nCrawl-delay: 99\nDisallow: /\n\n" +
          specific + star)
    }.toDF("host", "robots_txt")
  }

  /** The w10 discovery fixture: per-host robots texts with `Sitemap:`
    * records interleaved BETWEEN the evilbot and `*` groups (extraction
    * must be group-independent — a group-scoped parser would attribute
    * them to evilbot and drop them): every host declares /sm0.xml, even
    * hosts also /sm1.xml, host 4 declares none (omitted from
    * discovery). */
  private def sitemapRobots(spark: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until 7).map { k =>
      val sm0 = s"Sitemap: http://site$k.com/sm0.xml\n"
      val sm1 = if (k % 2 == 0) s"Sitemap: http://site$k.com/sm1.xml\n" else ""
      val decls = if (k == 4) "" else sm0 + sm1
      (s"site$k.com",
        "User-agent: evilbot\nCrawl-delay: 99\nDisallow: /\n\n" +
          decls +
          s"User-agent: *\nCrawl-delay: ${k + 1}\n")
    }.toDF("host", "robots_txt")
  }

  /** The one shared crawl run w3 and w4 both read: each entry stays
    * independently hash-matched against its own oracle, but the ~8 s
    * pipeline (two WARC parses + gzip + HTML strip + simhash + CC at
    * sf0.1) executes ONCE per family instead of once per entry.
    * run() materializes `summary` eagerly (the funnel agg job);
    * `kept` is lazy, so w4 still pays — and its timing still measures —
    * the second WARC read + semi-join. */
  private def crawlShared(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    Fixtures.value(s, dir, "_crawl") {
      val res = crawlRun(s, dir)
      (res.summary.cache(), res.kept.cache())
    }

  // ---- the battery --------------------------------------------------------

  def queries: Map[String, Q] = Map(
    // D00: runs FIRST in the d family (d00 < d10) and materializes the
    // two corpus tables its entries read, so the first d-query does not
    // absorb the parquet scan + cache build (the a00_cube_warmup
    // convention). Verifiable in its own right: the corpus row counts.
    "d00_corpus_warmup" -> ((s, dir) => {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val Seq(nd, ne) = Await.result(
        Future.sequence(Seq(
          Future(table(s, dir, "documents").count()),
          Future(table(s, dir, "embeddings").count()))),
        Duration.Inf)
      // also compile the embedding-family plan shapes on a 64-row slice:
      // whole-stage codegen + JIT for the bucket/score/dedup pipeline is
      // one-time per JVM PER PLANE COUNT (the plane literals are baked
      // into the generated source), and without this the first query of
      // each config absorbs its compile, charging a one-time JVM cost to
      // whichever entry happens to run first
      // (tables, planes) pairs: both literals bake into the generated
      // source, so each shipped config warms separately — d16 (8, 4),
      // d8 (8, 7), d10 (8, auto), d7 (12, auto)
      val lshConfigs =
        Set((8, 4), (8, 7), (8, Dedup.autoPlanes(ne)),
          (12, Dedup.autoPlanes(ne)))
      lshConfigs.foreach { case (t, p) =>
        Dedup.embeddingNearDupPairs(table(s, dir, "embeddings").limit(64),
          "vec_id", "embedding", minCosine = 0.4, dims = 64, tables = t,
          planesPerTable = p).count()
      }
      val sess = s
      import sess.implicits._
      Seq(("documents", nd), ("embeddings", ne))
        .toDF("tbl", "n_rows").orderBy("tbl")
    }),

    // T1: per-document token/quality statistics (pure projection — scan speed)
    "t1_text_stats" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextFunctions.textStats("text").as("st"))
        .select(col("doc_id"), col("lang"), col("st.*"))
        .orderBy("doc_id")),

    // T2: marker-based language ID
    "t2_lang_id" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextFunctions.langId("text").as("li"))
        .select(col("doc_id"), col("lang"), col("li.*"))
        .orderBy("doc_id")),

    // T3: bag fingerprint + 60-bit SimHash (per-row higher-order exprs)
    "t3_fingerprint" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.bagFingerprint("text").as("bag_fingerprint"),
          TextFunctions.simHash("text").as("simhash"))
        .orderBy("doc_id")),

    // D1: exact dedup clusters on normalized-content hash
    "d1_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(table(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "content_hash", "cluster_size", "canonical_id", "is_duplicate")
        .orderBy("doc_id")),

    // D2: exact 3-gram Jaccard near-dup pairs (shingle co-occurrence join)
    "d2_jaccard_neardup" -> ((s, dir) =>
      jaccardEdges(s, dir).orderBy("doc_a", "doc_b")),

    // D19: asymmetric CONTAINMENT pairs — |A∩B| / min(|A|,|B|): catches a
    // short document embedded in a long one, which the Jaccard union
    // denominator drowns; `contained` names the smaller side
    "d19_containment" -> ((s, dir) =>
      Dedup.containmentPairs(table(s, dir, "documents"), "doc_id", "text",
          n = 3, minContainment = 0.8)
        .orderBy("doc_a", "doc_b")),

    // D4: duplicate clusters over the exact-Jaccard pair graph
    "d4_dedup_clusters" -> ((s, dir) => ccLabels(s, dir).orderBy("doc_id")),

    // D6: same clustering contract via large-star/small-star (O(log n)
    // rounds — the planetary-scale path); same oracle as d4
    "d6_dedup_clusters_star" -> ((s, dir) =>
      Fixtures.value(s, dir, "_cc_labels_star")(
        Dedup.connectedComponentsStar(jaccardEdges(s, dir))).orderBy("doc_id")),

    // D3: MinHash-LSH candidate pairs (64 hashes, 16 bands x 4)
    // D17: incremental-ingestion near-dup — a "batch" (doc_id >= 250)
    // probes the standing "reference" corpus (doc_id < 250) through the
    // same MinHash band machinery as d3; candidates form only ACROSS the
    // split, never reference², which is what makes re-ingestion cost
    // batch-proportional
    "d17_incremental_neardup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.incrementalNearDup(
          docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
          "doc_id", "text", n = 3, numHashes = 64, bands = 16)
        .orderBy("doc_id", "ref_id")
    }),

    // D18: chunk-grain exact dedup (repeated-passage removal) — 32-token
    // non-overlapping chunks, first occurrence canonical
    "d18_chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDedup(table(s, dir, "documents"), "doc_id", "text", size = 32)
        .orderBy("doc_id", "chunk_id")),

    "d3_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashCandidates(table(s, dir, "documents"), "doc_id", "text",
          n = 3, numHashes = 64, bands = 16)
        .orderBy("doc_a", "doc_b")),

    // D5: the 100 TB skew guard exercised — same exact-Jaccard join but
    // boilerplate shingles shared by > maxDocFreq docs are dropped before
    // pairing (changes n_shared/jaccard vs the uncapped d2 on this data)
    "d5_jaccard_capped" -> ((s, dir) =>
      Dedup.jaccardPairs(table(s, dir, "documents"), "doc_id", "text",
          n = 3, minJaccard = 0.8, maxDocFreq = Some(3))
        .orderBy("doc_a", "doc_b")),

    // V1: exact brute-force cosine top-5 for the first 20 vectors
    "v1_cosine_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // V2: multi-table hyperplane-LSH ANN top-3 (the 100 TB-partitionable
    // plan: candidates only meet inside a shared (table, bucket))
    "v2_ann_lsh" -> ((s, dir) =>
      ann3(s, dir).orderBy("query_id", "rank")),

    // V7: ANN quality gauge — recall@3 of the LSH ANN (the v2 config)
    // against the exact brute-force top-3 on the same query batch; both
    // inputs are result metadata (nQueries x k rows), so the judging join
    // costs nothing next to producing them
    "v7_ann_recall" -> ((s, dir) =>
      Similarity.recallAtK(ann3(s, dir), brute3(s, dir), k = 3)
        .orderBy("query_id")),

    // V9: product-quantization ADC top-3 — the memory-scale ANN path:
    // 4 subspaces x 16 codes over the 64-dim unit vectors (16 dims/sub),
    // 2 Euclidean Lloyd passes per subspace, scores = sum of 4 table
    // lookups. The oracle unrolls the per-subspace Lloyd + encode + ADC
    // sum in SQL with the identical seed/tie/empty-cluster contract.
    "v9_pq_topk" -> ((s, dir) =>
      pq3(s, dir).orderBy("query_id", "rank")),

    // V10: recall@3 of the PQ ADC top-k against the exact brute-force —
    // the compression/recall trade made measurable (same gauge as v7/v8)
    "v10_pq_recall" -> ((s, dir) =>
      Similarity.recallAtK(pq3(s, dir), brute3(s, dir), k = 3)
        .orderBy("query_id")),

    // V11: IVF + PQ composed — the coarse quantizer prunes WHICH vectors
    // a query scores (4 of 16 cells probed), the PQ codes decide what the
    // stored corpus IS; the oracle restricts the v9 ADC chain to the
    // probed cells with the identical coarse assign/probe tie contract
    "v11_ivfpq_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 3, dims = 64, nCentroids = 16, nProbe = 4, m = 4, codes = 16, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // V12: IVFADC proper — the Jégou §IV residual refinement of v11: the
    // PQ codebooks train on and encode each vector's residual to its
    // coarse centroid, and the score recomposes as q·centroid + the m
    // residual lookups; same index bytes, resolution spent on the
    // within-cell spread
    "v12_ivfpq_residual_topk" -> ((s, dir) =>
      resid3(s, dir).orderBy("query_id", "rank")),

    // V13: recall@3 of the residual form against exact brute-force — read
    // next to v10 (vector-encoding PQ) and v8 (IVF-Flat), this quantifies
    // what the residual refinement buys at identical m x codes budget
    "v13_ivfpq_residual_recall" -> ((s, dir) =>
      Similarity.recallAtK(resid3(s, dir), brute3(s, dir), k = 3)
        .orderBy("query_id")),

    // D7: embedding-cosine near-dup pairs at the HIGHER-RECALL table
    // count — 12 tables instead of d10's 8, planes auto-derived
    // ([[Dedup.autoPlanes]]) like every shipped config, so occupancy
    // (and the within-bucket quadratic join) stays bounded at any
    // corpus size. The fixed-4-plane scale trap this entry used to pin
    // lives on as a CorpusOpsSpec demonstration (Σocc² growth), not as
    // a shipped query. (The synthetic embeddings have no true
    // near-dups, so the threshold sits in the distribution tail to
    // exercise the pipeline.)
    "d7_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(table(s, dir, "embeddings"), "vec_id", "embedding",
          minCosine = 0.4, dims = 64, tables = 12)
        .orderBy("doc_a", "doc_b")),

    // D8: the occupancy-bounded configuration of the same operator —
    // 7 planes = 128 buckets/table keeps per-bucket occupancy (and so the
    // quadratic within-bucket join) bounded as the corpus grows; SCALE.md
    // measures d7 (16 buckets) quadratic vs this linear at 10×
    "d8_embedding_neardup_bounded" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(table(s, dir, "embeddings"), "vec_id", "embedding",
          minCosine = 0.4, dims = 64, tables = 8, planesPerTable = 7)
        .orderBy("doc_a", "doc_b")),

    // D10: the DEFAULT config of the same operator — planesPerTable
    // auto-derived from the corpus count (Dedup.autoPlanes), so occupancy
    // (and the within-bucket quadratic join) stays bounded at ANY corpus
    // size; the oracle derives the identical count from COUNT(*)
    "d10_embedding_neardup_auto" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(table(s, dir, "embeddings"), "vec_id", "embedding",
          minCosine = 0.4, dims = 64, tables = 8)
        .orderBy("doc_a", "doc_b")),

    // D16: the occupancy-capped config — (t, bucket) cells above the cap
    // (degenerate directions: dead-encoder zeros, template boilerplate)
    // drop whole before any pair forms, bounding both the quadratic pair
    // work and this plan's per-group memory; cap chosen to actually bite
    // on this corpus (4 planes -> mean occupancy ~ n/16 per table)
    "d16_embedding_neardup_capped" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(table(s, dir, "embeddings"), "vec_id", "embedding",
          minCosine = 0.4, dims = 64, tables = 8, planesPerTable = 4,
          maxBucketOccupancy = Some(30))
        .orderBy("doc_a", "doc_b")),

    // D14: winnowing near-dup pairs (the MOSS report shape) — pairs meet
    // only through a shared selected fingerprint, boilerplate-capped,
    // scored by containment-style overlap
    "d14_winnow_neardup" -> ((s, dir) =>
      Dedup.winnowPairs(table(s, dir, "documents"), "doc_id", "text",
          n = 3, window = 4, minShared = 3, maxHashFreq = Some(50))
        .orderBy("doc_a", "doc_b")),

    // D13: SemDeDup — spherical-k-means-clustered semantic near-dup pairs;
    // the cluster id keys the pair join (per-cluster-quadratic, never
    // corpus-quadratic), and the full k-means chain is oracle-mirrored
    "d13_semdedup" -> ((s, dir) =>
      Dedup.semDedupPairs(table(s, dir, "embeddings"), "vec_id", "embedding",
          minCosine = 0.35, nClusters = 16, kmeansIters = 3)
        .orderBy("cent_id", "doc_a", "doc_b")),

    // D15: the DEFAULT config — nClusters auto-derived from the corpus
    // count (Dedup.autoClusters), so expected cluster size (and the
    // per-cluster quadratic pair join) stays bounded at any corpus size;
    // the oracle derives the identical k from COUNT(*)
    "d15_semdedup_auto" -> ((s, dir) =>
      Dedup.semDedupPairs(table(s, dir, "embeddings"), "vec_id", "embedding",
          minCosine = 0.35, kmeansIters = 3)
        .orderBy("cent_id", "doc_a", "doc_b")),

    // D24: hierarchical SemDeDup — the d15 surface with assignment through
    // the IVF-of-centroids two-level argmax (coarse k-means over the fine
    // centroid table, 2 probes) — the n·√k scale path for the auto-k
    // regime where flat assignment is n·k ~ quadratic; the oracle mirrors
    // BOTH Lloyd chains and the probe/argmax decision structurally, so
    // the hash compare pins every tie-break of the two-level assignment
    "d24_semdedup_hier" -> ((s, dir) =>
      Dedup.semDedupPairsHier(table(s, dir, "embeddings"), "vec_id",
          "embedding", minCosine = 0.35, kmeansIters = 3,
          nProbe = 2, coarseIters = 2)
        .orderBy("cent_id", "doc_a", "doc_b")),

    // D25: SEMANTIC decontamination — the embedding-space complement of
    // t25's n-gram gate: corpus vectors within cosine 0.4 of ANY
    // eval-set vector (vec_id < 20, the v1 query convention) drop.
    // At this threshold the gate bites on GENUINE semantic neighbors
    // (24 drops at sf0.01: the 20 in-corpus eval self-matches plus 4
    // non-identical neighbors), not just identity. Kept ids only — the
    // decision set, not float payloads, is the contract
    "d25_semantic_decon" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Dedup.semanticDecontaminate(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", minCosine = 0.4)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

    // V4: IVF top-3 with Lloyd-refined (spherical k-means) centroids —
    // fully oracle-mirrored (the Lloyd iterations unroll into SQL CTEs);
    // CorpusOpsSpec additionally asserts the monotone-objective and
    // recall-band properties against brute force
    "v4_ann_ivf_refined" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 3, nCentroids = 16, nProbe = 4, refineIters = 3)
        .orderBy("query_id", "rank")
    }),

    // V6: int8 scalar-quantized brute-force top-3 — integer dot scores,
    // bit-exact across engines (no float rounding boundary); the 8×
    // memory-compression scale path
    "v6_quantized_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rank")
    }),

    // T6: BPE-ish token counting next to the whitespace count — the LLM
    // budget estimator pair
    "t6_token_count" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        size(TextFunctions.tokens("text")).as("n_ws_tokens"),
        TextFunctions.bpeTokenCount("text").as("n_bpe_tokens"))
        .orderBy("doc_id")),

    // T7: winnowing rolling-hash fingerprints (window 4 over 3-gram hashes)
    "t7_winnowing" -> ((s, dir) =>
      Dedup.winnowFingerprints(table(s, dir, "documents"), "doc_id", "text",
          n = 3, window = 4)
        .orderBy("doc_id")),

    // V3: IVF ANN top-3 (16 first-vector centroids, 4 probes) — the
    // cell-partitioned scale path; assignment + probe both oracle-mirrored
    "v3_ivf_topk" -> ((s, dir) =>
      ivf3(s, dir).orderBy("query_id", "rank")),

    // V8: the IVF side of the ANN quality gauge — recall@3 of ivfTopK
    // (the v3 config) vs the exact top-3; with v7 this puts both index
    // families on the same recall/cost axis
    "v8_ivf_recall" -> ((s, dir) =>
      Similarity.recallAtK(ivf3(s, dir), brute3(s, dir), k = 3)
        .orderBy("query_id")),

    // T4: PII scrubbing — synthetic emails/URLs/phones injected per doc,
    // detected and redacted (docs 0-9 get a too-short phone that must NOT
    // match — the patterns are exercised both ways)
    "t4_pii_scrub" -> ((s, dir) => {
      val withPii = table(s, dir, "documents").withColumn("text2",
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or https://site"),
          col("doc_id"), lit(".org tel 555-0"), col("doc_id")))
      withPii.select(
        col("doc_id"),
        regexp_count(col("text2"), lit(TextFunctions.EmailPattern)).as("n_emails"),
        regexp_count(col("text2"), lit(TextFunctions.UrlPattern)).as("n_urls"),
        regexp_count(col("text2"), lit(TextFunctions.PhonePattern)).as("n_phones"),
        md5(TextFunctions.scrubPii("text2")).as("scrubbed_hash"))
        .orderBy("doc_id")
    }),

    // T5: corpus vocabulary stats per language; the exact distinct count
    // runs through the skew-safe salted aggregation
    "t5_vocab_stats" -> ((s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("lang"), explode(TextFunctions.tokens("text")).as("t"))
      val totals = toks.groupBy("lang").agg(count(lit(1)).as("n_tokens"))
      totals.join(Salted.saltedCountDistinct(toks, Seq("lang"), "t", buckets = 16), "lang")
        .orderBy("lang")
    }),

    // T8: exact per-language quality-score quantiles (linear interpolation
    // on both engines) — the corpus-distribution step that picks quality
    // filter thresholds before sampling
    "t8_quality_quantiles" -> ((s, dir) => {
      val st = table(s, dir, "documents")
        .select(col("lang"), TextFunctions.textStats("text").as("st"))
        .select(col("lang"), col("st.quality_score").as("q"))
      val out = Sampling.exactQuantiles(st, Seq("lang"), "q",
        Seq(0.25, 0.5, 0.75, 0.9), Seq("q25", "q50", "q75", "q90"))
      Seq("q25", "q50", "q75", "q90")
        .foldLeft(out)((d, c) => d.withColumn(c, round(col(c), 4)))
        .orderBy("lang")
    }),

    // T39: quality-CDF decile assignment — the quality-calibration pass
    // of mixture reweighting (DoReMi-style bucketed mixing): 9 exact
    // global thresholds (one agg, rounded 4dp so the bin comparisons are
    // engine-exact against the 4dp quality values), broadcast, then the
    // decile is a pure projection — the corpus never shuffles for its bin
    "t39_quality_deciles" -> ((s, dir) => {
      val st = table(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.textStats("text").getField("quality_score").as("q"))
      val thr = st.agg(expr(
          "percentile(q, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("t0"))
        .select(transform(col("t0"), t => round(t, 4)).as("thr"))
      st.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("q"),
          (size(filter(col("thr"), t => col("q") > t)) + 1).as("decile"))
        .orderBy("doc_id")
    }),

    // T18: sketch-based quantiles — the one-pass bounded-state scale path
    // for t8's thresholds. Sketch values are engine-dependent (genuine data
    // points, no interpolation), so the battery emits the sketch's RANK
    // ERROR GUARANTEE instead of the raw values: for each probability p the
    // returned value v must satisfy |rank(v)/n - p| <= 1/accuracy (+1/n
    // discreteness slack) — count(q<=v) >= (p-eps)n and count(q<v) <=
    // (p+eps)n. The oracle asserts the booleans universally TRUE; exact
    // value behavior stays spec-verified in CurationOpsSpec.
    "t18_quality_quantiles_approx" -> ((s, dir) => {
      val probs = Seq(0.25, 0.5, 0.75, 0.9)
      val names = Seq("q25", "q50", "q75", "q90")
      val acc = 1000
      val st = table(s, dir, "documents")
        .select(col("lang"), TextFunctions.textStats("text").as("st"))
        .select(col("lang"), col("st.quality_score").as("q"))
      val sketch = Sampling.approxQuantiles(st, Seq("lang"), "q",
        probs, names, accuracy = acc)
      val counted = st.join(broadcast(sketch), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          (names.flatMap(nm => Seq(
            sum(when(col("q") <= col(nm), 1L).otherwise(0L)).as(s"le_$nm"),
            sum(when(col("q") < col(nm), 1L).otherwise(0L)).as(s"lt_$nm")))): _*)
      val eps = lit(1.0 / acc) + lit(1.0) / col("n_docs")
      counted.select(
        col("lang") +: col("n_docs") +:
          probs.zip(names).map { case (p, nm) =>
            ((col(s"le_$nm") >= (lit(p) - eps) * col("n_docs")) &&
              (col(s"lt_$nm") <= (lit(p) + eps) * col("n_docs"))).as(s"${nm}_ok")
          }: _*)
        .orderBy("lang")
    }),

    // T9: deterministic stratified sampling for language mixing — the
    // per-row md5-threshold decision is reproducible bit-for-bit across
    // engines and cluster sizes (no RNG, no partitioning dependence), so
    // the oracle matches the sampled ROWS, not just the counts
    "t9_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(table(s, dir, "documents"), "lang", "doc_id",
          rates = Map("en" -> 0.5, "zh" -> 0.9), defaultRate = 0.25)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // T22: temperature-weighted corpus mixing — per-language keep-rates
    // derived in-DAG from tempered counts (T=2 flattens toward uniform),
    // row decisions by the same content-addressed hash as t9
    "t22_corpus_mix" -> ((s, dir) =>
      Sampling.temperatureMix(table(s, dir, "documents"), "lang", "doc_id",
          temperature = 2.0, targetFraction = 0.3)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // T10: greedy sequence packing — docs concatenated into 256-token
    // training windows per language, deterministic first-fit in id order;
    // the oracle replays the same fold as a recursive CTE
    "t10_seq_packing" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(TextFunctions.tokens("text")).as("n_tokens"))
      Packing.packSequences(d, "lang", "doc_id", "n_tokens", capacity = 256)
        .orderBy("lang", "doc_id")
    }),

    // T23: Okapi BM25 top-3 terms per document — saturating TF +
    // length-normalized relevance, the corpus search-box score
    "t23_bm25_topk" -> ((s, dir) =>
      Keywords.bm25TopTerms(table(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")),

    // T24: exactly-10-per-language eval carve — content-addressed rank,
    // count-exact, stable under corpus growth and repartition
    "t24_eval_carve" -> ((s, dir) =>
      Sampling.takePerStratum(table(s, dir, "documents"), "lang", "doc_id", n = 10)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // T30: in-engine quality-classifier training — standardization pass +
    // full-batch logistic GD distilling the t15 gate into a continuous
    // scorer (the fastText-style stage of published curation pipelines);
    // every corpus pass is ONE map-combinable agg with exact fixed-point
    // sums, so the DuckDB mirror derives bit-identical mu/sd and walks
    // bit-identical weights through its unrolled iteration CTEs
    "t30_quality_classifier" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Classifier.scoreLogistic(docs, "doc_id", "text", classifierModel(s, dir))
        .orderBy("doc_id")
    }),

    // T31: the trained model's 2×2 confusion vs its weak label — exact
    // BIGINT counts; the margin-sign decision (z >= 0) is bit-identical
    // across engines so the counts are robust, not ulp-lucky
    "t31_classifier_confusion" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Classifier.confusion(
        Classifier.scoreLogistic(docs, "doc_id", "text", classifierModel(s, dir)))
    }),

    // T25: decontamination DECISION — the t11 scan applied: docs whose
    // contaminated-shingle fraction against the docs-0-9 "eval set"
    // exceeds 5% are dropped; the kept corpus is what a pretraining run
    // would actually ingest (drops 62 of 500 at sf0.01)
    "t25_decontaminate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.decontaminate(docs, docs.filter(col("doc_id") < 10),
          "doc_id", "text", n = 3, maxFrac = 0.05)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // V15: reciprocal-rank fusion of two ANN systems (the hybrid-search
    // ensemble): the PQ ADC ranking and the LSH ranking full-outer-join
    // per (query, neighbor), rrf = Σ 1/(60 + rank_sys) over the systems
    // that surfaced the pair — integer ranks, so both engines compute
    // identical doubles; re-rank on (rrf DESC, neighbor)
    "v15_rrf_fusion" -> ((s, dir) => {
      val a = pq3(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_a"))
      val b = ann3(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_b"))
      val u = a.join(b, Seq("query_id", "neighbor_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("rank_a")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rank_b")), lit(0.0)), 6))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rrf").desc, col("neighbor_id").asc)
      u.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "rrf")
        .orderBy("query_id", "rank")
    }),

    // V14: retrieval-augmentation join — each query document's exact
    // top-3 embedding neighbors ENRICHED with the neighbor document's
    // metadata (the RAG-prep shape: ANN result ⨝ corpus; the rank frame
    // is query-batch-sized, so the enrich join broadcasts it against the
    // doc table — the corpus side never shuffles)
    "v14_doc_neighbors" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val docs = table(s, dir, "documents")
      val nn = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3)
      broadcast(nn)
        .join(docs, nn("neighbor_id") === docs("doc_id"))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cosine"), col("lang").as("neighbor_lang"),
          col("source").as("neighbor_source"))
        .orderBy("query_id", "rank")
    }),

    // IR00: the ir-family FIXTURE ABSORBER (the a00/d00 convention,
    // extended per the r19 verdict: ir10's milliseconds-sized decision
    // read was absorbing two full gauge runs, and ir11 — sorting before
    // ir7 — was absorbing the corpus-store fixture, so the recorded
    // times measured fixture builds, not the serve paths). Every
    // persisted artifact the ir entries serve from is built HERE, in
    // the family's alphabetically-first (cache-absorber) position: the
    // inverted text index, the IVF+PQ index, the drift-gauge ledger,
    // the band index, the URL seen set, and the maintained corpus
    // store. Verifiable in its own right: each artifact's row/doc
    // count, read back FROM THE BUILT ARTIFACT through its serving
    // face, must equal the oracle's restatement from source-table
    // arithmetic — so the absorber is itself an end-to-end build gate.
    "ir00_fixture_warmup" -> ((s, dir) => {
      // §2.6 (r20 opt): the five build CHAINS are independent Spark job
      // sequences (the gauge ledger builds the IVF+PQ index first inside
      // its own chain), and each chain's stage tails leave most of the
      // executor idle — submit them as concurrent driver jobs so the
      // scheduler back-fills one build's tail with the next build's
      // tasks (the a00 pattern). The per-fixture COUNTS still read the
      // same artifacts through the same serving faces, so the entry's
      // result is unchanged by construction.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fText = Future {
        val textIx = textIndexDir(s, dir)
        graft.io.Manifest.readSubtree(s, textIx,
            graft.io.Manifest.current(s, textIx).get, "stats", None)
          .agg(sum(col("n_docs").cast("long"))).head().getLong(0)
      }
      val fVec = Future {
        // ivfPqIndexDir is the gauge ledger's prerequisite: build it
        // (memoized) then the ledger, inside ONE sequential chain
        val nC = Similarity.ivfPqIndexCellCounts(s, ivfPqIndexDir(s, dir))
          .agg(sum(col("n_vecs"))).head().getLong(0)
        (nC, s.read.parquet(gaugeLedgerDir(s, dir)).count())
      }
      val fBand = Future {
        val bandIx = bandIndexDir(s, dir)
        graft.io.Manifest.readSubtree(s, bandIx,
          graft.io.Manifest.current(s, bandIx).get, "bands", None).count()
      }
      val fSeen = Future {
        val seenIx = seenSetDir(s, dir)
        graft.io.Manifest.readSubtree(s, seenIx,
          graft.io.Manifest.current(s, seenIx).get, "urls", None)
          .agg(countDistinct(col("url"))).head().getLong(0)
      }
      val fStore = Future {
        graft.io.CorpusStore.read(s, corpusStoreDir(s, dir)).count()
      }
      val nText = Await.result(fText, Duration.Inf)
      val (nCodes, nGauge) = Await.result(fVec, Duration.Inf)
      val nBand = Await.result(fBand, Duration.Inf)
      val nSeen = Await.result(fSeen, Duration.Inf)
      val nStore = Await.result(fStore, Duration.Inf)
      val sess = s
      import sess.implicits._
      Seq(("band_index", nBand), ("corpus_store", nStore),
        ("gauge_ledger", nGauge), ("ivfpq_codes", nCodes),
        ("seen_set", nSeen), ("text_index", nText))
        .toDF("fixture", "n_rows").orderBy("fixture")
    }),

    // IR0: the index BUILD as its own battery entry — one tokenize + one
    // positional-postings aggregation + a bucket-partitioned write, the
    // ingest-time cost every index-served query amortizes. (Since r20
    // the physical build happens in ir00, the family absorber; this
    // entry records the stats-ledger aggregation — the totals read
    // every search resolves.) The emitted stats (doc count, total/avg
    // doc length) are recomputed independently by the oracle with the
    // same tokenizer.
    "ir0_index_build" -> ((s, dir) => {
      val ix = textIndexDir(s, dir)
      // the stats sidecar is a per-batch LEDGER (r17): totals aggregate
      // over the SNAPSHOT-resolved rows (the serving-face read — a raw
      // directory read would also sum retired attempt/consolidation
      // residue awaiting vacuum)
      graft.io.Manifest.readSubtree(s, ix,
          graft.io.Manifest.current(s, ix).get, "stats", None)
        .agg(sum(col("n_docs").cast("long")).as("n_docs"),
          sum(col("sum_dl").cast("long")).as("sum_dl"))
        .select(col("n_docs"), col("sum_dl"),
          round(col("sum_dl") / col("n_docs"), 4).as("avgdl"))
    }),

    // IR1: BM25 retrieval — rank documents against a query (the search /
    // RAG-prep face of the t23 scoring); SERVED FROM THE PERSISTED
    // INVERTED INDEX (built once per sf-dir, shared with ir2): the query
    // terms' buckets prune the postings scan, so serving cost is |terms|
    // directory reads, corpus-size-free — the 100 TB path. The corpus-scan
    // form (Keywords.bm25Search) is the spec-pinned witness
    // (TextIndexSpec proves index == scan bit-for-bit).
    "ir1_bm25_search" -> ((s, dir) =>
      // first battery caller of the shared serve chain: this entry's
      // time IS the serve cost (ir9 then reads the pinned frame)
      irBm25Chain(s, dir).orderBy("rank")),

    // IR2: exact contiguous phrase search with occurrence counts — served
    // from the same persisted index: the phrase terms' positional postings
    // join per doc and intersect shifted position lists (the scan form's
    // codegen'd slice-equality projection is the TextIndexSpec witness)
    "ir2_phrase_search" -> ((s, dir) =>
      graft.io.TextIndex.phraseSearchIndex(s, textIndexDir(s, dir),
          Seq("table", "table"))
        .orderBy("doc_id")),

    // IR3: the IVF+PQ index BUILD as its own battery entry (the ir0 move
    // for the vector index): one train sample + one corpus projection +
    // a cell-partitioned write of m-ints-per-vector codes — the
    // ingest-time cost ir4 amortizes. Runs before ir4 (alphabetical), so
    // ir4 measures SERVING. Emits the per-cell code counts; the oracle
    // recomputes the coarse assignment independently (the v11 CTE chain)
    "ir3_ivfpq_index_build" -> ((s, dir) =>
      // cell counts through the live snapshot (the codes tree lives
      // under the manifest's generation dir since r19)
      Similarity.ivfPqIndexCellCounts(s, ivfPqIndexDir(s, dir))
        .orderBy("cent_id")),

    // IR4: IVF+PQ top-k SERVED FROM THE PERSISTED INDEX — the 100 TB
    // serving artifact: centroids/codebooks collect as driver metadata,
    // the probed cells become a partition predicate, and the scan reads
    // nProbe/nCentroids of an m-bytes-per-vector corpus. Identical
    // output to v11 (IvfPqIndexSpec pins index == in-flight bit-for-bit
    // plus the partition pruning), so the v11 oracle mirrors it
    "ir4_ivfpq_search" -> ((s, dir) =>
      // first battery caller of the shared IVF+PQ serve chain (see
      // irAnnChain): this entry's time IS the serve cost
      irAnnChain(s, dir).orderBy("query_id", "rank")),

    // IR5: incremental near-dup SERVED FROM THE PERSISTED BAND INDEX —
    // the standing corpus's band table lives on disk (built < 150,
    // APPENDED 150..249 — the append face is inside the oracle gate),
    // and the batch (>= 250) probes only its own bands' bucket
    // directories. Identical output to d17 (BandIndexSpec pins probe ==
    // in-flight, append == rebuild, and the bucket pruning)
    "ir5_neardup_index_probe" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      graft.io.BandIndex.probe(s, bandIndexDir(s, dir),
          docs.filter(col("doc_id") >= 250), "doc_id", "text")
        .orderBy("doc_id", "ref_id")
    }),

    // IR6: discovery novelty SERVED FROM THE PERSISTED URL SEEN SET —
    // the crawl fleet's membership artifact (seen = 60% of the corpus's
    // URLs, written 0-2 + APPENDED 3-5 by doc_id % 10, so the append
    // face is inside the oracle gate) probed with a batch overlapping
    // it (% 10 >= 4): the Bloom sidecar answers unclaimed rows at scan
    // speed and only the claimed sliver's buckets are read for the
    // exact confirm. Bit-identical to the plain anti-join (SeenSetSpec
    // pins probe == anti-join, append == rebuild, bucket pruning), so
    // the oracle restates the membership arithmetic directly
    "ir6_seen_set_probe" -> ((s, dir) => {
      val u = urlUniverse(s, dir)
      graft.io.SeenSet.probeNovel(s, seenSetDir(s, dir),
          u.filter(col("doc_id") % 10 >= 4), "url")
        .orderBy("doc_id")
    }),

    // IR8: the ANN DRIFT GAUGE over the persisted IVF+PQ index — the
    // maintenance-time number an operator thresholds to trigger a
    // rebuild: recall@3 of the index's frozen-training ADC serving
    // against exact brute force, over the same candidate sample (here
    // the full embeddings table, so the gauge's approx side equals the
    // index serving exactly and the oracle can mirror both chains).
    // Runs after ir3 (alphabetical), so the shared index is warm and
    // ir8 measures the gauge itself
    "ir8_ann_drift_gauge" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.ivfPqIndexDriftGauge(s, ivfPqIndexDir(s, dir), emb,
          emb.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 3, nProbe = 4)
        .orderBy("query_id")
    }),

    // IR9: INDEX-SERVED HYBRID RETRIEVAL — the RAG serving shape: BM25
    // from the persisted inverted index (bucket-pruned postings) and
    // ANN from the persisted IVF+PQ index (cell-pruned codes), fused
    // per query by reciprocal-rank (the v15 arithmetic over PERSISTED
    // artifacts instead of in-flight rankings). The lexical ranking is
    // query-independent here (one term set), so it broadcasts into
    // every vector query's fusion; both index scans stay pruned
    // (plans/r20/ir9_hybrid_retrieval_after.txt), so serving cost is |terms| + nProbe
    // directory reads — corpus-size-free
    "ir9_hybrid_retrieval" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      // r20 opt (§2.4): both serves are the EXACT calls ir1/ir4 time —
      // read their pinned chains instead of re-running each serve; this
      // entry then times the RRF fusion (the plan-shape pin for the
      // fused serve lives in HybridRetrievalSpec, which builds its own)
      val text = irBm25Chain(s, dir)
        .select(col("doc_id"), col("rank").as("rank_t"))
      val ann = irAnnChain(s, dir)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("rank_a"))
      val qs = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"))
      // both rank frames are query-batch-sized metadata — broadcast the
      // replicated lexical list; the fusion never touches a corpus scan
      val textAll = qs.crossJoin(broadcast(text))
      val u = textAll.join(ann, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("rank_t")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rank_a")), lit(0.0)), 6))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rrf").desc, col("doc_id").asc)
      u.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select("query_id", "rank", "doc_id", "rrf")
        .orderBy("query_id", "rank")
    }),

    // IR10: the drift-gauge LEDGER folded into the rebuild decision —
    // the operator call ir8 leaves as prose, from REAL ledger bytes
    // (two committed batch entries written by the gauge, the #19/#18e
    // persistence shape) through Streaming.gaugeLedgerDecision's
    // window read. should_rebuild cast to int for the cross-engine
    // hash
    "ir10_rebuild_decision" -> ((s, dir) =>
      graft.streaming.Streaming.gaugeLedgerDecision(s,
          gaugeLedgerDir(s, dir), threshold = 0.9, window = 2)
        .withColumn("should_rebuild", col("should_rebuild").cast("int"))),

    // IR7: the standing corpus read back FROM THE MAINTAINED STORE —
    // keyed upsert and delete applied as bucket-directory rewrites
    // (delta-proportional — only touched buckets were rewritten; the
    // CorpusStoreSpec mtime pin proves it), then the final content
    // digested per key. The oracle restates the same final state from
    // the change arithmetic: upsert wins over base, deletes drop,
    // everything else survives byte-identically
    "ir7_corpus_store" -> ((s, dir) =>
      graft.io.CorpusStore.read(s, corpusStoreDir(s, dir))
        .select(col("doc_id"), md5(col("text")).as("content_md5"))
        .orderBy("doc_id")),

    // IR11: TIME TRAVEL on the maintained store — the provenance read
    // the snapshot layer gives away for free: the ir7 fixture commits
    // v1 (build), v2 (upsert), v3 (delete); reading v2 must serve the
    // corpus EXACTLY as it stood after the upsert and BEFORE the
    // delete, byte-identical, because the delete's commit retired (not
    // deleted) v2's files. A training run records the version it read
    // and can reproduce its input until the vacuum cadence
    "ir11_corpus_time_travel" -> ((s, dir) =>
      graft.io.CorpusStore.readVersion(s, corpusStoreDir(s, dir),
          version = 2L)
        .select(col("doc_id"), md5(col("text")).as("content_md5"))
        .orderBy("doc_id")),

    // T42: Unicode NFC normalization (native nfc_normalize expression,
    // JDK Normalizer) — per-doc payloads get decomposed sequences
    // appended (combining acute/ring, doc_id-conditional precomposed é),
    // and the normalized text's md5 + char counts must match DuckDB's
    // independent utf8proc-based nfc_normalize
    "t42_unicode_nfc" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          // explicit escapes: "cafe" + COMBINING ACUTE and "A" + COMBINING
          // RING are DECOMPOSED on purpose; evens append precomposed
          // U+00E9, odds the decomposed pair - NFC must converge both
          concat(col("text"), lit(" cafe\u0301 A\u030A"),
            when(col("doc_id") % 2 === 0, lit("\u00e9"))
              .otherwise(lit("e\u0301"))).as("t2"))
        .select(col("doc_id"),
          md5(expr("nfc_normalize(t2)")).as("nfc_md5"),
          length(col("t2")).as("len_before"),
          length(expr("nfc_normalize(t2)")).as("len_after"))
        .orderBy("doc_id")),

    // T53: diacritic folding (native strip_accents, the 20th codegen'd
    // expression) — accented fragments synthesized by doc_id arithmetic
    // onto the real text; DuckDB's utf8proc-based strip_accents is the
    // INDEPENDENT mirror (the Jaro-Winkler two-engines gate): NFD +
    // mark-removal + NFC recompose must agree byte-for-byte, including
    // the no-decomposition pass-through (the stroked ł) and the Hangul
    // no-Jamo-leak class (precomposed syllables must round-trip, raw
    // conjoining Jamo must COMPOSE — the behavior an un-recomposed NFD
    // fold silently breaks and a Latin-only battery cannot see)
    "t53_strip_accents" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 40), lit(" "),
            element_at(array(lit("café au lait"), lit("über die Brücke"),
              lit("mañana señor"), lit("déjà vu résumé"),
              lit("łódź office"), lit("naïve façade"),
              // Mc (Devanagari vowel sign) + Me (enclosing mark): the
              // categories an Mn-only fold would miss
              lit("कि a҈b mark"),
              // Hangul: precomposed 한국어 + the raw Jamo spelling of 한
              lit("한국어 한 jamo")),
              (col("doc_id") % 8 + 1).cast("int"))).as("t2"))
        .select(col("doc_id"), expr("strip_accents(t2)").as("folded"),
          length(col("t2")).as("len_before"),
          length(expr("strip_accents(t2)")).as("len_after"))
        .orderBy("doc_id")),

    // T41: the dataset card — per-column row/null/distinct/min/max in
    // ONE corpus pass (multiple exact distincts planned as one Expand +
    // two-stage agg; the unpivot touches one row)
    "t41_dataset_profile" -> ((s, dir) =>
      graft.operators.Profile.columnProfile(table(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy("column")),

    // T40: the whole curation RECIPE through one entry point — exact
    // dedup → quality gate → decontamination (vs docs 0-9) → 10k-token
    // budget — emitting the per-stage funnel (stage, n_in, n_out); the
    // oracle recomputes every stage's keep-set independently in SQL
    "t40_doc_pipeline" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      graft.pipeline.DocPipeline.run(docs, "doc_id", "text",
          Some(docs.filter(col("doc_id") < 10)),
          graft.pipeline.DocPipelineConfig(dedupNear = true,
            nearMinSigAgreement = Some(0.5), tokenBudget = Some(5000L)))
        .summary.orderBy("stage")
    }),

    // T26: repeated-passage REMOVAL — the d18 flags applied: duplicate
    // 32-token chunks stripped (first occurrence canonical) and every doc
    // reassembled from its surviving chunks, digested as kept_hash
    "t26_chunk_strip" -> ((s, dir) =>
      Dedup.stripDuplicateChunks(table(s, dir, "documents"), "doc_id", "text",
          size = 32)
        .orderBy("doc_id")),

    // T27: recipe materialization — per-lang epoch weights (en 1.4,
    // zh 2.25, rest 0.6): floor(w) copies per row plus a content-addressed
    // bernoulli draw for the fractional part; `epoch` is the copy index
    "t27_recipe_repeat" -> ((s, dir) =>
      Sampling.repeatByWeight(table(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 1.4, "zh" -> 2.25), defaultWeight = 0.6)
        .select("doc_id", "lang", "epoch")
        .orderBy("doc_id", "epoch")),

    // T28: domain-level quality gate — sources whose mean quality score
    // (rounded 1e-4, order-free) falls under 0.37 are dropped wholesale
    // (6 of 20 synthetic sources at sf0.01)
    "t28_domain_filter" -> ((s, dir) => {
      val scored = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.textStats("text").getField("quality_score").as("q"))
      Sampling.filterByGroupMean(scored, "source", "q", minMean = 0.37)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // T29: deterministic split assignment — 75/12.5/12.5 train/val/test
    // by the content-addressed draw; exactly-representable fractions so
    // the interval bounds are bit-identical across engines
    "t29_split_assign" -> ((s, dir) =>
      Sampling.assignSplits(table(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .select("doc_id", "split")
        .orderBy("doc_id")),

    // T35: cluster-balanced (diversity) sample — exactly 5 vectors per
    // spherical-k-means cluster: cluster-then-sample against dense-region
    // dominance; k-means + native-argmax assignment + the t24 carve
    // composed, deterministic end to end
    "t35_cluster_sample" -> ((s, dir) =>
      Sampling.clusterBalancedSample(table(s, dir, "embeddings"), "vec_id",
          "embedding", nPerCluster = 5, nClusters = 16, kmeansIters = 3)
        .orderBy("vec_id")),

    // T32: HyperLogLog distinct-token sketch per language, next to the
    // exact salted count — the sublinear path for per-group cardinality
    // at corpus scale (registers shuffle, values don't). The sketch is
    // replayed bit-identically by the DuckDB oracle (same 60-bit hash,
    // integer-exact registers and scaled harmonic sum), so hll_distinct
    // is a hash-exact row, not a tolerance check; rel_err vs the exact
    // count is carried to SHOW the sketch accuracy (m=4096 -> ~1.6% se)
    "t32_hll_distinct" -> ((s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("lang"), explode(TextFunctions.tokens("text")).as("t"))
      // ONE tokenize pass (r20 opt, REPAIRED r21): both sketches are
      // insensitive to duplicate values (HLL registers are a max, the
      // salted count is a countDistinct), so they read the SAME
      // distinct-(lang, token) frame. r20 left the shared frame unpinned
      // and the committed plan showed NO ReusedExchange — both branches
      // still tokenized the corpus and each carried its own distinct
      // exchange (a net pessimization, r20 advice). Pinning it
      // (localCheckpoint — the t33 vocab pattern) makes the one tokenize
      // + one distinct exchange structural: both consumers read the
      // materialized vocab. Results are bit-identical by construction.
      val vocab = toks.distinct().localCheckpoint()
      Sketches.hllDistinct(vocab, Seq("lang"), "t", p = 12)
        .join(Salted.saltedCountDistinct(vocab, Seq("lang"), "t", buckets = 16), "lang")
        .select(col("lang"), col("hll_distinct"), col("n_distinct"),
          round(abs(col("hll_distinct") - col("n_distinct")) / col("n_distinct"), 4)
            .as("rel_err"))
        .orderBy("lang")
    }),

    // T33: count-min heavy hitters — the token stream collapses to 4x512
    // counters (map-side partial sums, counters broadcast back for the
    // candidate lookup); ranking runs on the ESTIMATE, ties broken by
    // token so both engines cut the same prefix. true_count/overcount
    // carried to show the CMS overestimate-only guarantee — all-integer
    // columns, a hash-exact row
    "t33_cms_heavy_hitters" -> ((s, dir) => {
      val toks = table(s, dir, "documents")
        .select(explode(TextFunctions.tokens("text")).as("t"))
      // ONE corpus tokenize pass (r20 opt, guide §2.3/§2.4): the sketch's
      // candidate set was already a whole-vocabulary aggregation
      // (distinct), so carrying the exact count on that same exchange is
      // free — counters ADD the per-token counts (bit-identical integer
      // sums to counting occurrences), candidates and true counts read
      // the same pinned vocab frame, and the corpus is scanned once
      // instead of three times (counters + distinct + true-count semi
      // join each re-tokenized it before).
      val vocab = toks.groupBy("t").agg(count(lit(1)).as("true_count"))
        .localCheckpoint()
      val counters =
        Sketches.cmsCountersFromCounts(vocab, "t", "true_count", d = 4, w = 512)
      // pinned (r21, advice): `top` is referenced twice below (join left
      // side + the broadcast semi-join), and unpinned the 20-row
      // estimate+TakeOrdered recomputed once per reference — output was
      // already deterministic (total-order tiebreak), this just runs it
      // once, matching the entry's one-pass intent.
      val top = Sketches.cmsEstimate(counters, vocab.select(col("t")), "t",
          d = 4, w = 512)
        .orderBy(col("cms_count").desc, col("t"))
        .limit(20)
        .localCheckpoint()
      top.join(broadcast(vocab.join(broadcast(top.select(col("t"))),
          Seq("t"), "left_semi")), "t")
        .select(col("t").as("token"), col("cms_count"), col("true_count"),
          (col("cms_count") - col("true_count")).as("overcount"))
        .orderBy(col("cms_count").desc, col("token"))
    }),

    // T34: corpus snapshot diff — the incremental-pipeline gate deciding
    // what to (re)process: a synthetic "next snapshot" drops doc_id%97,
    // edits doc_id%89, and appends 50 fresh docs; the diff classifies
    // every id by the whitespace-insensitive content hash. Per-doc status
    // rows — hash-exact
    "t34_corpus_diff" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val kept = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 89 === 0, concat(col("text"), lit(" EDIT")))
            .otherwise(col("text")).as("text"))
      val added = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"))
      Dedup.corpusDiff(docs, kept.unionByName(added), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // T14: TF-IDF keyword extraction — top-3 terms per document by
    // tf x smoothed-idf; the ranking window partitions on doc_id (high
    // cardinality), never on a low-cardinality key
    "t14_tfidf_topk" -> ((s, dir) =>
      Keywords.topTerms(table(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")),

    // T13: overlapping token chunking (32-token windows, 8-token overlap)
    // — one row per chunk with its token count and content hash
    "t13_chunking" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.chunks("text", 32, 8)).as("c"))
        .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
          size(col("c.toks")).as("n_chunk_tokens"),
          md5(array_join(col("c.toks"), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")),

    // D9: SimHash near-dup candidates — 4 x 15-bit band join over the
    // 60-bit SimHash, exact Hamming rescoring of candidates (<= 10; the
    // guaranteed-recall regime is <= bands-1, the rest is the documented
    // banded-candidate contract). maxBandFreq = 50 exercises the hot-band
    // skew guard: the synthetic corpus's shared template vocabulary
    // concentrates SimHash bits, and the uncapped join is quadratic on it
    // (51 s uncapped vs 6 s capped at sf0.1)
    "d9_simhash_neardup" -> ((s, dir) =>
      Dedup.simHashCandidates(table(s, dir, "documents"), "doc_id", "text",
          bands = 4, maxHamming = 10, maxBandFreq = Some(50))
        .orderBy("doc_a", "doc_b")),

    // T11: benchmark-contamination scan — docs 0-9 stand in for the eval
    // set; their distinct shingle hashes broadcast and the corpus side is
    // a map-side semi-join (no corpus shuffle)
    "t11_contamination" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.contaminationScan(docs, docs.filter(col("doc_id") < 10), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // D12: the user-facing end of near-dedup — the corpus with every
    // >=0.8-Jaccard cluster reduced to its min-id canonical (reuses the
    // family's cached edge graph + labels)
    "d12_dedup_keep" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val labels = ccLabels(s, dir)
      Dedup.keepCanonical(docs, "doc_id", labels)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // D20: keepCanonical's production variant — each >=0.8-Jaccard
    // cluster keeps its highest-QUALITY member (ties to lowest id)
    // instead of its lowest-id one; rides the same cached labels
    "d20_dedup_keep_best" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val labels = ccLabels(s, dir)
      Dedup.keepBestQuality(docs, "doc_id", labels,
          TextFunctions.textStats("text").getField("quality_score"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // T19: the curation dashboard — per (lang, source): volume, token
    // mass, mean quality, exact-dup count, quality-gate keep count; one
    // grouped aggregation over the composed per-row signals
    "t19_corpus_report" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.exactDedup(docs, "doc_id", "text")
        .select(col("lang"), col("source"), col("is_duplicate"),
          TextFunctions.textStats("text").as("st"),
          TextFunctions.qualityFilter("text").as("q"))
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("st.n_tokens").cast("long")).as("n_tokens"),
          // exact integer sum of the 4-dp per-doc scores (x10000): float
          // summation ORDER differs between engines and across parallel
          // runs, so ROUND(AVG(..)) of values that land on a .00005
          // boundary flips nondeterministically — integer sums don't
          sum(round(col("st.quality_score") * 10000).cast("long")).as("sum_quality4"),
          sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("n_exact_dup"),
          sum(when(col("q.keep"), 1L).otherwise(0L)).as("n_quality_keep"))
        .orderBy("lang", "source")
    }),

    // T20: perplexity-style quality scoring — per-doc cross-entropy under
    // the corpus's own smoothed unigram LM
    "t20_unigram_nll" -> ((s, dir) =>
      Keywords.unigramLogProb(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // T36: the CCNet-style filter one order up — cross-entropy under the
    // corpus's add-one bigram LM (boilerplate scores low, token soup
    // high; the two-sided band is the gate)
    "t36_bigram_nll" -> ((s, dir) =>
      Keywords.bigramLogProb(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // T54: stupid-backoff trigram scoring (Brants et al. 2007) — the
    // web-scale LM score: relative frequencies with a fixed 0.4 backoff
    // penalty, never normalized. The LM trains on 90% of the corpus
    // (doc_id % 10 != 7) and ALL docs score against it, so the held-out
    // tenth exercises the whole backoff chain (unseen trigram → bigram →
    // add-one unigram terminal) while train docs stay at the trigram level
    "t54_stupid_backoff" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Keywords.stupidBackoffLogProb(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 10 =!= 7))
        .orderBy("doc_id")
    }),

    // T37: BPE merge induction — three tokenizer-vocabulary merge rounds
    // learned from the corpus (pair counting + greedy-left application on
    // the Heaps'-bounded word-frequency table; the corpus is scanned
    // once); the oracle unrolls the identical rounds in SQL
    "t37_bpe_merges" -> ((s, dir) =>
      graft.operators.Bpe.learnMerges(table(s, dir, "documents"), "text", rounds = 3)
        .orderBy("round")),

    // T38: the learned merges APPLIED corpus-wide — per-doc BPE token
    // count after the 3 merges (the tokenize-with-trained-vocab pass);
    // the oracle re-learns the same merges and applies them through a
    // word → final-symbols mapping join instead of a per-doc rewrite —
    // an independent formulation of the same application
    "t38_bpe_apply" -> ((s, dir) =>
      graft.operators.Bpe.applyMerges(table(s, dir, "documents"), "text",
          bpeMerges(s, dir))
        .select(col("doc_id"), size(col("bpe_tokens")).as("n_bpe_tokens"))
        .orderBy("doc_id")),

    // T21: greedy max-quality selection under a global token budget via
    // the distributed prefix sum (no single-partition window anywhere);
    // the oracle computes the same selection with a plain SQL running sum
    "t21_budget_select" -> ((s, dir) => {
      val st = table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.textStats("text").as("st"))
        .select(col("doc_id"), col("st.quality_score").as("q"),
          col("st.n_tokens").cast("long").as("nt"))
      Sampling.selectByBudget(st, "doc_id", "q", "nt", budget = 10000L)
        .orderBy("doc_id")
    }),

    // T17: the Bloom-prefiltered contamination scan — must produce the
    // IDENTICAL result to t11 (no false negatives + exact confirm), which
    // the shared oracle checks end to end
    "t17_contamination_bloom" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.contaminationScanBloom(docs, docs.filter(col("doc_id") < 10), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // T12: intra-document repetition (1 - distinct/total positional
    // 3-grams) — the boilerplate/degenerate-text quality filter
    "t12_repetition" -> ((s, dir) =>
      Dedup.repetitionScore(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // M1: multimodal payload plumbing — binary column + typed metadata
    "m1_multimodal_meta" -> ((s, dir) =>
      Multimodal.withPayload(table(s, dir, "documents"), "text", "text/plain")
        .select(col("doc_id"), col("meta.media_type").as("media_type"),
          col("meta.n_bytes").as("n_bytes"), col("meta.checksum").as("checksum"),
          ascii(substring(col("text"), 1, 1)).as("first_code"))
        .orderBy("doc_id")),

    // V5: per-dimension embedding health stats (mean/std via exact
    // integer-scaled sums — order-free on both engines)
    "v5_embedding_stats" -> ((s, dir) =>
      Similarity.embeddingStats(table(s, dir, "embeddings"), "embedding")
        .orderBy("dim")),

    // T15: Gopher-style composite quality gate — per-rule booleans + keep,
    // one codegen'd projection
    "t15_quality_filter" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.qualityFilter("text").as("q"))
        .select(col("doc_id"), col("q.*"))
        .orderBy("doc_id")),

    // T16: compression-ratio quality signal (native deflate_len expression).
    // DuckDB has no raw-DEFLATE builtin, so instead of raw lengths the
    // battery emits per-row INVARIANTS the oracle can adjudicate exactly:
    // inflate(deflate(x)) == x, the raw-deflate worst-case length bound
    // (5 bytes per stored block + trailer on incompressible input), and the
    // LZ77 window witness (text||text compresses to barely more than text —
    // the second copy is a chain of <=258-byte back-references, ~4 bytes
    // per match, whenever text fits the 32 KiB window). Raw length values
    // stay spec-verified in DeflateSpec.
    "t16_compress_ratio" -> ((s, dir) => {
      val nB = octet_length(col("text")).cast("long")
      val dl = TextFunctions.deflateLen("text").cast("long")
      val dl2 = TextFunctions.deflateLen(concat(col("text"), col("text"))).cast("long")
      table(s, dir, "documents")
        .select(col("doc_id"), nB.as("n_bytes"),
          TextFunctions.deflateRoundtrip(col("text")).as("roundtrip_ok"),
          (dl >= lit(2) && dl <= nB + nB / 100 + lit(64)).as("len_bound_ok"),
          when(nB > 0 && nB <= 30000, dl2 <= dl + nB / 64 + lit(32))
            .otherwise(lit(true)).as("double_gain_ok"))
        .orderBy("doc_id")
    }),

    // D11: per-document duplicate n-gram fraction (the RefinedWeb-style
    // duplicated-text signal — per doc, not per pair)
    "d11_dupgram_fraction" -> ((s, dir) =>
      Dedup.dupShingleFraction(table(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id")),

    // M2: the REAL header-decode path end-to-end — synthesize a valid WAV
    // payload per doc (params derived from doc_id), parse it back with
    // Multimodal.decodeAvMeta; the oracle computes the expected metadata
    // from the SAME doc_id arithmetic, so a parser (or builder) bug that
    // flips any field fails the hash compare
    "m2_av_header_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = table(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val rate = 8000 + (id % 8).toInt * 1000
          val channels = 1 + (id % 2).toInt
          val dataLen = 1000 * (1 + (id % 5).toInt)
          (id, Multimodal.syntheticWav(rate, channels, 16, dataLen))
        })
        .toDF("doc_id", "payload")
      Multimodal.decodeAvMeta(payloads, "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // M3: REAL pixel decode end-to-end — synthesize a per-doc gradient
    // raster (channel values from doc_id arithmetic), encode it through
    // the JDK's PNG encoder, decode it back through javax.imageio, and
    // emit exact integer channel stats. PNG is lossless, so the oracle
    // recomputes the expected stats from the SAME generative formula
    // without ever touching an image — any encoder/decoder/channel-order
    // bug breaks the hash compare. The per-row unit (one small image per
    // doc) is the shape a 100 TB thumbnail/feature pass has: payloads are
    // decoded where they sit, nothing but fixed-width stats is shuffled.
    "m3_image_pixel_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = table(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions { it =>
          System.setProperty("java.awt.headless", "true")
          it.map { id =>
            val w = 8 + (id % 5).toInt; val h = 6 + (id % 4).toInt
            val a = 1 + (id % 3).toInt; val b = 2 + (id % 2).toInt
            val c = (id % 251).toInt
            val png = Multimodal.encodePng(w, h, (x, y) => {
              val base = a * x + b * y + c
              val r = base % 256; val g = (base + 85) % 256; val bl = (base + 170) % 256
              (r << 16) | (g << 8) | bl
            })
            (id, png)
          }
        }
        .toDF("doc_id", "payload")
      Multimodal.decodeImagePixelStats(payloads, "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // M4: REAL audio-sample decode end-to-end — synthesize 16-bit PCM WAV
    // payloads (samples from doc_id arithmetic), hand-decode the samples
    // back, emit exact integer sample stats; oracle mirrors the formula.
    "m4_audio_pcm_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = table(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val rate = 8000 + (id % 8).toInt * 1000
          val channels = 1 + (id % 2).toInt
          val n = 200 + (id % 101).toInt
          val samples = Array.tabulate(n) { i =>
            (((id * 7919L + i * 104729L) % 65536L).toInt - 32768).toShort
          }
          (id, Multimodal.syntheticWavPcm(rate, channels, samples))
        })
        .toDF("doc_id", "payload")
      Multimodal.decodeAudioStats(payloads, "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // M5: REAL video frame sampling end-to-end — per-doc AVI containers
    // with PNG (MPNG-codec) frames synthesized from doc_id arithmetic,
    // every 2nd frame extracted by the RIFF movi walk and pixel-decoded
    // through the JDK; PNG losslessness keeps the sampled-frame channel
    // sums exact, so the oracle recomputes them from the formula
    "m5_video_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val payloads = table(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions { it =>
          System.setProperty("java.awt.headless", "true")
          it.map { id =>
            val n = 3 + (id % 3).toInt
            val frames = (0 until n).map { f =>
              val base = (id * 13 + f * 31) % 256
              val r = base.toInt; val g = ((base + 85) % 256).toInt
              val b = ((base + 170) % 256).toInt
              Multimodal.encodePng(4, 3, (_, _) => (r << 16) | (g << 8) | b)
            }
            (id, Multimodal.syntheticAviPng(frames))
          }
        }
        .toDF("doc_id", "payload")
      Multimodal.sampleVideoFrames(payloads, "doc_id", step = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // M6: MJPEG-in-AVI — the most common legacy video container shape,
    // decoded with the JDK alone: solid-color JPEG frames (one 8x8 MCU)
    // in `00dc` chunks, every 2nd frame walked + pixel-decoded. JPEG is
    // lossy, so the oracle-adjudicable outputs are the container walk
    // counts (exact) plus BOUNDED-ERROR booleans on the channel sums
    // (solid-color blocks reconstruct within a few counts per channel;
    // ±6/pixel/channel is generous for DC quantization + YCbCr rounding)
    "m6_mjpeg_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val payloads = table(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions { it =>
          System.setProperty("java.awt.headless", "true")
          it.map { id =>
            val n = 2 + (id % 4).toInt
            val r = ((id * 37) % 256).toInt
            val g = ((id * 59 + 85) % 256).toInt
            val b = ((id * 83 + 170) % 256).toInt
            val jpeg = Multimodal.encodeJpeg(8, 8, (_, _) => (r << 16) | (g << 8) | b)
            (id, Multimodal.syntheticAviPng(Seq.fill(n)(jpeg)))
          }
        }
        .toDF("doc_id", "payload")
      val sums = Multimodal.sampleVideoFrames(payloads, "doc_id", step = 2)
        .withColumnRenamed("id", "doc_id")
      val r = (col("doc_id") * 37) % 256
      val g = (col("doc_id") * 59 + 85) % 256
      val b = (col("doc_id") * 83 + 170) % 256
      val px = col("n_sampled") * 64
      val tol = px * 6
      sums.select(col("doc_id"), col("n_frames"), col("n_sampled"),
          (abs(col("r_sum") - r * px) <= tol).as("r_ok"),
          (abs(col("g_sum") - g * px) <= tol).as("g_ok"),
          (abs(col("b_sum") - b * px) <= tol).as("b_ok"))
        .orderBy("doc_id")
    }),

    // M7: scene-cut detection over MJPEG-in-AVI — per-doc frame sequences
    // that switch solid colors at a doc_id-derived position (or never, for
    // id%5==0); the cut threshold (48/pixel summed over channels) sits far
    // above JPEG DC-quantization noise (<~18) and far below a real cut
    // (~384), so the cut COUNTS and positions are exact integers the
    // oracle recomputes from the same arithmetic — the m6 bounded-error
    // lesson, applied to make lossy-codec outputs fully adjudicable
    "m7_video_scene_cuts" -> ((s, dir) => {
      import s.implicits._
      val payloads = table(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions { it =>
          System.setProperty("java.awt.headless", "true")
          it.map { id =>
            val n = 4 + (id % 4).toInt
            val cut = 2 + (id % 2).toInt
            val r = ((id * 37) % 256).toInt
            val g = ((id * 59 + 85) % 256).toInt
            val b = ((id * 83 + 170) % 256).toInt
            val noCut = id % 5 == 0
            val jpegA = Multimodal.encodeJpeg(8, 8, (_, _) => (r << 16) | (g << 8) | b)
            val jpegB =
              if (noCut) jpegA
              else Multimodal.encodeJpeg(8, 8, (_, _) =>
                (((r + 128) % 256) << 16) | (((g + 128) % 256) << 8) | ((b + 128) % 256))
            val frames = (0 until n).map(i => if (i < cut) jpegA else jpegB)
            (id, Multimodal.syntheticAviPng(frames))
          }
        }
        .toDF("doc_id", "payload")
      Multimodal.videoCutDetect(payloads, "doc_id", threshold = 48.0)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // M8: REAL perceptual hashing end-to-end — per-doc PNGs whose luma
    // cells come from the group's md5-derived byte table (32 bytes per
    // group, so patterns NEVER repeat periodically across groups — a
    // linear-in-g formula would be periodic mod 256 and manufacture huge
    // identical-image classes at scale), decoded through javax.imageio,
    // box-resized to the 11x6 thumbnail, dHash60'd. Variants per group:
    // the base image, its exact 2x upscale (box resize recovers the
    // identical thumbnail — the scale-invariance the hash exists for),
    // a one-pixel brightness jitter (flips <= 2 bits), and an unrelated
    // pattern. The oracle rebuilds every hash from the SAME md5 bytes
    // without touching an image; undecodable payloads surface as NULLs.
    "m8_image_dhash" -> ((s, dir) =>
      Multimodal.imageDHash(imagePayloads(s, dir), "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // M9: image near-dup pairs over the same corpus — banded Hamming
    // join on dHash60 (4 x 15-bit bands, lossless for Hamming <= 3 by
    // pigeonhole), exact popcount rescore. The multimodal sibling of the
    // d9 SimHash text near-dup; the oracle mirrors hash, banding, and
    // rescore structurally.
    "m9_image_neardup" -> ((s, dir) =>
      Multimodal.imageNearDupPairs(imagePayloads(s, dir), "doc_id",
          maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // S5: REAL WARC ingestion end-to-end — per-doc WARC files (warcinfo
    // + 1-3 HTTP response records, gzipped one-member-per-record for
    // even ids exactly like Common Crawl ships) built by the writer
    // face, parsed back by the real record walk, HTTP bodies extracted;
    // the oracle restates every record's metadata, payload length, and
    // body from the generative arithmetic. Corrupt payloads parse to
    // zero records rather than failing the file.
    "s5_warc_read" -> ((s, dir) => {
      import s.implicits._
      val payloads = table(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          if (id % 97 == 0) (id, "garbage not warc".getBytes("UTF-8"))
          else {
            val k = 1 + (id % 3).toInt
            val info = Warc.WarcRecord("warcinfo", None, None,
              Some("application/warc-fields"),
              "software: graft\r\n".getBytes("UTF-8"))
            val resps = (0 until k).map { i =>
              Warc.WarcRecord("response",
                Some(s"http://site${id % 7}.com/p$i"),
                Some("2024-01-01T00:00:00Z"),
                Some("application/http; msgtype=response"),
                ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" +
                  s"body $id $i end").getBytes("UTF-8"))
            }
            (id, Warc.build(info +: resps, gzipPerRecord = id % 2 == 0))
          }
        })
        .toDF("doc_id", "payload")
      Warc.records(payloads, "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rec_idx")
    }),

    // M12: image metadata stripping (the image-side PII scrub) — PNGs
    // with REAL tEXt/tIME chunks spliced in (CRC-correct, via the
    // operator's writer face) and JPEGs with REAL APP1-Exif + COM
    // segments; the strip must remove exactly the spliced bytes
    // (meta_removed mirrors their arithmetic sizes), a second pass must
    // remove nothing (idempotence), and the stripped payloads must still
    // decode to the SAME raster (exact channel sums for lossless PNG,
    // m6-style bounded booleans for JPEG). Corrupt payloads reject.
    "m12_image_meta_strip" -> ((s, dir) => {
      import s.implicits._
      val payloads = table(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          System.setProperty("java.awt.headless", "true")
          it.map { id =>
            if (id % 97 == 0) (id, "garbage".getBytes("UTF-8"))
            else if (id % 3 == 1) {
              val r0 = ((id * 37) % 256).toInt
              val g0 = ((id * 59 + 85) % 256).toInt
              val b0 = ((id * 83 + 170) % 256).toInt
              val base = Multimodal.encodeJpeg(8, 8,
                (_, _) => (r0 << 16) | (g0 << 8) | b0)
              def seg(marker: Int, data: Array[Byte]): Array[Byte] =
                Array[Byte](0xff.toByte, marker.toByte,
                  (((data.length + 2) >> 8) & 0xff).toByte,
                  ((data.length + 2) & 0xff).toByte) ++ data
              val app1 = seg(0xe1,
                "Exif  ".getBytes("US-ASCII") ++ Array.fill[Byte](10)(7))
              val com = seg(0xfe, s"c$id".getBytes("US-ASCII"))
              (id, base.take(2) ++ app1 ++ com ++ base.drop(2))
            } else {
              val a = 1 + (id % 5).toInt
              val b = 1 + (id % 4).toInt
              val c = (id % 200).toInt
              val png = Multimodal.encodePng(8, 6, (x, y) => {
                val l = a * x + b * y + c; (l << 16) | (l << 8) | l
              })
              if (id % 3 == 0) {
                val t = Multimodal.addPngChunk(png, "tEXt",
                  ("Author user" + id).getBytes("US-ASCII"))
                (id, Multimodal.addPngChunk(t, "tIME", Array.fill[Byte](7)(1)))
              } else (id, png)
            }
          }
        }
        .toDF("doc_id", "payload")
      val once = Multimodal.stripMediaMetadataDf(payloads, "doc_id")
      val second = Multimodal.stripMediaMetadataDf(
          once.select(col("id").as("doc_id"), col("payload")), "doc_id")
        .select(col("id"), col("meta_removed_bytes").as("second_pass_removed"))
      val px = Multimodal.decodeImagePixelStats(
          once.select(col("id").as("doc_id"), col("payload")), "doc_id")
        .select(col("id"), col("r_sum"), col("g_sum"), col("b_sum"))
      val idc = col("id")
      val pngSum = (lit(168) * (lit(1) + (idc % 5)) +
        lit(120) * (lit(1) + (idc % 4)) + lit(48) * (idc % 200)).cast("long")
      val jOk = Seq(("r_sum", lit(64) * ((idc * 37) % 256)),
          ("g_sum", lit(64) * ((idc * 59 + 85) % 256)),
          ("b_sum", lit(64) * ((idc * 83 + 170) % 256)))
        .map { case (cn, exp) => abs(col(cn) - exp.cast("long")) <= lit(64 * 6) }
        .reduce(_ && _)
      once.join(second, Seq("id")).join(px, Seq("id"))
        .select(idc.as("doc_id"), col("fmt"), col("meta_removed_bytes"),
          col("second_pass_removed"),
          when(idc % 97 === 0, lit(null).cast("boolean"))
            .when(idc % 3 === 1, jOk)
            .otherwise(col("r_sum") === pngSum && col("g_sum") === pngSum &&
              col("b_sum") === pngSum).as("px_ok"))
        .orderBy("doc_id")
    }),

    // M13: the WAV side of the media-PII scrub — recordings with a REAL
    // LIST/INFO artist tag (v0), clean files (v1, reference
    // pass-through), and trailing bytes beyond the RIFF extent (v2, the
    // hiding place); the strip must remove exactly the tag/trailer
    // arithmetic, re-strip to zero, and leave the PCM samples
    // bit-identical (sum mirrored from the generative formula).
    "m13_audio_meta_strip" -> ((s, dir) => {
      import s.implicits._
      val payloads = table(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          if (id % 97 == 0) (id, "garbage".getBytes("UTF-8"))
          else {
            val n = 100 + (id % 7).toInt
            val samples = Array.tabulate(n)(i =>
              (((id + i * 31L) % 1000L) - 500L).toShort)
            val wav = Multimodal.syntheticWavPcm(8000, 1, samples)
            (id % 3).toInt match {
              case 0 =>
                val artist = s"artist$id".getBytes("US-ASCII")
                val pad = artist.length % 2
                val sub = java.nio.ByteBuffer
                  .allocate(8 + artist.length + pad)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                sub.put("IART".getBytes("US-ASCII"))
                  .putInt(artist.length).put(artist)
                (id, Multimodal.addWavChunk(wav, "LIST",
                  "INFO".getBytes("US-ASCII") ++ sub.array()))
              case 1 => (id, wav)
              case _ => (id, wav ++ "hiddenPIItrailer".getBytes("US-ASCII"))
            }
          }
        })
        .toDF("doc_id", "payload")
      val once = Multimodal.stripMediaMetadataDf(payloads, "doc_id")
      val second = Multimodal.stripMediaMetadataDf(
          once.select(col("id").as("doc_id"), col("payload")), "doc_id")
        .select(col("id"), col("meta_removed_bytes").as("second_pass_removed"))
      val pcm = Multimodal.decodeAudioStats(
          once.select(col("id").as("doc_id"), col("payload")), "doc_id")
        .select(col("id"), col("n_samples"), col("pcm_sum"))
      once.join(second, Seq("id")).join(pcm, Seq("id"))
        .select(col("id").as("doc_id"), col("meta_removed_bytes"),
          col("second_pass_removed"), col("n_samples"), col("pcm_sum"))
        .orderBy("doc_id")
    }),

    // W6: robots Crawl-delay feeding the frontier — the politeness
    // surface a real fetcher fleet honors: per-host robots texts carry
    // an evilbot group (punitive delay 99 that graftbot must NOT pick
    // up), a graftbot-specific group on host 5 (delay 7, overriding the
    // '*' group), '*' delays of k+1 elsewhere, and NO delay on k%3=0
    // hosts (crawler default 1.0 applies). REAL parsing on the engine
    // side (group selection + numeric extraction); the oracle restates
    // the resulting per-host delay from the arithmetic. Offsets are
    // integer-valued doubles, so the compare is hash-exact.
    "w6_crawl_delay_schedule" -> ((s, dir) => {
      val delays = graft.operators.Robots.crawlDelays(
        crawlDelayRobots(s), "graftbot")
      val id = col("doc_id")
      val urls = table(s, dir, "documents")
        .select(
          concat(lit("http://site"), (id % 7).cast("string"), lit(".com/p"),
            (id % 50).cast("string")).as("url"),
          concat(lit("site"), (id % 7).cast("string"), lit(".com")).as("host"),
          id)
        .groupBy("host", "url").agg(min("doc_id").as("keeper"))
        .select(col("host"), col("url"),
          ((col("keeper") * 7) % 100).as("priority"))
      val withDelay = urls.join(broadcast(delays), Seq("host"), "left")
        .withColumn("delay_sec", coalesce(col("crawl_delay_sec"), lit(1.0)))
      graft.operators.Frontier.scheduleWithDelays(withDelay, "host", "url",
          "priority", "delay_sec", maxPerHost = Some(5))
        .select(col("host"), col("url"), col("priority"),
          col("fetch_rank").cast("long").as("fetch_rank"),
          col("scheduled_offset_sec"))
        .orderBy("host", "fetch_rank")
    }),

    // W7: INCREMENTAL frontier maintenance — the standing queue built by
    // the real scheduler (paths doc_id%20, priority keeper*7%100, 2 s
    // delay), then a discovery delta (paths doc_id%40 — half its URLs
    // already standing, half genuinely new) merged in WITHOUT re-ranking:
    // every standing row must survive byte-for-byte (rank/offset
    // CONTINUITY — the delta's higher priorities must NOT displace queued
    // fetches), new keys rank after each host's queue tail (5..8), and
    // the merged cap 6 drops the overflow. The oracle restates both the
    // standing ranks and the appended continuation from the arithmetic.
    "w7_frontier_merge" -> ((s, dir) => {
      val id = col("doc_id")
      def urlUniverse(mod: Int) = table(s, dir, "documents")
        .select(
          concat(lit("site"), (id % 5).cast("string"), lit(".com")).as("host"),
          concat(lit("http://site"), (id % 5).cast("string"), lit(".com/p"),
            (id % mod).cast("string")).as("url"),
          id)
        .groupBy("host", "url").agg(min("doc_id").as("keeper"))
      val standing = graft.operators.Frontier.schedule(
        urlUniverse(20).select(col("host"), col("url"),
          ((col("keeper") * 7) % 100).as("priority")),
        "host", "url", "priority", perHostDelaySec = 2)
      val discovered = urlUniverse(40).select(col("host"), col("url"),
        ((col("keeper") * 11) % 100).as("priority"))
      graft.operators.Frontier.mergeSchedule(standing, discovered,
          "host", "url", "priority", perHostDelaySec = 2, maxPerHost = Some(6))
        .select(col("host"), col("url"), col("priority"),
          col("fetch_rank").cast("long").as("fetch_rank"),
          col("scheduled_offset_sec"))
        .orderBy("host", "fetch_rank")
    }),

    // W9: incremental merge of a PER-HOST-DELAY queue — w6's standing
    // schedule (robots Crawl-delay per host, capped at 5) merged with a
    // bigger discovery round (paths doc_id%100 — everything outside each
    // host's standing top-5 is new): appended rows must continue each
    // host's offsets with the HOST'S OWN delay (7.0 on host 5, default
    // 1.0 on k%3=0, else k+1), standing rows survive byte-for-byte, and
    // the merged cap 8 admits 3 new fetches per host. The oracle
    // restates both sides from the delay/priority arithmetic; offsets
    // are integer-valued doubles, so the compare is hash-exact.
    "w9_frontier_merge_delays" -> ((s, dir) => {
      val delays = graft.operators.Robots.crawlDelays(
        crawlDelayRobots(s), "graftbot")
      val id = col("doc_id")
      def universe(mod: Int, mult: Int) = table(s, dir, "documents")
        .select(
          concat(lit("http://site"), (id % 7).cast("string"), lit(".com/p"),
            (id % mod).cast("string")).as("url"),
          concat(lit("site"), (id % 7).cast("string"), lit(".com")).as("host"),
          id)
        .groupBy("host", "url").agg(min("doc_id").as("keeper"))
        .select(col("host"), col("url"),
          ((col("keeper") * mult) % 100).as("priority"))
      def withDelay(u: org.apache.spark.sql.DataFrame) =
        u.join(broadcast(delays), Seq("host"), "left")
          .withColumn("delay_sec", coalesce(col("crawl_delay_sec"), lit(1.0)))
          .drop("crawl_delay_sec")
      val standing = graft.operators.Frontier.scheduleWithDelays(
          withDelay(universe(50, 7)), "host", "url", "priority", "delay_sec",
          maxPerHost = Some(5))
        .select("host", "url", "priority", "fetch_rank",
          "scheduled_offset_sec")
      graft.operators.Frontier.mergeScheduleWithDelays(standing,
          withDelay(universe(100, 11)), "host", "url", "priority",
          "delay_sec", maxPerHost = Some(8))
        .select(col("host"), col("url"), col("priority"),
          col("fetch_rank").cast("long").as("fetch_rank"),
          col("scheduled_offset_sec"))
        .orderBy("host", "fetch_rank")
    }),

    // W8: the acquisition-to-training-set COMPOSITION — CrawlPipeline's
    // kept corpus (the shared w3/w4 run: WARC walk → URL dedup → robots
    // → extract → lang → quality → exact dedup → simhash near-dedup)
    // fed INTO DocPipeline as a token-budget curation pass (the crawl
    // already deduped and quality-gated, so only the budget stage is
    // on): greedy max-quality selection under an 8k-token budget over
    // the crawl survivors. Id handoff: page id = WARC file id (one
    // response per file in this fixture — PipelineComposeSpec pins the
    // general pageId grain). No corpus scan beyond the two pipelines'
    // own: the budget signals ride DocPipeline's single projection over
    // the already-extracted text. The oracle rebuilds the crawl
    // keep-set (the w3 CTE chain), scores survivors with the t21
    // quality expression, and mirrors the running-sum selection.
    "w8_crawl_to_corpus" -> ((s, dir) => {
      val kept = crawlShared(s, dir)._2
      val pages = kept.select(col("id").as("page_id"),
        TextFunctions.htmlText(col("http_body")).as("text"))
      val res = graft.pipeline.DocPipeline.run(pages, "page_id", "text",
        evalDocs = None,
        graft.pipeline.DocPipelineConfig(dedupExact = false,
          qualityGate = false, decontaminate = false,
          tokenBudget = Some(8000L)))
      res.kept
        .select(col("page_id"),
          TextFunctions.textStats("text").getField("n_tokens")
            .cast("long").as("n_tokens"))
        .orderBy("page_id")
    }),

    // W2: sitemap ingestion — per-host sitemap XML synthesized from
    // arithmetic: urlset files (1-3 <url> blocks, lastmod present except
    // on the third) for most docs, sitemapindex files (2 <sitemap>
    // children, no lastmod) for doc_id % 5 = 0, garbage for % 97 = 0;
    // the one-grammar parser must emit the exact entry stream the
    // oracle restates
    "w2_sitemap" -> ((s, dir) => {
      val id = col("doc_id")
      val k = (id % 3 + 1).cast("int")
      def urlBlock(i: Int) = when(lit(i) < k, concat(
        lit("<url>\n <loc> http://site"), id % 7, lit(s".com/p"),
        id.cast("string"), lit(s"_$i </loc>\n"),
        when(lit(i) === 2, lit(""))
          .otherwise(concat(lit("<lastmod>2024-01-"),
            lpad(((id + i) % 28 + 1).cast("string"), 2, "0"),
            lit("</lastmod>\n"))),
        lit("</url>\n"))).otherwise(lit(""))
      val urlset = concat(lit("<urlset>\n"),
        urlBlock(0), urlBlock(1), urlBlock(2), lit("</urlset>"))
      val index = concat(lit("<sitemapindex>\n"),
        lit("<sitemap><loc>http://site"), id % 7,
        lit(".com/sm1.xml</loc></sitemap>\n"),
        lit("<sitemap><loc>http://site"), id % 7,
        lit(".com/sm2.xml</loc></sitemap>\n</sitemapindex>"))
      val xml = when(id % 97 === 0, lit("<html>not a sitemap</html>"))
        .when(id % 5 === 0, index)
        .otherwise(urlset)
      Sitemaps.entries(
          table(s, dir, "documents").select(id, xml.as("xml")),
          "doc_id", "xml")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "loc")
    }),

    // W11: the STEADY-STATE curation loop — corpusDiff → re-score the
    // CHANGED sliver only → mergeUpsert + eviction into the standing
    // kept corpus (DocPipeline.incrementalCurate). The fixture derives
    // both snapshots from arithmetic: %13=5 docs are ADDED (absent from
    // prev), %9=2 docs CHANGED (prev carried text||' OLD'), retired
    // ids (-(doc_id+1) — NEGATIVE, disjoint from every live id at ANY
    // corpus size; a fixed +1e6 offset would collide with real ids at
    // sf10's 6M docs) were REMOVED; the standing kept corpus is
    // the gate's own output over prev. The oracle adjudicates the
    // CONVERGENCE contract: the incrementally-maintained keep-set must
    // equal the t15 gate run from scratch over the current snapshot,
    // with each kept doc's diff status restated from the arithmetic —
    // drift between incremental and batch curation is exactly what
    // this hash-compare would catch. (PipelineComposeSpec pins the
    // delta-proportionality and the index-append composition.)
    "w11_incremental_curation" -> ((s, dir) => {
      val id = col("doc_id")
      val cur = table(s, dir, "documents").select(id, col("text"))
      val prevBase = cur.filter(!(id % 13 === 5))
        .select(id, when(id % 9 === 2, concat(col("text"), lit(" OLD")))
          .otherwise(col("text")).as("text"))
      val retired = cur.filter(id % 17 === 4)
        .select((-(id + 1L)).as("doc_id"), col("text"))
      val prev = prevBase.unionByName(retired)
      val standingKept = prev.filter(
        TextFunctions.qualityFilter("text").getField("keep"))
      val res = graft.pipeline.DocPipeline.incrementalCurate(
        prev, cur, standingKept, "doc_id", "text")
      res.keptNext
        .join(res.diff, Seq("doc_id"), "left")
        .select(col("doc_id"), col("status"),
          TextFunctions.textStats("text").getField("n_tokens")
            .cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // W10: robots `Sitemap:` discovery composed with the frontier — the
    // reference-free gap between the crawl pieces closed in ONE plan:
    // per-host robots texts carry Sitemap records BETWEEN user-agent
    // groups (extraction is group-independent — host 4 declares none,
    // odd hosts declare /sm0 only, even hosts /sm0+/sm1), each declared
    // sitemap is "fetched" as a urlset synthesized from the host's
    // documents (parity j of doc_id picks which sitemap lists it), the
    // real Sitemaps grammar parses the entry stream, lastmod freshness
    // becomes the priority (day of month — a real scheduler's
    // fresher-first policy), and Frontier.mergeSchedule appends the
    // discoveries after a standing queue's tails under the merged cap.
    // The oracle restates discovery (which hosts/docs are listed at
    // all), priorities, and both rank windows from the arithmetic.
    "w10_sitemap_discovery_schedule" -> ((s, dir) => {
      val id = col("doc_id")
      val decls = graft.operators.Robots
        .sitemapDeclarations(sitemapRobots(s))
        .withColumn("k",
          regexp_extract(col("host"), "site([0-9]+)", 1).cast("long"))
        .withColumn("j",
          regexp_extract(col("sitemap_url"), "sm([0-9]+)", 1).cast("long"))
      val blocks = table(s, dir, "documents")
        .select((id % 7).as("k"), (id % 2).as("j"), id.as("i"),
          concat(lit("<url><loc>http://site"), id % 7, lit(".com/sd"),
            id.cast("string"), lit("</loc><lastmod>2024-01-"),
            lpad((id % 28 + 1).cast("string"), 2, "0"),
            lit("</lastmod></url>")).as("block"))
      val xmls = decls.join(blocks, Seq("k", "j"))
        .withColumn("sid", col("k") * 10 + col("j"))
        .groupBy("sid")
        .agg(concat(lit("<urlset>\n"),
          array_join(transform(
            array_sort(collect_list(struct(col("i"), col("block")))),
            x => x.getField("block")), "\n"),
          lit("\n</urlset>")).as("xml"))
      val discovered = Sitemaps.entries(xmls, "sid", "xml")
        .select(TextFunctions.urlHost(col("loc")).as("host"),
          col("loc").as("url"),
          dayofmonth(to_date(col("lastmod"))).cast("long").as("priority"))
      val standingU = table(s, dir, "documents")
        .select(concat(lit("site"), id % 7, lit(".com")).as("host"),
          concat(lit("http://site"), id % 7, lit(".com/p"),
            (id % 10).cast("string")).as("url"),
          id)
        .groupBy("host", "url").agg(min("doc_id").as("keeper"))
        .select(col("host"), col("url"),
          ((col("keeper") * 7) % 100).as("priority"))
      val standing = graft.operators.Frontier.schedule(standingU,
        "host", "url", "priority", perHostDelaySec = 2)
      graft.operators.Frontier.mergeSchedule(standing, discovered,
          "host", "url", "priority", perHostDelaySec = 2,
          maxPerHost = Some(16))
        .select(col("host"), col("url"), col("priority"),
          col("fetch_rank").cast("long").as("fetch_rank"),
          col("scheduled_offset_sec"))
        .orderBy("host", "fetch_rank")
    }),

    // W3: the whole crawl front end as ONE orchestrator — WARC walk →
    // canonical-URL dedup → robots legality → HTML extraction →
    // language gate → quality gate → exact dedup → simhash near-dedup
    // (CrawlPipeline, the DocPipeline pattern applied to the
    // acquisition half). The fixture wraps REAL documents.text in the
    // WARC HTML bodies (groups of 3 pages share one source text, so
    // exact dedup bites), reuses t51's host/path/robots arithmetic (so
    // legality is mirrorable), plants URL aliases at id%13=1 (previous
    // page's URL + tracking params — the canonicalizer folds them, so
    // 05_url_dedup bites), garbage files at id%97 (never parse to
    // pages) and script-only bodies at id%89 (extraction yields empty
    // text). The oracle recomputes every stage's keep-set
    // independently: URL identity from the alias arithmetic, robots
    // from the rule arithmetic, lang/quality/hash/simhash from
    // documents.text with the same CTE fragments t2/t15/d1/d9 pin,
    // near-dup clusters through the recursive-CTE closure — then
    // restates the funnel.
    // Everything between the synthesized bytes and the funnel counts is
    // real engine surface: gzip member walk, HTTP body split, tag
    // stripping, the one-scan metadata contract, the banded self-join,
    // CC, and the anti-joins.
    "w3_crawl_pipeline" -> ((s, dir) =>
      crawlShared(s, dir)._1.orderBy("stage")),

    // W4: the same pipeline's KEPT frame — the oracle rebuilds the final
    // keep-set and each survivor's target URI from the same arithmetic,
    // so the semi-join back onto the re-parsed records is id-exact, not
    // just count-exact.
    "w4_crawl_kept" -> ((s, dir) =>
      crawlShared(s, dir)._2
        .select(col("id").as("doc_id"), col("target_uri"))
        .orderBy("doc_id")),

    // W5: the frontier scheduler composed with URL canonicalization —
    // the discovery→fetch bridge in ONE plan: raw URLs synthesized with
    // case noise (id%5: uppercase scheme+host) and tracking params
    // (id%3), canonicalized (t43's normalizer), URL-deduped (min-id
    // keeper owns the priority), then politeness-scheduled per host
    // (priority DESC, 2 s delay, queue depth capped at 5). The oracle
    // restates canonical identity and priorities from the arithmetic
    // and mirrors the rank/offset windows.
    "w5_frontier_schedule" -> ((s, dir) => {
      val id = col("doc_id")
      val raw = table(s, dir, "documents").select(id,
        concat(
          when(id % 5 === 0, lit("HTTP://SITE")).otherwise(lit("http://site")),
          (id % 7).cast("string"),
          when(id % 5 === 0, lit(".COM/p")).otherwise(lit(".com/p")),
          (id % 50).cast("string"),
          when(id % 3 === 0, lit("?utm_source=x&ref=y")).otherwise(lit("")))
          .as("u"))
      val canon = raw
        .withColumn("url", TextFunctions.canonicalUrl(col("u")))
        .withColumn("_keep",
          col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("url"))))
        .filter(col("_keep"))
        .select(TextFunctions.urlHost(col("url")).as("host"), col("url"),
          ((col("doc_id") * 7) % 100).as("priority"))
      graft.operators.Frontier.schedule(canon, "host", "url", "priority",
          perHostDelaySec = 2, maxPerHost = Some(5))
        .select(col("host"), col("url"), col("priority"),
          col("fetch_rank").cast("long").as("fetch_rank"),
          col("scheduled_offset_sec"))
        .orderBy("host", "fetch_rank")
    }),

    // W1: the crawl-to-graph composition in ONE plan — per-page WARC
    // files (HTML bodies linking to two arithmetic targets) walked by the
    // real record parser, bodies href-extracted, the link graph's degree
    // profile computed; the oracle restates the edges from the same
    // arithmetic and mirrors the degree logic. Everything between the
    // synthesized bytes and the degree rows is real engine surface:
    // gzip member walk, Content-Length slicing, HTTP body split, regex
    // link extraction, edge dedup, the three degree aggregations.
    "w1_web_graph" -> ((s, dir) => {
      import s.implicits._
      val payloads = table(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val t1 = (id * 7 + 1) % 1000
          val t2 = (id * 13 + 2) % 1000
          val body = s"<html><body><p>page $id</p>" +
            s"<a href=\"http://site${t1 % 7}.com/p$t1\">one</a> " +
            s"<a href=\"http://site${t2 % 7}.com/p$t2\">two</a></body></html>"
          val rec = Warc.WarcRecord("response",
            Some(s"http://site${id % 7}.com/p$id"),
            Some("2024-01-01T00:00:00Z"),
            Some("application/http; msgtype=response"),
            ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
              .getBytes("UTF-8"))
          (id, Warc.build(Seq(rec), gzipPerRecord = id % 2 == 0))
        })
        .toDF("doc_id", "payload")
      val edges = Warc.records(payloads, "doc_id")
        .filter(col("record_type") === "response")
        .select(col("id").as("src_page"),
          explode(expr(
            "regexp_extract_all(http_body, 'href=\"([^\"]+)\"', 1)")).as("href"))
        .select(col("src_page"),
          regexp_extract(col("href"), "/p(\\d+)$", 1).cast("long").as("dst_page"))
      graft.operators.Graph.degreeProfile(edges, "src_page", "dst_page")
        .orderBy("node")
    }),

    // M10: REAL audio fingerprinting end-to-end — PCM WAVs synthesized
    // from the same md5 group tables, decoded by hand, envelope-hashed
    // (61 window energies → 60 gradient signs). The 2x resample variant
    // doubles every window energy exactly, so its hash is bit-identical
    // to the base — the invariance the fingerprint exists for; the
    // oracle rebuilds every hash from the bytes without touching a WAV.
    "m10_audio_dhash" -> ((s, dir) =>
      Multimodal.audioDHash(audioPayloads(s, dir), "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // M11: audio near-dup pairs — the same banded Hamming machinery as
    // m9 over the envelope hashes, mirrored structurally.
    "m11_audio_neardup" -> ((s, dir) =>
      Multimodal.audioNearDupPairs(audioPayloads(s, dir), "doc_id",
          maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // D21: exact duplicated-SPAN extraction (substring-grain dedup — the
    // Lee et al. 2021 signal): maximal runs of corpus-duplicated 5-gram
    // positions per document, reported as integer span stats. The Spark
    // side shuffles only 8-byte gram hashes (xxhash64 stands in for gram
    // identity); the oracle groups the raw gram strings — identical
    // outputs unless a 64-bit collision lands inside this corpus
    "d21_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(table(s, dir, "documents"), "doc_id", "text", n = 5)
        .orderBy("doc_id")),

    // D23: exact-substring dedup REMOVAL (Lee et al. 2021) — every token
    // covered by a 5-gram whose first corpus occurrence is strictly
    // earlier (by (doc_id, pos)) is cut; docs digested as kept_hash so
    // the hash compare pins the rebuilt text byte-for-byte
    "d23_exact_substring" -> ((s, dir) =>
      Dedup.exactSubstringDedup(table(s, dir, "documents"), "doc_id", "text",
          n = 5)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("kept_text")).as("kept_hash"))
        .orderBy("doc_id")),

    // T43: URL canonicalization — per-doc messy crawl URLs synthesized
    // from doc_id arithmetic (uppercase scheme/host, trailing host dot,
    // explicit default ports, tracking params in shuffled order,
    // fragments), normalized by the engine; the oracle builds the
    // CANONICAL form directly from the same arithmetic, so any
    // normalizer bug (case, port, param sort/strip, fragment) breaks the
    // hash compare — the m2 synthesize-and-mirror pattern for URLs
    "t43_url_canonicalize" -> ((s, dir) => {
      val id = col("doc_id")
      val scheme = when(id % 2 === 0, "HTTP").otherwise("https")
      val host = concat(lit("WWW.Site"), (id % 7).cast("string"), lit(".COM"),
        when(id % 5 === 0, ".").otherwise(""))
      val port = when(id % 3 === 0, when(id % 2 === 0, ":80").otherwise(":443"))
        .when(id % 3 === 1, ":8080").otherwise("")
      val path = when(id % 4 === 0, "").otherwise(
        concat(lit("/a"), (id % 4).cast("string"), lit("/page")))
      val query = when(id % 3 === 0, "?utm_source=news&b=2&a=1")
        .when(id % 3 === 1, "?b=2&fbclid=XYZ&a=1").otherwise("")
      val frag = when(id % 2 === 0, concat(lit("#sec"), (id % 3).cast("string")))
        .otherwise("")
      val url = concat(scheme, lit("://"), host, port, path, query, frag)
      table(s, dir, "documents")
        .select(id, url.as("raw_url"))
        .select(col("doc_id"),
          TextFunctions.canonicalUrl(col("raw_url")).as("canonical_url"),
          TextFunctions.urlHost(col("raw_url")).as("host"))
        .orderBy("doc_id")
    }),

    // T49: mojibake repair (native fix_mojibake) — per-doc text built
    // from five accented phrases, corrupted by doc_id % 3: clean /
    // cp1252-misdecoded once / misdecoded twice. The mojibake literals
    // are computed at plan-build time by the REAL misdecode (ASCII
    // suffixes commute with it), the engine unwinds them at scan speed,
    // and the oracle states the expected CLEAN text directly from the
    // same arithmetic — a repair bug at any depth, or a spurious change
    // to the clean rows, breaks the hash compare
    "t49_fix_mojibake" -> ((s, dir) => {
      def moji(x: String): String = new String(x.getBytes("UTF-8"), "windows-1252")
      val phrases = Seq("café déjà vu", "naïve coöperation",
        "don’t «quote» me", "price €99 – 50¢", "mañana señor")
      val id = col("doc_id")
      def pick(opts: Seq[String]): org.apache.spark.sql.Column =
        element_at(array(opts.map(lit): _*), (id % 5 + 1).cast("int"))
      val rawP = when(id % 3 === 0, pick(phrases))
        .when(id % 3 === 1, pick(phrases.map(moji)))
        .otherwise(pick(phrases.map(p => moji(moji(p)))))
      val raw = concat(rawP, lit(" #"), id.cast("string"))
      table(s, dir, "documents")
        .select(id, raw.as("raw_text"))
        .select(col("doc_id"),
          TextFunctions.fixMojibake(col("raw_text")).as("fixed_text"),
          (TextFunctions.fixMojibake(col("raw_text")) =!= col("raw_text"))
            .as("changed"))
        .orderBy("doc_id")
    }),

    // T50: Luhn-validated credit-card scrubbing (native luhn_scrub) —
    // per-doc card numbers whose check digit the synthesis computes by
    // the REAL Luhn rule, so the oracle can reconstruct them digit for
    // digit in SQL: valid plain / valid dash-grouped cards must mask to
    // <CC>, a check-digit-broken card and a short digit run must stay
    // byte-identical. A scrubber that regexes without the checksum (or
    // gets the checksum wrong in either direction) fails the hash compare
    "t50_cc_scrub" -> ((s, dir) => {
      import s.implicits._
      val raw = table(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val d = Array.tabulate(15)(j => (((id + 1) * (j + 3) * 7919) % 10).toInt)
          // card = d14 .. d0 then the check digit; d_j sits at position
          // j+2 from the right, so j-even digits double under Luhn
          val s15 = (14 to 0 by -1).map(d).mkString
          val sum = d.zipWithIndex.map { case (x, j) =>
            if (j % 2 == 0) { val y = 2 * x; if (y > 9) y - 9 else y } else x
          }.sum
          val c = (10 - sum % 10) % 10
          val cbad = (c + 5) % 10
          val card = s15 + c
          val text = (id % 4).toInt match {
            case 0 => s"pay $card today #$id"
            case 1 => s"card ${card.grouped(4).mkString("-")} on file #$id"
            case 2 => s"pay $s15$cbad today #$id"
            case _ => s"order ${s15.take(8)} #$id"
          }
          (id, text)
        })
        .toDF("doc_id", "raw_text")
      raw.select(col("doc_id"),
          TextFunctions.luhnScrub(col("raw_text")).as("scrubbed"),
          (TextFunctions.luhnScrub(col("raw_text")) =!= col("raw_text"))
            .as("changed"))
        .orderBy("doc_id")
    }),

    // T51: robots.txt compliance filtering — per-host robots files with
    // an agent-specific deny-all group (which our agent must NOT pick
    // up), a '*' group whose Disallow/Allow pair exercises the
    // longest-prefix-match override, plus a garbage-robots host (no
    // rules = allow-all, the web default) and a host with no robots row;
    // the oracle restates every allow/deny from the same arithmetic
    "t51_robots_filter" -> ((s, dir) => {
      import s.implicits._
      def c(m: Int) = ('a' + m).toChar
      val robotsDf = ((0 until 7).map { k =>
        (s"site$k.com",
          "User-agent: evilbot\nDisallow: /\n\n" +
            s"User-agent: *\nDisallow: /s${c(k)}\n" +
            s"Allow: /s${c(k)}/p\nDisallow: /s${c((k + 1) % 11)}\n")
      } :+ (("site9.com", "<html>404 not found</html>")))
        .toDF("host", "robots_txt")
      val id = col("doc_id")
      val hostIdx = when(id % 97 === 0, lit("9"))
        .when(id % 89 === 0, lit("8"))
        .otherwise((id % 7).cast("string"))
      val url = concat(lit("http://site"), hostIdx, lit(".com/s"),
        expr("char(97 + cast(doc_id % 11 as int))"), lit("/p"),
        id.cast("string"))
      val pages = table(s, dir, "documents").select(id, url.as("url"))
      Robots.filterByRobots(pages, robotsDf, "doc_id", "url",
          TextFunctions.urlHost(col("url")), agent = "graftbot")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // T52: script-mix profiling — per-doc multilingual text built from
    // repeated Latin/Cyrillic/Greek/CJK/Arabic words, counted by the
    // SAME explicit code-point ranges on both engines and argmaxed with
    // the same priority chain, so exactness is structural: any range or
    // tie-break drift breaks the hash compare
    "t52_script_mix" -> ((s, dir) => {
      val id = col("doc_id")
      val text = concat(
        repeat(lit("hello "), (id % 3 + 1).cast("int")),
        repeat(lit("мир "), (id % 4).cast("int")),
        repeat(lit("κόσμος "), (id % 2).cast("int")),
        repeat(lit("世界 "), (id % 5).cast("int")),
        repeat(lit("سلام "), (id % 3).cast("int")),
        lit("#"), id.cast("string"))
      table(s, dir, "documents").select(id, text.as("text"))
        .withColumn("p", TextFunctions.scriptProfile("text"))
        .select(id, col("p.n_latin"), col("p.n_cyrillic"), col("p.n_greek"),
          col("p.n_cjk"), col("p.n_arabic"), col("p.n_digit"),
          col("p.dominant"))
        .orderBy("doc_id")
    }),

    // T47: native Jaro-Winkler scoring — each doc's t45-style variant
    // name scored against its group's canonical form AND against a
    // reversed decoy; the oracle recomputes through DuckDB's
    // INDEPENDENT C++ jaro_winkler_similarity, so the 4dp hash compare
    // pins the whole convention (matching window, half-transpositions,
    // 0.7 boost threshold, 4-char prefix cap, empty-input zeros)
    "t47_name_similarity" -> ((s, dir) => {
      val id = col("doc_id")
      val g = expr("doc_id div 4")
      val words = array(Seq("Acme", "Borel", "Cyan", "Delta", "Ember",
        "Flux", "Gamma", "Helix", "Ionic", "Joule", "Kappa", "Lumen")
        .map(lit): _*)
      val base = concat(element_at(words, (g % 12 + 1).cast("int")),
        substring(md5(g.cast("string")), 1, 6))
      val variant = lower(concat(base,
        when(id % 3 === 0, " Corp").when(id % 3 === 1, " Corp.")
          .otherwise(" Co")))
      val canonical = lower(concat(base, lit(" Corp")))
      table(s, dir, "documents")
        .select(id,
          round(TextFunctions.jaroWinkler(variant, canonical), 4).as("jw_canonical"),
          round(TextFunctions.jaroWinkler(variant, reverse(canonical)), 4).as("jw_decoy"))
        .orderBy("doc_id")
    }),

    // T48: HTML extraction + boilerplate scoring over markup synthesized
    // from doc_id arithmetic (the t43 synthesize-and-mirror pattern):
    // comments, a style block, a script whose BODY contains a bare '<'
    // and markup-looking text (the case that breaks naive tag-stripping),
    // entity references, and a link-density gradient (0 / 1 / 3 anchors
    // per doc by id%3). The oracle re-implements the chain in DuckDB's
    // RE2 — two independent regex engines agreeing on text, entity and
    // density output pins the whole extraction convention
    "t48_html_extract" -> ((s, dir) => {
      val id = col("doc_id")
      val html = concat(
        lit("<html><head><title>Doc "), id.cast("string"),
        lit("</title><style type=\"text/css\">p { color: red; }</style>"),
        lit("<script>if (1 < 2) { x = \"&amp;\"; } document.write(\"<b>junk</b>\");</script>"),
        lit("</head><body><!-- hidden "), (id % 5).cast("string"),
        lit(" --><h1>Heading "), (id % 7).cast("string"),
        lit("</h1><p>Body text &amp; entity &lt;tag&gt; with <b>bold "),
        (id % 3).cast("string"),
        lit("</b> and&nbsp;spaced words here.</p>"),
        when(id % 3 === 0, lit("<ul><li><a href=\"/nav1\">Nav One</a></li>" +
            "<li><a href=\"/nav2\">Nav Two</a></li>" +
            "<li><a href=\"/nav3\">Nav Three</a></li></ul>"))
          .when(id % 3 === 1, lit("<p><a href=\"/more\">read more</a></p>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      table(s, dir, "documents")
        .select(id, html.as("html"))
        .select(col("doc_id"),
          TextFunctions.htmlText(col("html")).as("text"),
          length(TextFunctions.htmlText(col("html"))).cast("long").as("n_chars"),
          TextFunctions.htmlLinkDensity(col("html")).as("link_density"),
          TextFunctions.htmlTextRatio(col("html")).as("text_ratio"))
        .orderBy("doc_id")
    }),

    // T46: key-wise UPSERT (merge-into) — the corpusDiff-family write:
    // patched rows replace, fresh rows append, untouched rows survive;
    // the update row wins whole (no per-column coalesce)
    "t46_upsert" -> ((s, dir) => {
      val base = table(s, dir, "documents")
      val mods = base.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("patched"))
        .withColumn("n_chars", col("n_chars") + 1)
      val news = base.filter(col("doc_id") < 25)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("source", lit("fresh"))
      Dedup.mergeUpsert(base, mods.unionByName(news), Seq("doc_id"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // D22: the PPJoin/AllPairs prefix-filtered exact Jaccard join — the
    // candidate join reads only each doc's rarest ~20% of shingles
    // (ascending-df global order), then candidates verify exactly; the
    // oracle is d2's UNFILTERED plain-join SQL, so the compare proves
    // the prefix filter loses nothing
    "d22_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(table(s, dir, "documents"), "doc_id", "text",
          n = 3, minJaccard = 0.8)
        .orderBy("doc_a", "doc_b")),

    // T45: blocked fuzzy record matching — entity names synthesized
    // from doc_id arithmetic: 12 base words x 120 numbered groups, case
    // noise, and suffix variants (Corp / Corp. / Co). blockPrefix = 6
    // reaches past the word into the group digits, so block count grows
    // with name diversity and no single block degenerates (the first
    // fixture's shared 3-char prefix collapsed 5k names into 2 blocks —
    // one skewed task doing the whole quadratic). The short "Co"
    // variant of short-worded groups still lands in a different length
    // band — the blocking recall loss stays part of what the oracle
    // verifies
    "t45_fuzzy_match" -> ((s, dir) => {
      val id = col("doc_id")
      // entity count grows WITH the corpus (a real corpus's name
      // vocabulary scales with its record count) — a fixed modulus made
      // block sizes linear in corpus size and the in-block quadratic
      // exploded 44x on the 10x sf1 rehearsal
      val g = expr("doc_id div 4")
      val words = array(Seq("Acme", "Borel", "Cyan", "Delta", "Ember",
        "Flux", "Gamma", "Helix", "Ionic", "Joule", "Kappa", "Lumen")
        .map(lit): _*)
      // the group id enters the name as a 6-char md5 code, not digits:
      // hash chars are uniform under ANY id layout (raw digits let sf1's
      // 100M-stride copy offsets stamp one shared prefix on a whole
      // copy's groups and collapse the blocks), and DISTINCT entities
      // differ in ~all 6 chars, so cross-entity pairs clear maxEdit and
      // only true variants match — the realistic name-entropy shape
      val nm = concat(element_at(words, (g % 12 + 1).cast("int")),
        substring(md5(g.cast("string")), 1, 6),
        when(id % 3 === 0, " Corp").when(id % 3 === 1, " Corp.")
          .otherwise(" Co"))
      Dedup.fuzzyMatchPairs(
          table(s, dir, "documents").select(id, nm.as("name")),
          "doc_id", "name", blockPrefix = 6)
        .orderBy("id_a", "id_b")
    }),

    // T44: DSIR importance weighting (Xie et al. 2023) — every document
    // scored by the unigram log-likelihood ratio of an English-target LM
    // vs the whole-corpus LM, top-100 selected; per-token ratios are
    // 1e-8-quantized before summing so five-digit weights hash-match
    // across engines (the t19/t20 ladder, applied cross-corpus)
    "t44_dsir_select" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      graft.operators.Keywords.dsirWeights(docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), topK = 100)
        .orderBy("doc_id")
    })
  )

  /** v9/v2 oracle chains, shared verbatim by the v15 RRF fusion. */
  private lazy val v9Sql: String =
    s"""WITH ${pqCtes(4, 16, 2, 64)},
       |${pqScoredCte(4, 2, 64)},
       | ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank"
       |  FROM scored
       | )
       |SELECT query_id, "rank", neighbor_id, score
       |FROM ranked WHERE "rank" <= 3
       |ORDER BY query_id, "rank"""".stripMargin

  private lazy val v2Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | tb AS (
         |  SELECT vec_id, t,
         |         CAST(list_sum(list_transform(generate_series(0, 3), i ->
         |           CASE WHEN list_dot_product(v,
         |                  list_transform(generate_series(0, 63),
         |                    d -> (((t * 4 + i) * 64 + d) * 2654435761) % 1000 / 1000.0 - 0.5)) >= 0.0
         |                THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS INT) AS bucket
         |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS t) tt
         | ),
         | cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM tb q JOIN tb c ON q.t = c.t AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20
         | ),
         | scored AS (
         |  SELECT query_id, neighbor_id,
         |         ROUND(list_dot_product(qe.v, ce.v)
         |               / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))), 4) AS cosine
         |  FROM cand
         |  JOIN e qe ON qe.vec_id = cand.query_id
         |  JOIN e ce ON ce.vec_id = cand.neighbor_id
         | ),
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM scored
         | )
         |SELECT query_id, "rank", neighbor_id, cosine
         |FROM ranked WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin

  /** The v11 IVF+PQ mirror, shared with ir4: the index-served search is
    * bit-identical to the in-flight operator (IvfPqIndexSpec), so one
    * oracle adjudicates both. */
  /** The ir1 BM25 mirror, shared with ir9's lexical side. */
  private lazy val bm25Sql: String =
    s"""$wCte,
       | terms AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w),
       | qt AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl FROM terms
       |        WHERE term IN ('hash', 'join', 'merge') GROUP BY 1, 2),
       | dfq AS (SELECT term, COUNT(*) AS df FROM qt GROUP BY 1),
       | st AS (SELECT COUNT(*) AS n_docs, AVG(len($ws)) AS avgdl FROM documents),
       | scored AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
       |         ROUND(SUM(CAST(ROUND(
       |           ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
       |             * (qt.tf * (1.2 + 1.0))
       |             / (qt.tf + 1.2 * (1.0 - 0.75 + 0.75 * qt.dl / st.avgdl))
       |           * 100000000) AS BIGINT)) / 100000000.0, 4) AS score
       |  FROM qt JOIN dfq USING (term) CROSS JOIN st GROUP BY doc_id
       | ),
       | ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS "rank"
       |            FROM scored)
       |SELECT "rank", doc_id, n_matched, score FROM ranked
       |WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin

  private lazy val ivfPqTopkSql: String =
    s"""WITH ${pqCtes(4, 16, 2, 64)},
       |${ivfPqScoredCte(4, 2, 64, 16, 4)},
       | ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank"
       |  FROM scored
       | )
       |SELECT query_id, "rank", neighbor_id, score
       |FROM ranked WHERE "rank" <= 3
       |ORDER BY query_id, "rank"""".stripMargin

  /** The d17 incremental near-dup mirror, shared with ir5 (probe ==
    * in-flight == this restatement, BandIndexSpec). */
  private lazy val incrementalNearDupSql: String =
    s"""$wCte,
       |$minhashBandCtes
       |SELECT a.doc_id AS doc_id, b.doc_id AS ref_id, COUNT(*) AS shared_bands
       |FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh
       |WHERE a.doc_id >= 250 AND b.doc_id < 250
       |GROUP BY 1, 2
       |ORDER BY doc_id, ref_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "d00_corpus_warmup" ->
      """SELECT 'documents' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents
        |UNION ALL
        |SELECT 'embeddings', CAST(COUNT(*) AS BIGINT) FROM embeddings
        |ORDER BY tbl""".stripMargin,

    // ir00: each fixture's row count restated from source-table
    // arithmetic — band index = bands(16) rows per doc (< 250), corpus
    // store = the ir7 key set, gauge ledger = 2 committed batches ×
    // the query batch, codes = one per embedding, seen set = the 60%
    // URL membership, text index = the corpus
    "ir00_fixture_warmup" ->
      """SELECT * FROM (
        | SELECT 'band_index' AS fixture, CAST(16 * COUNT(*) AS BIGINT) AS n_rows
        | FROM documents WHERE doc_id < 250
        | UNION ALL
        | SELECT 'corpus_store', CAST(COUNT(*) AS BIGINT) FROM documents
        | WHERE (doc_id % 3 = 0 OR doc_id % 5 = 0) AND doc_id % 7 <> 0
        | UNION ALL
        | SELECT 'gauge_ledger', CAST(2 * COUNT(*) AS BIGINT) FROM embeddings
        | WHERE vec_id < 20
        | UNION ALL
        | SELECT 'ivfpq_codes', CAST(COUNT(*) AS BIGINT) FROM embeddings
        | UNION ALL
        | SELECT 'seen_set', CAST(COUNT(*) AS BIGINT) FROM documents
        | WHERE doc_id % 10 < 6
        | UNION ALL
        | SELECT 'text_index', CAST(COUNT(*) AS BIGINT) FROM documents
        |) ORDER BY fixture""".stripMargin,

    // ir0: the index's stats sidecar recomputed independently — same
    // whitespace tokenizer as every other oracle (the `w` CTE)
    "ir0_index_build" ->
      s"""$wCte
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(nt) AS BIGINT) AS sum_dl,
         |       ROUND(SUM(nt) * 1.0 / COUNT(*), 4) AS avgdl
         |FROM w""".stripMargin,

    // t16: the Spark side emits compression invariants (round-trip, raw
    // worst-case length bound, LZ77 doubled-text witness) that must hold
    // for EVERY row; the oracle asserts exactly that, plus the one value
    // DuckDB can compute independently (UTF-8 byte length)
    "t16_compress_ratio" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       TRUE AS roundtrip_ok, TRUE AS len_bound_ok, TRUE AS double_gain_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // t18: the Spark side emits the sketch's rank-error-bound booleans per
    // language; the oracle asserts them universally TRUE and matches the
    // per-language row counts
    "t18_quality_quantiles_approx" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok, TRUE AS q90_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "t1_text_stats" ->
      s"""$wCte,
         | stats AS (
         |  SELECT doc_id, lang, nt AS n_tokens, len(list_distinct(ws)) AS n_types,
         |         length(norm) AS nc,
         |         length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g')) AS nclean,
         |         len(list_filter(ws, t -> ${inList("t", TextFunctions.Stopwords)})) AS nstop
         |  FROM w
         | )
         |SELECT doc_id, lang, n_tokens, n_types,
         |       ROUND(n_types * 1.0 / n_tokens, 4) AS ttr,
         |       ROUND((nc - (n_tokens - 1)) * 1.0 / n_tokens, 4) AS avg_token_len,
         |       ROUND((nc - nclean) * 1.0 / nc, 4) AS punct_ratio,
         |       ROUND(nstop * 1.0 / n_tokens, 4) AS stopword_ratio,
         |       ROUND(LEAST(1.0, n_tokens / 50.0) * (n_types * 1.0 / n_tokens)
         |             * (1.0 - (nc - nclean) * 1.0 / nc), 4) AS quality_score
         |FROM stats ORDER BY doc_id""".stripMargin,

    "t2_lang_id" ->
      s"""$wCte,
         | scores AS (
         |  SELECT doc_id, lang,
         |${TextFunctions.LangMarkers.map { case (l, m) =>
             s"         len(list_filter(ws, t -> ${inList("t", m)})) AS score_$l"
           }.mkString(",\n")}
         |  FROM w
         | )
         |SELECT doc_id, lang, score_de, score_en, score_es, score_fr, score_zh,
         |       CASE GREATEST(score_de, score_en, score_es, score_fr, score_zh)
         |            WHEN score_de THEN 'de' WHEN score_en THEN 'en'
         |            WHEN score_es THEN 'es' WHEN score_fr THEN 'fr'
         |            ELSE 'zh' END AS predicted
         |FROM scores ORDER BY doc_id""".stripMargin,

    "t3_fingerprint" ->
      s"""$wCte,
         | fp AS (
         |  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS bag_fingerprint
         |  FROM w
         | ),
         | tok AS (SELECT doc_id, nt, unnest(ws) AS t FROM w),
         | tokj AS (SELECT doc_id, nt, t, unnest(generate_series(0, 59)) AS j FROM tok),
         | bits AS (
         |  SELECT doc_id, nt, j,
         |         ((strpos('0123456789abcdef', substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
         |          >> CAST(3 - (j % 4) AS INT)) & 1 AS bit
         |  FROM tokj
         | ),
         | ones AS (SELECT doc_id, nt, j, SUM(bit) AS ones FROM bits GROUP BY 1, 2, 3),
         | sh AS (
         |  SELECT doc_id,
         |         SUM(CASE WHEN 2 * ones > nt THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS simhash
         |  FROM ones GROUP BY 1
         | )
         |SELECT fp.doc_id AS doc_id, bag_fingerprint, CAST(simhash AS BIGINT) AS simhash
         |FROM fp JOIN sh ON fp.doc_id = sh.doc_id
         |ORDER BY fp.doc_id""".stripMargin,

    "d1_exact_dedup" ->
      s"""WITH h AS (
         |  SELECT doc_id, md5(lower($norm)) AS content_hash FROM documents
         | )
         |SELECT doc_id, content_hash,
         |       COUNT(*) OVER (PARTITION BY content_hash) AS cluster_size,
         |       MIN(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
         |       doc_id <> MIN(doc_id) OVER (PARTITION BY content_hash) AS is_duplicate
         |FROM h ORDER BY doc_id""".stripMargin,

    // the co-occurrence join runs on a 60-bit shingle hash (15 md5 hex
    // digits = hi7 << 32 + lo8, both halves exact in doubles) — mirror of
    // Dedup.shingleHash60
    "d2_jaccard_neardup" ->
      s"""$wCte,
         |${jaccardCtes()}
         |SELECT doc_a, doc_b, n_shared,
         |       ROUND(n_shared * 1.0 / (sa.n + sb.n - n_shared), 4) AS jaccard
         |FROM inter
         |JOIN sz sa ON doc_a = sa.doc_id
         |JOIN sz sb ON doc_b = sb.doc_id
         |WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    // D22: the SAME plain-join SQL as d2 — prefix filtering is an
    // exact-candidate-pruning optimization, so output equality against
    // the unfiltered co-occurrence join IS the adjudication (the g3
    // independent-algorithm pattern)
    "d22_jaccard_prefix" ->
      s"""$wCte,
         |${jaccardCtes()}
         |SELECT doc_a, doc_b, n_shared,
         |       ROUND(n_shared * 1.0 / (sa.n + sb.n - n_shared), 4) AS jaccard
         |FROM inter
         |JOIN sz sa ON doc_a = sa.doc_id
         |JOIN sz sb ON doc_b = sb.doc_id
         |WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    // D19: same shingle CTEs, min-size denominator, smaller side named
    "d19_containment" ->
      s"""$wCte,
         |${jaccardCtes()}
         |SELECT doc_a, doc_b, n_shared,
         |       CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END AS contained,
         |       ROUND(n_shared * 1.0 / LEAST(sa.n, sb.n), 4) AS containment
         |FROM inter
         |JOIN sz sa ON doc_a = sa.doc_id
         |JOIN sz sb ON doc_b = sb.doc_id
         |WHERE n_shared * 1.0 / LEAST(sa.n, sb.n) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    // D4: duplicate clusters — connected components of the >= 0.8-Jaccard
    // pair graph; component = min reachable doc id (transitive closure via
    // recursive CTE on the oracle side, min-label propagation in Spark)
    "d4_dedup_clusters" -> dedupClustersSql,

    // D6: identical contract, large-star/small-star on the Spark side
    "d6_dedup_clusters_star" -> dedupClustersSql,

    // D5: capped mirror — the QUALIFY df-filter runs before sizes/pairing,
    // exactly like the Spark-side window filter in Dedup.jaccardPairs
    "d5_jaccard_capped" ->
      s"""$wCte,
         |${jaccardCtes(maxDocFreq = Some(3))}
         |SELECT doc_a, doc_b, n_shared,
         |       ROUND(n_shared * 1.0 / (sa.n + sb.n - n_shared), 4) AS jaccard
         |FROM inter
         |JOIN sz sa ON doc_a = sa.doc_id
         |JOIN sz sb ON doc_b = sb.doc_id
         |WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    // MinHash family mirrored exactly: base hash = first 8 md5 hex digits
    // masked to 31 bits, then 64 affine permutations mod 2^31-1.
    "d3_minhash_lsh" ->
      s"""$wCte,
         |$minhashBandCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
         |FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // D17: the same band chain, asymmetric join across the 250 split —
    // batch (>= 250) vs reference (< 250) only, mirroring
    // Dedup.incrementalNearDup over the in-table corpus split
    "d17_incremental_neardup" -> incrementalNearDupSql,

    // IR5: the index-served probe — bit-identical to d17 by the
    // BandIndexSpec contract (probe == in-flight, append == rebuild),
    // so the same mirror adjudicates both
    "ir5_neardup_index_probe" -> incrementalNearDupSql,

    // IR7: the maintained store's final state from the change
    // arithmetic — the store semantics (mergeUpsert then anti-join) ARE
    // the restatement; CorpusStoreSpec pins that the physical
    // bucket-rewrite path implements exactly this
    // IR10: the ledger→decision fold — each ledger entry's per-query
    // recalls re-derived (the ir8 gauge arithmetic restricted to the
    // entry's sliver: the approx side is the v11 chain filtered to the
    // sliver — encoding is per-vector, so the restriction commutes
    // with the probe), unioned and averaged; n_batches is the two
    // committed entries by construction (both slivers are non-empty at
    // every sf)
    "ir10_rebuild_decision" ->
      s"""WITH ${pqCtes(4, 16, 2, 64)},
         |${ivfPqScoredCte(4, 2, 64, 16, 4)},
         | ar0 AS (
         |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
         |  FROM scored WHERE neighbor_id % 3 = 0
         | ),
         | ap0 AS (SELECT query_id, neighbor_id FROM ar0 WHERE rnk <= 3),
         | bs0 AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         ROUND(list_dot_product(q.v, e.v)
         |               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cosine
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q, e
         |  WHERE e.vec_id % 3 = 0 AND e.vec_id <> q.vec_id
         | ),
         | br0 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM bs0),
         | tr0 AS (SELECT query_id, neighbor_id FROM br0 WHERE rnk <= 3),
         | rec0 AS (
         |  SELECT t.query_id, ROUND(COUNT(a.neighbor_id) * 1.0 / COUNT(*), 4) AS recall
         |  FROM tr0 t LEFT JOIN ap0 a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |  GROUP BY t.query_id
         | ),
         | ar1 AS (
         |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
         |  FROM scored WHERE neighbor_id % 3 = 1
         | ),
         | ap1 AS (SELECT query_id, neighbor_id FROM ar1 WHERE rnk <= 3),
         | bs1 AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         ROUND(list_dot_product(q.v, e.v)
         |               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cosine
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q, e
         |  WHERE e.vec_id % 3 = 1 AND e.vec_id <> q.vec_id
         | ),
         | br1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk FROM bs1),
         | tr1 AS (SELECT query_id, neighbor_id FROM br1 WHERE rnk <= 3),
         | rec1 AS (
         |  SELECT t.query_id, ROUND(COUNT(a.neighbor_id) * 1.0 / COUNT(*), 4) AS recall
         |  FROM tr1 t LEFT JOIN ap1 a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |  GROUP BY t.query_id
         | ),
         | rec AS (SELECT recall FROM rec0 UNION ALL SELECT recall FROM rec1)
         |SELECT CAST(2 AS BIGINT) AS n_batches,
         |       CAST(COUNT(*) AS BIGINT) AS n_queries,
         |       ROUND(CAST(AVG(recall) AS DOUBLE), 4) AS mean_recall,
         |       CAST(CASE WHEN COUNT(*) > 0
         |                  AND ROUND(CAST(AVG(recall) AS DOUBLE), 4) < 0.9
         |            THEN 1 ELSE 0 END AS INT) AS should_rebuild
         |FROM rec""".stripMargin,

    "ir7_corpus_store" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        | up AS (SELECT doc_id, text || ' v2' AS text
        |        FROM documents WHERE doc_id % 5 = 0),
        | merged AS (
        |  SELECT * FROM up
        |  UNION ALL
        |  SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM up)
        | )
        |SELECT doc_id, md5(text) AS content_md5
        |FROM merged WHERE doc_id % 7 <> 0
        |ORDER BY doc_id""".stripMargin,

    // IR11: version 2 = after the upsert, before the delete — the ir7
    // arithmetic WITHOUT the final delete filter
    "ir11_corpus_time_travel" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        | up AS (SELECT doc_id, text || ' v2' AS text
        |        FROM documents WHERE doc_id % 5 = 0),
        | merged AS (
        |  SELECT * FROM up
        |  UNION ALL
        |  SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM up)
        | )
        |SELECT doc_id, md5(text) AS content_md5
        |FROM merged
        |ORDER BY doc_id""".stripMargin,

    // IR6: the seen-set probe restated as the plain anti-join over the
    // same doc_id-arithmetic URL universe — probeNovel is EXACT (Bloom
    // has no false negatives; false positives die in the string-equality
    // confirm), so set membership arithmetic is the whole truth
    "ir6_seen_set_probe" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'http://h' || CAST(doc_id % 13 AS VARCHAR)
        |           || '.example/p/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents
        | )
        |SELECT doc_id, url FROM u b
        |WHERE doc_id % 10 >= 4
        |  AND NOT EXISTS (SELECT 1 FROM u s WHERE s.doc_id % 10 < 6 AND s.url = b.url)
        |ORDER BY doc_id""".stripMargin,

    // D18: 32-token non-overlapping chunk hashes; first occurrence in
    // (doc_id, chunk_id) order is canonical, the rest are duplicates
    "d18_chunk_dedup" ->
      s"""$wCte,
         | ch AS (
         |  SELECT doc_id, ws,
         |         unnest(generate_series(0, CAST(nt - 1 AS BIGINT), 32)) AS s
         |  FROM w
         | ),
         | h AS (
         |  SELECT doc_id, CAST(s // 32 AS INT) AS chunk_id,
         |         md5(array_to_string(list_slice(ws, CAST(s + 1 AS INT), CAST(s + 32 AS INT)), ' ')) AS chunk_hash
         |  FROM ch
         | )
         |SELECT doc_id, chunk_id, chunk_hash,
         |       CAST(COUNT(*) OVER (PARTITION BY chunk_hash) AS BIGINT) AS occurrences,
         |       ROW_NUMBER() OVER (PARTITION BY chunk_hash ORDER BY doc_id, chunk_id) > 1 AS is_duplicate
         |FROM h ORDER BY doc_id, chunk_id""".stripMargin,

    "v1_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
         | scored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         ROUND(list_dot_product(qv, v)
         |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) AS cosine
         |  FROM q, e WHERE e.vec_id <> q.query_id
         | ),
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM scored
         | )
         |SELECT query_id, "rank", neighbor_id, cosine
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin,

    // T7: winnowing mirror — positional (non-distinct) shingles, the same
    // 60-bit hash, a 4-wide window min over full windows only, distinct
    // minima digested as md5 over the sorted list; short docs (< window
    // + n - 1 tokens) come back via the left join as (doc_id, 0, NULL)
    "t7_winnowing" ->
      s"""$wCte,
         | shp AS (
         |  SELECT doc_id,
         |         unnest(generate_series(1, len(ws) - 2)) AS pos,
         |         unnest(list_transform(generate_series(1, len(ws) - 2),
         |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sstr
         |  FROM w WHERE len(ws) >= 3
         | ),
         | sh AS (SELECT doc_id, pos, ${hash60Sql("sstr")} AS h FROM shp),
         | mn AS (
         |  SELECT doc_id, pos,
         |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         |         COUNT(*) OVER (PARTITION BY doc_id) AS n_pos
         |  FROM sh
         | ),
         | sel AS (SELECT DISTINCT doc_id, wmin FROM mn WHERE pos <= n_pos - 3),
         | fp AS (
         |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_fingerprints,
         |         md5(array_to_string(list_sort(list(wmin)), ' ')) AS fp_hash
         |  FROM sel GROUP BY doc_id
         | )
         |SELECT d.doc_id AS doc_id,
         |       COALESCE(n_fingerprints, 0) AS n_fingerprints, fp_hash
         |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
         |ORDER BY doc_id""".stripMargin,

    // D7: the d10 auto-plane mirror at 12 tables — p derived from
    // COUNT(*) exactly like Dedup.autoPlanes, then the same bucket CTE
    "d7_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | params AS (SELECT GREATEST(4, CAST(CEIL(LOG2(COUNT(*) / 64.0)) AS INT)) AS p FROM e),
         | tb AS (
         |  SELECT vec_id, t,
         |         CAST(list_sum(list_transform(generate_series(0, p - 1), i ->
         |           CASE WHEN list_dot_product(v,
         |                  list_transform(generate_series(0, 63),
         |                    d -> (((t * p + i) * 64 + d) * 2654435761) % 1000 / 1000.0 - 0.5)) >= 0.0
         |                THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS INT) AS bucket
         |  FROM e CROSS JOIN params CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS t) tt
         | ),
         | cand AS (
         |  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM tb a JOIN tb b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         | ),
         | scored AS (
         |  SELECT doc_a, doc_b,
         |         ROUND(list_dot_product(ae.v, be.v)
         |               / (sqrt(list_dot_product(ae.v, ae.v)) * sqrt(list_dot_product(be.v, be.v))), 4) AS cosine
         |  FROM cand JOIN e ae ON ae.vec_id = doc_a JOIN e be ON be.vec_id = doc_b
         | )
         |SELECT doc_a, doc_b, cosine FROM scored
         |WHERE cosine >= 0.4 ORDER BY doc_a, doc_b""".stripMargin,

    // D16: the d7 mirror with the occupancy cap — over-full (t, bucket)
    // cells (degenerate directions) drop WHOLE, before any pair forms;
    // count-based, so deterministic on both engines
    "d16_embedding_neardup_capped" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | tb0 AS (
         |  SELECT vec_id, t,
         |         CAST(list_sum(list_transform(generate_series(0, 3), i ->
         |           CASE WHEN list_dot_product(v,
         |                  list_transform(generate_series(0, 63),
         |                    d -> (((t * 4 + i) * 64 + d) * 2654435761) % 1000 / 1000.0 - 0.5)) >= 0.0
         |                THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS INT) AS bucket
         |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS t) tt
         | ),
         | tb AS (
         |  SELECT vec_id, t, bucket FROM tb0
         |  QUALIFY COUNT(*) OVER (PARTITION BY t, bucket) <= 30
         | ),
         | cand AS (
         |  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM tb a JOIN tb b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         | ),
         | scored AS (
         |  SELECT doc_a, doc_b,
         |         ROUND(list_dot_product(ae.v, be.v)
         |               / (sqrt(list_dot_product(ae.v, ae.v)) * sqrt(list_dot_product(be.v, be.v))), 4) AS cosine
         |  FROM cand JOIN e ae ON ae.vec_id = doc_a JOIN e be ON be.vec_id = doc_b
         | )
         |SELECT doc_a, doc_b, cosine FROM scored
         |WHERE cosine >= 0.4 ORDER BY doc_a, doc_b""".stripMargin,

    // D8: same mirror with the 7-plane bucket CTE
    "d8_embedding_neardup_bounded" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | tb AS (
         |  SELECT vec_id, t,
         |         CAST(list_sum(list_transform(generate_series(0, 6), i ->
         |           CASE WHEN list_dot_product(v,
         |                  list_transform(generate_series(0, 63),
         |                    d -> (((t * 7 + i) * 64 + d) * 2654435761) % 1000 / 1000.0 - 0.5)) >= 0.0
         |                THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS INT) AS bucket
         |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS t) tt
         | ),
         | cand AS (
         |  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM tb a JOIN tb b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         | ),
         | scored AS (
         |  SELECT doc_a, doc_b,
         |         ROUND(list_dot_product(ae.v, be.v)
         |               / (sqrt(list_dot_product(ae.v, ae.v)) * sqrt(list_dot_product(be.v, be.v))), 4) AS cosine
         |  FROM cand JOIN e ae ON ae.vec_id = doc_a JOIN e be ON be.vec_id = doc_b
         | )
         |SELECT doc_a, doc_b, cosine FROM scored
         |WHERE cosine >= 0.4 ORDER BY doc_a, doc_b""".stripMargin,

    // D10: the auto-plane mirror — p derived from COUNT(*) exactly like
    // Dedup.autoPlanes (CEIL(LOG2(n/64.0)) is FP-safe: power-of-two ratios
    // are exact in double), then the same bucket CTE with p planes
    "d10_embedding_neardup_auto" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | params AS (SELECT GREATEST(4, CAST(CEIL(LOG2(COUNT(*) / 64.0)) AS INT)) AS p FROM e),
         | tb AS (
         |  SELECT vec_id, t,
         |         CAST(list_sum(list_transform(generate_series(0, p - 1), i ->
         |           CASE WHEN list_dot_product(v,
         |                  list_transform(generate_series(0, 63),
         |                    d -> (((t * p + i) * 64 + d) * 2654435761) % 1000 / 1000.0 - 0.5)) >= 0.0
         |                THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS INT) AS bucket
         |  FROM e CROSS JOIN params CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS t) tt
         | ),
         | cand AS (
         |  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM tb a JOIN tb b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         | ),
         | scored AS (
         |  SELECT doc_a, doc_b,
         |         ROUND(list_dot_product(ae.v, be.v)
         |               / (sqrt(list_dot_product(ae.v, ae.v)) * sqrt(list_dot_product(be.v, be.v))), 4) AS cosine
         |  FROM cand JOIN e ae ON ae.vec_id = doc_a JOIN e be ON be.vec_id = doc_b
         | )
         |SELECT doc_a, doc_b, cosine FROM scored
         |WHERE cosine >= 0.4 ORDER BY doc_a, doc_b""".stripMargin,

    // T6: whitespace count over normalized text + BPE-ish regex count
    // (DuckDB '...' literals are escape-free, so only quotes need doubling)
    "t6_token_count" ->
      s"""$wCte
         |SELECT doc_id, CAST(nt AS INT) AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(text,
         |         '${TextFunctions.BpeTokenPattern.replace("'", "''")}')) AS INT) AS n_bpe_tokens
         |FROM w JOIN documents USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // V3: IVF mirror — same centroid set (first 16 by id), same max-cosine
    // assignment with smallest-centroid tie-break, same 4-probe scoring
    "v3_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | cent AS (SELECT vec_id AS cent_id, v AS centv FROM e ORDER BY vec_id LIMIT 16),
         | assign AS (
         |  SELECT vec_id AS neighbor_id, v AS cv, cent_id FROM (
         |   SELECT e.vec_id, e.v, cent.cent_id,
         |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |            list_dot_product(v, centv)
         |              / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))) DESC,
         |            cent_id) AS rn
         |   FROM e, cent) WHERE rn = 1
         | ),
         | probes AS (
         |  SELECT query_id, qv, cent_id FROM (
         |   SELECT q.vec_id AS query_id, q.v AS qv, cent.cent_id,
         |          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |            list_dot_product(q.v, centv)
         |              / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(centv, centv))) DESC,
         |            cent_id) AS rn
         |   FROM (SELECT * FROM e WHERE vec_id < 20) q, cent) WHERE rn <= 4
         | ),
         | scored AS (
         |  SELECT query_id, neighbor_id,
         |         ROUND(list_dot_product(qv, cv)
         |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
         |  FROM probes JOIN assign USING (cent_id)
         |  WHERE neighbor_id <> query_id
         | ),
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM scored
         | )
         |SELECT query_id, "rank", neighbor_id, cosine
         |FROM ranked WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin,

    "d14_winnow_neardup" ->
      s"""$wCte,
         | shp AS (
         |  SELECT doc_id,
         |         unnest(generate_series(1, len(ws) - 2)) AS pos,
         |         unnest(list_transform(generate_series(1, len(ws) - 2),
         |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sstr
         |  FROM w WHERE len(ws) >= 3
         | ),
         | sh AS (SELECT doc_id, pos, ${hash60Sql("sstr")} AS h FROM shp),
         | mn AS (
         |  SELECT doc_id, pos,
         |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         |         COUNT(*) OVER (PARTITION BY doc_id) AS n_pos
         |  FROM sh
         | ),
         | sel AS (SELECT DISTINCT doc_id, wmin FROM mn WHERE pos <= n_pos - 3),
         | cap AS (
         |  SELECT doc_id, wmin FROM sel
         |  QUALIFY COUNT(*) OVER (PARTITION BY wmin) <= 50
         | ),
         | sz AS (SELECT doc_id, COUNT(*) AS nfp FROM cap GROUP BY 1),
         | pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |  FROM cap a JOIN cap b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |  HAVING COUNT(*) >= 3
         | )
         |SELECT doc_a, doc_b, n_shared,
         |       ROUND(n_shared * 1.0 / LEAST(sa.nfp, sb.nfp), 4) AS overlap
         |FROM pr
         |JOIN sz sa ON doc_a = sa.doc_id
         |JOIN sz sb ON doc_b = sb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    // V8: the v1 (exact, k=3) and v3 (IVF) chains composed, same recall
    // aggregation as v7
    "v8_ivf_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | qq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
         | bscored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         ROUND(list_dot_product(qv, v)
         |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) AS cosine
         |  FROM qq, e WHERE e.vec_id <> qq.query_id
         | ),
         | branked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM bscored
         | ),
         | truth AS (SELECT query_id, neighbor_id FROM branked WHERE rnk <= 3),
         | cent AS (SELECT vec_id AS cent_id, v AS centv FROM e ORDER BY vec_id LIMIT 16),
         | assign AS (
         |  SELECT vec_id AS neighbor_id, v AS cv, cent_id FROM (
         |   SELECT e.vec_id, e.v, cent.cent_id,
         |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |            list_dot_product(v, centv)
         |              / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))) DESC,
         |            cent_id) AS rn
         |   FROM e, cent) WHERE rn = 1
         | ),
         | probes AS (
         |  SELECT query_id, qv, cent_id FROM (
         |   SELECT q.vec_id AS query_id, q.v AS qv, cent.cent_id,
         |          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |            list_dot_product(q.v, centv)
         |              / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(centv, centv))) DESC,
         |            cent_id) AS rn
         |   FROM (SELECT * FROM e WHERE vec_id < 20) q, cent) WHERE rn <= 4
         | ),
         | ascored AS (
         |  SELECT query_id, neighbor_id,
         |         ROUND(list_dot_product(qv, cv)
         |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
         |  FROM probes JOIN assign USING (cent_id)
         |  WHERE neighbor_id <> query_id
         | ),
         | aranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM ascored
         | ),
         | approx AS (SELECT query_id, neighbor_id FROM aranked WHERE rnk <= 3)
         |SELECT t.query_id AS query_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_truth,
         |       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
         |       ROUND(COUNT(a.neighbor_id) * 1.0 / COUNT(*), 4) AS recall
         |FROM truth t
         |LEFT JOIN approx a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY query_id""".stripMargin,

    "d13_semdedup" -> semDedupSql(kmeansCtes("16", 3)),

    // D15: the DEFAULT config of the same operator — nClusters
    // auto-derived from the corpus count (Dedup.autoClusters), so the
    // expected cluster size (and the per-cluster quadratic pair join)
    // stays bounded at ANY corpus size; the oracle derives the identical
    // k from COUNT(*) (integer ceil-division == CEIL(n/64.0) for n<2^52)
    "d15_semdedup_auto" -> semDedupSql(kmeansCtes(
      "(SELECT k FROM params)", 3,
      "params AS (SELECT GREATEST(4, CAST(CEIL(COUNT(*) / 64.0) AS INT)) AS k FROM e)")),

    // D24: both Lloyd chains (fine over the corpus, coarse over the fine
    // centroids — the prefixed "g" chain), then the two-level decision:
    // members = each fine centroid's best coarse cell (raw dot on unit
    // vectors, lowest-coarse-id ties), probes = each vector's top-2
    // coarse cells by cosine (lowest-id ties), assignment = argmax cosine
    // over the probed cells' members (lowest-cent-id ties) — every
    // ROW_NUMBER mirrors a documented BestCentroidProbe tie-break
    "d24_semdedup_hier" ->
      s"""WITH ${kmeansCtes("(SELECT k FROM params)", 3,
             "params AS (SELECT GREATEST(4, CAST(CEIL(COUNT(*) / 64.0) AS INT)) AS k FROM e)")},
         | params2 AS (SELECT GREATEST(2, CAST(CEIL(SQRT(k)) AS INT)) AS kc FROM params),
         | cunit AS (
         |  SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
         |  FROM (SELECT cent_id AS vec_id, centv AS v,
         |               sqrt(list_dot_product(centv, centv)) AS nrm FROM cent)
         |  WHERE nrm > 0
         | ),
         |${kmeansStepsCte("(SELECT kc FROM params2)", 2, "g", "cunit")},
         | members AS (
         |  SELECT cent_id, coarse_id FROM (
         |   SELECT f.cent_id, g.cent_id AS coarse_id,
         |          ROW_NUMBER() OVER (PARTITION BY f.cent_id
         |            ORDER BY list_dot_product(f.centv, g.centv) DESC, g.cent_id) AS rn
         |   FROM cent f, gcent g) WHERE rn = 1
         | ),
         | probes AS (
         |  SELECT vec_id, v, coarse_id FROM (
         |   SELECT e.vec_id, e.v, g.cent_id AS coarse_id,
         |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |            list_dot_product(v, g.centv)
         |              / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(g.centv, g.centv))) DESC,
         |            g.cent_id) AS rn
         |   FROM e, gcent g) WHERE rn <= 2
         | ),
         | assign AS (
         |  SELECT vec_id, v, cent_id FROM (
         |   SELECT p.vec_id, p.v, m.cent_id,
         |          ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
         |            list_dot_product(p.v, c.centv)
         |              / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.centv, c.centv))) DESC,
         |            m.cent_id) AS rn
         |   FROM probes p JOIN members m ON m.coarse_id = p.coarse_id
         |        JOIN cent c ON c.cent_id = m.cent_id) WHERE rn = 1
         | ),
         | p AS (
         |  SELECT a.cent_id, a.vec_id AS doc_a, b.vec_id AS doc_b,
         |         ROUND(list_dot_product(a.v, b.v)
         |               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
         |  FROM assign a JOIN assign b USING (cent_id)
         |  WHERE a.vec_id < b.vec_id
         | )
         |SELECT cent_id, doc_a, doc_b, cosine FROM p
         |WHERE cosine >= 0.35
         |ORDER BY cent_id, doc_a, doc_b""".stripMargin,

    // D25: the threshold set restated — any (eval, corpus) pair at
    // ROUND(cosine,4) >= 0.4 marks the corpus vector contaminated; the
    // shared rounding convention keeps the boundary off a float ulp.
    // Zero-norm vectors are excluded on BOTH sides of the pair exactly
    // like the Spark face (Similarity.cosine yields NULL there, so a
    // dead-encoder vector neither contaminates nor is contaminated —
    // unguarded, DuckDB's 0/0 = NaN would compare >= t and flip the set)
    "d25_semantic_decon" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | q AS (SELECT v AS qv FROM e
        |       WHERE vec_id < 20 AND list_dot_product(v, v) > 0),
        | bad AS (
        |  SELECT DISTINCT e.vec_id FROM e, q
        |  WHERE list_dot_product(v, v) > 0
        |    AND ROUND(list_dot_product(qv, v)
        |        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) >= 0.4
        | )
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM bad)
        |ORDER BY vec_id""".stripMargin,

    "v4_ann_ivf_refined" ->
      s"""WITH ${kmeansCtes("16", 3)},
         | assign AS (
         |  SELECT vec_id AS neighbor_id, v AS cv, cent_id FROM (
         |   SELECT e.vec_id, e.v, cent.cent_id,
         |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |            list_dot_product(v, centv)
         |              / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))) DESC,
         |            cent_id) AS rn
         |   FROM e, cent) WHERE rn = 1
         | ),
         | probes AS (
         |  SELECT query_id, qv, cent_id FROM (
         |   SELECT q.vec_id AS query_id, q.v AS qv, cent.cent_id,
         |          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |            list_dot_product(q.v, centv)
         |              / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(centv, centv))) DESC,
         |            cent_id) AS rn
         |   FROM (SELECT * FROM e WHERE vec_id < 20) q, cent) WHERE rn <= 4
         | ),
         | scored AS (
         |  SELECT query_id, neighbor_id,
         |         ROUND(list_dot_product(qv, cv)
         |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cosine
         |  FROM probes JOIN assign USING (cent_id)
         |  WHERE neighbor_id <> query_id
         | ),
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM scored
         | )
         |SELECT query_id, "rank", neighbor_id, cosine
         |FROM ranked WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin,

    "v6_quantized_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | unit AS (
         |  SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
         |  FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
         |  WHERE nrm > 0
         | ),
         | sc AS (
         |  SELECT 127.0 / MAX(list_max(list_transform(uv, x -> abs(x)))) AS scale
         |  FROM unit
         | ),
         | qz AS (
         |  SELECT vec_id,
         |         list_transform(uv, x -> CAST(round(x * scale) AS INT)) AS qv
         |  FROM unit CROSS JOIN sc
         | ),
         | scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         CAST(list_dot_product(q.qv::DOUBLE[], c.qv::DOUBLE[]) AS BIGINT) AS qscore
         |  FROM (SELECT * FROM qz WHERE vec_id < 20) q
         |  JOIN qz c ON c.vec_id <> q.vec_id
         | ),
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS "rank"
         |  FROM scored
         | )
         |SELECT query_id, "rank", neighbor_id, qscore
         |FROM ranked WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin,

    "v2_ann_lsh" -> v2Sql,

    // V7: the v1 (exact, k=3) and v2 (LSH ANN) chains composed — truth
    // LEFT JOIN approx on the (query_id, neighbor_id) pair, recall per
    // query; COUNT (never SUM) keeps every column BIGINT
    "v7_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
         | bscored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         ROUND(list_dot_product(qv, v)
         |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) AS cosine
         |  FROM q, e WHERE e.vec_id <> q.query_id
         | ),
         | branked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM bscored
         | ),
         | truth AS (SELECT query_id, neighbor_id FROM branked WHERE rnk <= 3),
         | tb AS (
         |  SELECT vec_id, t,
         |         CAST(list_sum(list_transform(generate_series(0, 3), i ->
         |           CASE WHEN list_dot_product(v,
         |                  list_transform(generate_series(0, 63),
         |                    d -> (((t * 4 + i) * 64 + d) * 2654435761) % 1000 / 1000.0 - 0.5)) >= 0.0
         |                THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS INT) AS bucket
         |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS t) tt
         | ),
         | cand AS (
         |  SELECT DISTINCT cq.vec_id AS query_id, cc.vec_id AS neighbor_id
         |  FROM tb cq JOIN tb cc ON cq.t = cc.t AND cq.bucket = cc.bucket AND cc.vec_id <> cq.vec_id
         |  WHERE cq.vec_id < 20
         | ),
         | ascored AS (
         |  SELECT query_id, neighbor_id,
         |         ROUND(list_dot_product(qe.v, ce.v)
         |               / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))), 4) AS cosine
         |  FROM cand
         |  JOIN e qe ON qe.vec_id = cand.query_id
         |  JOIN e ce ON ce.vec_id = cand.neighbor_id
         | ),
         | aranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM ascored
         | ),
         | approx AS (SELECT query_id, neighbor_id FROM aranked WHERE rnk <= 3)
         |SELECT t.query_id AS query_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_truth,
         |       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
         |       ROUND(COUNT(a.neighbor_id) * 1.0 / COUNT(*), 4) AS recall
         |FROM truth t
         |LEFT JOIN approx a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY query_id""".stripMargin,

    // V9: the full PQ chain unrolled — per-subspace Lloyd, encode, ADC
    // sum (left-associated + matches the Spark side's left fold)
    "v9_pq_topk" -> v9Sql,

    // V10: recall@3 of the v9 chain against the exact brute-force top-3
    "v10_pq_recall" ->
      s"""WITH ${pqCtes(4, 16, 2, 64)},
         |${pqScoredCte(4, 2, 64)},
         | aranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
         |  FROM scored
         | ),
         | approx AS (SELECT query_id, neighbor_id FROM aranked WHERE rnk <= 3),
         | bscored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         ROUND(list_dot_product(q.v, e.v)
         |               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cosine
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q, e
         |  WHERE e.vec_id <> q.vec_id
         | ),
         | branked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM bscored
         | ),
         | truth AS (SELECT query_id, neighbor_id FROM branked WHERE rnk <= 3)
         |SELECT t.query_id AS query_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_truth,
         |       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
         |       ROUND(COUNT(a.neighbor_id) * 1.0 / COUNT(*), 4) AS recall
         |FROM truth t
         |LEFT JOIN approx a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY query_id""".stripMargin,

    // V11: the IVF+PQ chain — pqCtes' Lloyd/encode plus the coarse
    // probe restriction (cells = first 16 unit vectors, plain-dot argmax)
    "v11_ivfpq_topk" -> ivfPqTopkSql,

    // IR4: the index-served IVF+PQ search — bit-identical to v11 by the
    // IvfPqIndexSpec contract, so the same mirror adjudicates both
    "ir4_ivfpq_search" -> ivfPqTopkSql,

    // IR8: the drift gauge over the full-corpus sample — approx = the
    // v11 IVF+PQ chain's top-3 (the gauge's stored-artifact encode of
    // the full sample IS the index), truth = exact brute-force top-3,
    // folded with the v7/v10 recall-join shape
    "ir8_ann_drift_gauge" ->
      s"""WITH ${pqCtes(4, 16, 2, 64)},
         |${ivfPqScoredCte(4, 2, 64, 16, 4)},
         | aranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
         |  FROM scored
         | ),
         | approx AS (SELECT query_id, neighbor_id FROM aranked WHERE rnk <= 3),
         | bscored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         ROUND(list_dot_product(q.v, e.v)
         |               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cosine
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q, e
         |  WHERE e.vec_id <> q.vec_id
         | ),
         | branked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM bscored
         | ),
         | truth AS (SELECT query_id, neighbor_id FROM branked WHERE rnk <= 3)
         |SELECT t.query_id AS query_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_truth,
         |       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
         |       ROUND(COUNT(a.neighbor_id) * 1.0 / COUNT(*), 4) AS recall
         |FROM truth t
         |LEFT JOIN approx a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY query_id""".stripMargin,

    // IR3: the persisted index's per-cell code counts — the coarse
    // assignment recomputed independently (the v11 chain's coarse/cassign
    // CTEs) and aggregated
    "ir3_ivfpq_index_build" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | unit AS (
        |  SELECT vec_id, list_transform(v, x -> x / nrm) AS uv
        |  FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
        |  WHERE nrm > 0
        | ),
        | coarse AS (
        |${stridedSeedSelect("16", "unit", "cent_id", "centv")}
        | ),
        | cassign AS (
        |  SELECT vec_id, cent_id FROM (
        |   SELECT u.vec_id, c.cent_id,
        |          ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY
        |            list_dot_product(u.uv, c.centv) DESC, c.cent_id) AS rn
        |   FROM unit u CROSS JOIN coarse c) WHERE rn = 1
        | )
        |SELECT CAST(cent_id AS BIGINT) AS cent_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_vecs
        |FROM cassign GROUP BY cent_id ORDER BY cent_id""".stripMargin,

    // V12: the residual (IVFADC) chain — pqCtes trained on the rv
    // residual frame, scored as probe dot + residual lookups
    "v12_ivfpq_residual_topk" -> materializeCtes(
      s"""WITH ${pqCtes(4, 16, 2, 64, ivfResidualCte(16, 2), "rv")},
         |${ivfPqResidualScoredCte(4, 2, 64, 4)},
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS "rank"
         |  FROM scored
         | )
         |SELECT query_id, "rank", neighbor_id, score
         |FROM ranked WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin),

    // V13: the residual chain's recall@3 vs exact brute force (the v10
    // gauge pointed at v12)
    "v13_ivfpq_residual_recall" -> materializeCtes(
      s"""WITH ${pqCtes(4, 16, 2, 64, ivfResidualCte(16, 2), "rv")},
         |${ivfPqResidualScoredCte(4, 2, 64, 4)},
         | aranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
         |  FROM scored
         | ),
         | approx AS (SELECT query_id, neighbor_id FROM aranked WHERE rnk <= 3),
         | bscored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |         ROUND(list_dot_product(q.v, e.v)
         |               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cosine
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q, e
         |  WHERE e.vec_id <> q.vec_id
         | ),
         | branked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM bscored
         | ),
         | truth AS (SELECT query_id, neighbor_id FROM branked WHERE rnk <= 3)
         |SELECT t.query_id AS query_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_truth,
         |       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
         |       ROUND(COUNT(a.neighbor_id) * 1.0 / COUNT(*), 4) AS recall
         |FROM truth t
         |LEFT JOIN approx a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY query_id""".stripMargin),

    "t4_pii_scrub" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id || '@example.com or https://site'
         |              || doc_id || '.org tel 555-0' || doc_id AS text2
         |  FROM documents
         | )
         |SELECT doc_id,
         |       len(regexp_extract_all(text2, '${TextFunctions.EmailPattern}')) AS n_emails,
         |       len(regexp_extract_all(text2, '${TextFunctions.UrlPattern}')) AS n_urls,
         |       len(regexp_extract_all(text2, '${TextFunctions.PhonePattern}')) AS n_phones,
         |       md5(regexp_replace(regexp_replace(regexp_replace(text2,
         |             '${TextFunctions.UrlPattern}', '<URL>', 'g'),
         |             '${TextFunctions.EmailPattern}', '<EMAIL>', 'g'),
         |             '${TextFunctions.PhonePattern}', '<PHONE>', 'g')) AS scrubbed_hash
         |FROM p ORDER BY doc_id""".stripMargin,

    "t5_vocab_stats" ->
      s"""WITH tok AS (
         |  SELECT lang, unnest($ws) AS t FROM documents
         | )
         |SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT t) AS n_distinct
         |FROM tok GROUP BY lang ORDER BY lang""".stripMargin,

    // T14: both engines rank on the ROUNDED score with term as the
    // tie-break, so row sets match exactly
    "t23_bm25_topk" ->
      s"""$wCte,
         | terms AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w),
         | tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
         |        FROM terms GROUP BY 1, 2),
         | dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
         | st AS (SELECT COUNT(*) AS n_docs,
         |               AVG(len($ws)) AS avgdl
         |        FROM documents),
         | scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf,
         |         ROUND(
         |           ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
         |             * (tf.tf * (1.2 + 1.0))
         |             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / st.avgdl)),
         |           4) AS score
         |  FROM tf JOIN dfq USING (term) CROSS JOIN st
         | ),
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |                               ORDER BY score DESC, term ASC) AS "rank"
         |  FROM scored
         | )
         |SELECT doc_id, "rank", term, CAST(tf AS BIGINT) AS tf, score
         |FROM ranked WHERE "rank" <= 3
         |ORDER BY doc_id, "rank"""".stripMargin,

    "t24_eval_carve" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |         ${hash60Sql("'graft-take:' || CAST(doc_id AS VARCHAR)")} AS hv
         |  FROM documents
         | ),
         | ranked AS (
         |  SELECT doc_id, lang,
         |         ROW_NUMBER() OVER (PARTITION BY lang
         |                            ORDER BY hv, doc_id) AS rn
         |  FROM h
         | )
         |SELECT doc_id, lang FROM ranked WHERE rn <= 10
         |ORDER BY doc_id""".stripMargin,

    // T30: the standardize-then-GD chain unrolled — bit-identical mu/sd
    // and weights via exact fixed-point sums (see logitCtes); the
    // decision is the raw margin sign, the prob display-rounded
    "t30_quality_classifier" ->
      s"""$wCte,
         |${logitCtes(ClassifierIters, "4.0")}
         |SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 4) AS prob,
         |       z >= 0.0 AS predicted, y >= 0.5 AS label
         |FROM scored ORDER BY doc_id""".stripMargin,

    // T31: 2×2 confusion of the same chain — exact BIGINT counts
    "t31_classifier_confusion" ->
      s"""$wCte,
         |${logitCtes(ClassifierIters, "4.0")}
         |SELECT z >= 0.0 AS predicted, y >= 0.5 AS label,
         |       CAST(COUNT(*) AS BIGINT) AS n
         |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // T25: the t11 contamination scan as a nested subquery, applied as a
    // NOT IN drop rule (NULL contamination — too short to shingle — is
    // never > the threshold, so short docs stay, matching the Spark
    // filter's null semantics)
    "t25_decontaminate" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT doc_id FROM ($contaminationSql) sc WHERE contamination > 0.05
         |)
         |ORDER BY doc_id""".stripMargin,

    // V15: the two system chains as NESTED-WITH subqueries (no CTE name
    // collisions), full-outer-joined per (query, neighbor); float
    // literals e-notation so rrf is double arithmetic on both engines
    "v15_rrf_fusion" ->
      s"""WITH a AS ($v9Sql),
         | b AS ($v2Sql),
         | u AS (
         |  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         |         COALESCE(a.neighbor_id, b.neighbor_id) AS neighbor_id,
         |         ROUND(COALESCE(1.0e0 / (60 + a."rank"), 0.0e0)
         |               + COALESCE(1.0e0 / (60 + b."rank"), 0.0e0), 6) AS rrf
         |  FROM a FULL JOIN b
         |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
         | ),
         | r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY rrf DESC, neighbor_id) AS "rank"
         |  FROM u
         | )
         |SELECT query_id, "rank", neighbor_id, rrf FROM r
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,

    // V14: the v1 chain joined to the document table for neighbor
    // metadata
    "v14_doc_neighbors" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
         | scored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         ROUND(list_dot_product(qv, v)
         |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) AS cosine
         |  FROM q, e WHERE e.vec_id <> q.query_id
         | ),
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM scored
         | )
         |SELECT query_id, "rank", neighbor_id, cosine,
         |       d.lang AS neighbor_lang, d.source AS neighbor_source
         |FROM ranked JOIN documents d ON ranked.neighbor_id = d.doc_id
         |WHERE "rank" <= 3
         |ORDER BY query_id, "rank"""".stripMargin,

    // IR1: df computed over the query-term sliver (same as the Spark
    // side), per-term q8 scores summed as integers
    "ir1_bm25_search" -> bm25Sql,

    // IR9: the hybrid fusion — the v15 RRF arithmetic over the ir1
    // (lexical) and ir4/v11 (vector) mirrors; the lexical list is
    // query-independent and replicates across the vector query set
    "ir9_hybrid_retrieval" ->
      s"""WITH a AS ($ivfPqTopkSql),
         | b AS ($bm25Sql),
         | qs AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 20),
         | x AS (SELECT q.query_id, b.doc_id, b."rank" AS rank_t
         |       FROM qs q CROSS JOIN b),
         | u AS (
         |  SELECT COALESCE(a.query_id, x.query_id) AS query_id,
         |         COALESCE(a.neighbor_id, x.doc_id) AS doc_id,
         |         ROUND(COALESCE(1.0e0 / (60 + x.rank_t), 0.0e0)
         |               + COALESCE(1.0e0 / (60 + a."rank"), 0.0e0), 6) AS rrf
         |  FROM x FULL JOIN a
         |    ON a.query_id = x.query_id AND a.neighbor_id = x.doc_id
         | ),
         | r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY rrf DESC, doc_id) AS "rank"
         |  FROM u
         | )
         |SELECT query_id, "rank", doc_id, rrf FROM r
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,

    // IR2: inclusive 1-based list slice equality over every window start
    "ir2_phrase_search" ->
      s"""$wCte,
         | occ AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(generate_series(1, len(ws) - 1),
         |              i -> ws[i:i+1] = ['table', 'table'])) AS INT) AS n_occurrences
         |  FROM w
         | )
         |SELECT doc_id, n_occurrences FROM occ
         |WHERE n_occurrences > 0 ORDER BY doc_id""".stripMargin,

    // T42: DuckDB's utf8proc-based nfc_normalize as the independent
    // mirror of the JDK-Normalizer expression; chr() builds the same
    // decomposed payloads (769 = U+0301 combining acute, 778 = U+030A
    // combining ring, 233 = U+00E9)
    "t42_unicode_nfc" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         text || ' cafe' || chr(769) || ' A' || chr(778) ||
        |         CASE WHEN doc_id % 2 = 0 THEN chr(233)
        |              ELSE 'e' || chr(769) END AS t2
        |  FROM documents
        | )
        |SELECT doc_id,
        |       md5(nfc_normalize(t2)) AS nfc_md5,
        |       CAST(length(t2) AS INT) AS len_before,
        |       CAST(length(nfc_normalize(t2)) AS INT) AS len_after
        |FROM p ORDER BY doc_id""".stripMargin,

    // T53: DuckDB's utf8proc strip_accents vs our JDK-tables native —
    // two independent engines agreeing on NFD + mark-removal + NFC
    // recompose, accented fragments built from chr() codepoints (incl.
    // the stroked ł that has no decomposition and must pass through,
    // and Hangul in both precomposed-syllable and raw-Jamo spellings)
    "t53_strip_accents" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         substr(text, 1, 40) || ' ' ||
        |         CASE CAST(doc_id % 8 AS INT)
        |           WHEN 0 THEN 'caf' || chr(233) || ' au lait'
        |           WHEN 1 THEN chr(252) || 'ber die Br' || chr(252) || 'cke'
        |           WHEN 2 THEN 'ma' || chr(241) || 'ana se' || chr(241) || 'or'
        |           WHEN 3 THEN 'd' || chr(233) || 'j' || chr(224) || ' vu r'
        |                       || chr(233) || 'sum' || chr(233)
        |           WHEN 4 THEN chr(322) || chr(243) || 'd' || chr(378) || ' office'
        |           WHEN 5 THEN 'na' || chr(239) || 've fa' || chr(231) || 'ade'
        |           WHEN 6 THEN chr(2325) || chr(2367) || ' a' || chr(1160) || 'b mark'
        |           ELSE chr(54620) || chr(44397) || chr(50612) || ' ' ||
        |                chr(4370) || chr(4449) || chr(4523) || ' jamo'
        |         END AS t2
        |  FROM documents
        | )
        |SELECT doc_id, strip_accents(t2) AS folded,
        |       CAST(length(t2) AS INT) AS len_before,
        |       CAST(length(strip_accents(t2)) AS INT) AS len_after
        |FROM p ORDER BY doc_id""".stripMargin,

    // T41: per-column stats, numeric min/max taken before the VARCHAR
    // cast (matching the Spark side's cast-after-min ordering)
    "t41_dataset_profile" -> {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      val rows = cols.map { c =>
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           |       CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           |       CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |       CAST(MIN($c) AS VARCHAR) AS min_v,
           |       CAST(MAX($c) AS VARCHAR) AS max_v
           |FROM documents""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""SELECT * FROM (
         |$rows
         |) ORDER BY "column"""".stripMargin
    },

    // T40: each stage's keep-set recomputed independently (the stage
    // decisions are all doc-local or globally-ordered, so set algebra
    // over w reproduces the sequential pipeline exactly)
    "t40_doc_pipeline" ->
      s"""WITH RECURSIVE ${wCte.stripPrefix("WITH ")},
         | k1 AS (
         |  SELECT w.doc_id FROM w JOIN (
         |   SELECT doc_id, doc_id = MIN(doc_id) OVER (PARTITION BY md5(lower($norm))) AS keep
         |   FROM documents) h ON w.doc_id = h.doc_id
         |  WHERE h.keep
         | ),
         | k2 AS (
         |  SELECT w.doc_id FROM w JOIN k1 USING (doc_id)
         |  WHERE (nt BETWEEN 20 AND 80)
         |    AND len(list_distinct(ws)) * 1.0 / nt >= 0.4
         |    AND len(list_filter(ws, t -> ${inList("t", TextFunctions.Stopwords)})) * 1.0 / nt >= 0.05
         |    AND (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm) <= 0.1
         |    AND ((length(norm) - (nt - 1)) * 1.0 / nt BETWEEN 3.0 AND 6.0)
         | ),
         | contam AS (SELECT doc_id FROM ($contaminationSql) sc WHERE contamination > 0.05),
         | k3 AS (SELECT doc_id FROM k2 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         | k3w AS (SELECT w.* FROM w JOIN k3 USING (doc_id)),
         |${minhashBandCtesFrom("k3w")},
         | ncand AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         | ),
         | nver AS (
         |  SELECT c.a, c.b FROM ncand c
         |  JOIN sig sa ON sa.doc_id = c.a
         |  JOIN sig sb ON sb.doc_id = c.b
         |  WHERE list_sum(list_transform(generate_series(1, 64),
         |          i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) >= 32
         | ),
         | nsym AS (
         |  SELECT a, b FROM nver UNION SELECT b, a FROM nver
         |  UNION SELECT a, a FROM nver UNION SELECT b, b FROM nver
         | ),
         | nreach(a, b) AS (
         |  SELECT a, b FROM nsym
         |  UNION
         |  SELECT r.a, s2.b FROM nreach r JOIN nsym s2 ON r.b = s2.a
         | ),
         | ncomp AS (SELECT a AS doc_id, MIN(b) AS component FROM nreach GROUP BY a),
         | k35 AS (SELECT doc_id FROM k3 WHERE doc_id NOT IN
         |         (SELECT doc_id FROM ncomp WHERE component <> doc_id)),
         | bst AS (
         |  SELECT w.doc_id, nt,
         |         ROUND(LEAST(1.0, nt / 50.0) * (len(list_distinct(ws)) * 1.0 / nt)
         |               * (1.0 - (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm)), 4) AS q
         |  FROM w JOIN k35 USING (doc_id)
         | ),
         | bsel AS (
         |  SELECT doc_id, CAST(SUM(nt) OVER (ORDER BY q DESC, doc_id) AS BIGINT) AS cum
         |  FROM bst
         | ),
         | k4 AS (SELECT doc_id FROM bsel WHERE cum <= 5000),
         | n0 AS (SELECT COUNT(*) AS c FROM w),
         | n1 AS (SELECT COUNT(*) AS c FROM k1),
         | n2 AS (SELECT COUNT(*) AS c FROM k2),
         | n3 AS (SELECT COUNT(*) AS c FROM k3),
         | n35 AS (SELECT COUNT(*) AS c FROM k35),
         | n4 AS (SELECT COUNT(*) AS c FROM k4)
         |SELECT * FROM (
         |  SELECT '00_input' AS stage, CAST(n0.c AS BIGINT) AS n_in, CAST(n0.c AS BIGINT) AS n_out FROM n0
         |  UNION ALL SELECT '10_exact_dedup', CAST(n0.c AS BIGINT), CAST(n1.c AS BIGINT) FROM n0, n1
         |  UNION ALL SELECT '20_quality_gate', CAST(n1.c AS BIGINT), CAST(n2.c AS BIGINT) FROM n1, n2
         |  UNION ALL SELECT '30_decontaminate', CAST(n2.c AS BIGINT), CAST(n3.c AS BIGINT) FROM n2, n3
         |  UNION ALL SELECT '35_near_dedup', CAST(n3.c AS BIGINT), CAST(n35.c AS BIGINT) FROM n3, n35
         |  UNION ALL SELECT '40_token_budget', CAST(n35.c AS BIGINT), CAST(n4.c AS BIGINT) FROM n35, n4
         | ) ORDER BY stage""".stripMargin,

    // T26: d18's chunk chain + reassembly — first occurrence of each
    // chunk hash keeps, every doc digests its kept chunks in chunk order
    // (string_agg skips the NULLed-out dropped chunks; a fully-stripped
    // doc hashes the empty string via COALESCE)
    "t26_chunk_strip" ->
      s"""$wCte,
         | ch AS (
         |  SELECT doc_id, ws,
         |         unnest(generate_series(0, CAST(nt - 1 AS BIGINT), 32)) AS s
         |  FROM w
         | ),
         | h AS (
         |  SELECT doc_id, CAST(s // 32 AS INT) AS chunk_id,
         |         array_to_string(list_slice(ws, CAST(s + 1 AS INT), CAST(s + 32 AS INT)), ' ') AS cstr
         |  FROM ch
         | ),
         | f AS (
         |  SELECT doc_id, chunk_id, cstr,
         |         ROW_NUMBER() OVER (PARTITION BY md5(cstr) ORDER BY doc_id, chunk_id) = 1 AS keep
         |  FROM h
         | )
         |SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |       CAST(COUNT(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
         |       md5(COALESCE(string_agg(CASE WHEN keep THEN cstr END, ' ' ORDER BY chunk_id), '')) AS kept_hash
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // T28: the t21 quality expression aggregated per source; HAVING on
    // the ROUNDED mean (order-free), kept rows via NOT IN (the synthetic
    // corpus has no NULL sources; the Spark side's null-safe semantics
    // are spec-covered)
    "t28_domain_filter" ->
      s"""$wCte,
         | st AS (
         |  SELECT w.doc_id, d.source,
         |         ROUND(LEAST(1.0, nt / 50.0) * (len(list_distinct(ws)) * 1.0 / nt)
         |               * (1.0 - (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm)), 4) AS q
         |  FROM w JOIN documents d ON w.doc_id = d.doc_id
         | ),
         | bad AS (SELECT source FROM st GROUP BY source HAVING ROUND(AVG(q), 4) < 0.37)
         |SELECT doc_id, source FROM documents
         |WHERE source NOT IN (SELECT source FROM bad)
         |ORDER BY doc_id""".stripMargin,

    // T35: the same k-means chain as d13/v4, rn=1 max-cosine assignment
    // (ties to the smallest cent_id — the native argmax contract), then
    // the t24 content-addressed carve ranked by the 'graft-take' hash
    "t35_cluster_sample" -> {
      s"""WITH ${kmeansCtes("16", 3)},
         | assign AS (
         |  SELECT vec_id, cent_id AS cluster FROM (
         |   SELECT e.vec_id, cent.cent_id,
         |          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |            list_dot_product(v, centv)
         |              / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))) DESC,
         |            cent_id) AS rn
         |   FROM e, cent) WHERE rn = 1
         | ),
         | h AS (
         |  SELECT vec_id, cluster,
         |         ${hash60Sql("'graft-take:' || CAST(vec_id AS VARCHAR)")} AS hv
         |  FROM assign
         | ),
         | ranked AS (
         |  SELECT vec_id, cluster,
         |         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY hv, vec_id) AS rn
         |  FROM h
         | )
         |SELECT vec_id, cluster FROM ranked WHERE rn <= 5
         |ORDER BY vec_id""".stripMargin
    },

    // T32: bit-identical replay of the HLL sketch (Sketches.hllDistinct,
    // p=12): same 60-bit hash, bucket = top 12 bits, rho via the
    // integer-exact length(bin(x)) MSB position, max per bucket, harmonic
    // sum scaled by 2^49 so it stays in integer space; the constant
    // factor is the SAME double literal the Spark plan embeds
    // (Sketches.hllCFactor round-trips through toString), and ln() only
    // enters the linear-counting branch under the ROUND(,4) convention
    "t32_hll_distinct" -> {
      val c = Sketches.hllCFactor(12)
      s"""WITH tok AS (SELECT lang, unnest($ws) AS t FROM documents),
         | hh AS (SELECT lang, ${hash60Sql("t")} AS h FROM tok WHERE t IS NOT NULL),
         | reg AS (SELECT lang, h >> 48 AS bucket,
         |                MAX(CASE WHEN (h & 281474976710655) = 0 THEN 49
         |                         ELSE 49 - length(bin(h & 281474976710655)) END) AS rho
         |         FROM hh GROUP BY 1, 2),
         | agg AS (SELECT lang, COUNT(*) AS present,
         |                SUM(1::BIGINT << (49 - rho)) AS ssum
         |         FROM reg GROUP BY 1),
         | est AS (SELECT lang, 4096 - present AS v,
         |                $c / CAST(ssum + (4096 - present) * (1::BIGINT << 49) AS DOUBLE) AS rawe
         |         FROM agg),
         | fin AS (SELECT lang,
         |                ROUND(CASE WHEN rawe <= 10240.0 AND v > 0
         |                           THEN 4096.0 * ln(4096.0 / CAST(v AS DOUBLE))
         |                           ELSE rawe END, 4) AS hll_distinct
         |         FROM est),
         | ex AS (SELECT lang, COUNT(DISTINCT t) AS n_distinct FROM tok GROUP BY 1)
         |SELECT fin.lang AS lang, hll_distinct, n_distinct,
         |       ROUND(ABS(hll_distinct - n_distinct) / n_distinct, 4) AS rel_err
         |FROM fin JOIN ex ON fin.lang = ex.lang
         |ORDER BY fin.lang""".stripMargin
    },

    // T33: exact mirror of Sketches.cmsTopK (d=4, w=512) — identical row
    // hashes ('cms<j>:<token>' through the 60-bit hash, mod 512),
    // identical counters, min-over-rows estimate, same (est DESC, token)
    // cut; every column is an exact integer
    "t33_cms_heavy_hitters" -> {
      val rowHash = hash60Sql("'cms' || CAST(j AS VARCHAR) || ':' || t")
      s"""WITH tok AS (SELECT unnest($ws) AS t FROM documents),
         | js AS (SELECT unnest(generate_series(0, 3)) AS j),
         | cnt AS (SELECT j, ($rowHash) % 512 AS bucket, COUNT(*) AS c
         |         FROM tok CROSS JOIN js WHERE t IS NOT NULL GROUP BY 1, 2),
         | cand AS (SELECT t, COUNT(*) AS true_count FROM tok
         |          WHERE t IS NOT NULL GROUP BY 1),
         | cj AS (SELECT t, true_count, j, ($rowHash) % 512 AS bucket
         |        FROM cand CROSS JOIN js),
         | est AS (SELECT t, MIN(true_count) AS true_count, MIN(c) AS cms_count
         |         FROM cj JOIN cnt ON cj.j = cnt.j AND cj.bucket = cnt.bucket
         |         GROUP BY t),
         | top AS (SELECT * FROM est ORDER BY cms_count DESC, t LIMIT 20)
         |SELECT t AS token, cms_count, true_count,
         |       cms_count - true_count AS overcount
         |FROM top ORDER BY cms_count DESC, token""".stripMargin
    },

    // T34: the same synthetic next-snapshot constructed in SQL, diffed by
    // the same md5(lower(norm)) content hash through a FULL OUTER join;
    // presence is judged by hash nullness (matching the operator) so a
    // NULL text row classifies identically in both engines
    "t34_corpus_diff" ->
      s"""WITH cur AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 89 = 0 THEN text || ' EDIT' ELSE text END AS text
         |  FROM documents WHERE doc_id % 97 <> 0
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS doc_id,
         |         'new doc ' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents WHERE doc_id < 50
         | ),
         | p AS (SELECT doc_id, md5(lower($norm)) AS ph FROM documents),
         | c AS (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS ch
         |       FROM cur)
         |SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
         |       CASE WHEN ph IS NULL THEN 'added'
         |            WHEN ch IS NULL THEN 'removed'
         |            WHEN ph = ch THEN 'unchanged'
         |            ELSE 'changed' END AS status
         |FROM p FULL OUTER JOIN c ON p.doc_id = c.doc_id
         |ORDER BY doc_id""".stripMargin,

    // T29: exact mirror of Sampling.assignSplits — the 60-bit draw against
    // cumulative bounds 0.75 / 0.875 (both exactly representable)
    "t29_split_assign" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         CAST(${hash60Sql("'graft-split:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |           / 1152921504606846976.0 AS u
         |  FROM documents
         | )
         |SELECT doc_id,
         |       CASE WHEN u < 0.75 THEN 'train' WHEN u < 0.875 THEN 'val' ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin,

    // T27: exact mirror of Sampling.repeatByWeight — floor(w) copies plus
    // one more when the 60-bit md5 draw lands under the fractional part;
    // both engines do the identical double arithmetic, so the bernoulli
    // decisions agree bit-for-bit
    "t27_recipe_repeat" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |         CASE lang WHEN 'en' THEN 1.4 WHEN 'zh' THEN 2.25 ELSE 0.6 END AS w,
         |         CAST(${hash60Sql("'graft-epoch:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |           / 1152921504606846976.0 AS u
         |  FROM documents
         | ),
         | c AS (
         |  SELECT doc_id, lang,
         |         CAST(FLOOR(w) + CASE WHEN u < w - FLOOR(w) THEN 1 ELSE 0 END AS BIGINT) AS n
         |  FROM r
         | )
         |SELECT doc_id, lang, epoch FROM (
         |  SELECT doc_id, lang, unnest(generate_series(0, n - 1)) AS epoch
         |  FROM c WHERE n > 0
         |)
         |ORDER BY doc_id, epoch""".stripMargin,

    "t14_tfidf_topk" ->
      s"""$wCte,
         | terms AS (SELECT doc_id, unnest(ws) AS term FROM w),
         | tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
         | dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
         | n AS (SELECT COUNT(*) AS n FROM documents),
         | scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf,
         |         ROUND(tf.tf * (ln((n.n + 1.0) / (dfq.df + 1.0)) + 1.0), 4) AS score
         |  FROM tf JOIN dfq USING (term) CROSS JOIN n
         | ),
         | ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |                               ORDER BY score DESC, term ASC) AS "rank"
         |  FROM scored
         | )
         |SELECT doc_id, "rank", term, CAST(tf AS BIGINT) AS tf, score
         |FROM ranked WHERE "rank" <= 3
         |ORDER BY doc_id, "rank"""".stripMargin,

    // T13: stride-24 window starts; list_slice clamps the tail chunk just
    // like Spark's slice(ts, s+1, 32)
    "t13_chunking" ->
      s"""$wCte,
         | ch AS (
         |  SELECT doc_id, ws,
         |         unnest(generate_series(0, CAST(nt - 1 AS BIGINT), 24)) AS s
         |  FROM w
         | )
         |SELECT doc_id, CAST(s // 24 AS INT) AS chunk_id,
         |       CAST(len(list_slice(ws, CAST(s + 1 AS INT), CAST(s + 32 AS INT))) AS INT) AS n_chunk_tokens,
         |       md5(array_to_string(list_slice(ws, CAST(s + 1 AS INT), CAST(s + 32 AS INT)), ' ')) AS chunk_hash
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    // D9: the t3 SimHash chain feeding a 4-band (15-bit slice) self-join,
    // exact Hamming via a per-bit fold over the xor (portable across
    // DuckDB versions; candidates are few so 60 lambda steps are cheap)
    "d9_simhash_neardup" ->
      s"""$wCte,
         | tok AS (SELECT doc_id, nt, unnest(ws) AS t FROM w),
         | tokj AS (SELECT doc_id, nt, t, unnest(generate_series(0, 59)) AS j FROM tok),
         | bits AS (
         |  SELECT doc_id, nt, j,
         |         ((strpos('0123456789abcdef', substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
         |          >> CAST(3 - (j % 4) AS INT)) & 1 AS bit
         |  FROM tokj
         | ),
         | ones AS (SELECT doc_id, nt, j, SUM(bit) AS ones FROM bits GROUP BY 1, 2, 3),
         | sh AS (
         |  SELECT doc_id,
         |         CAST(SUM(CASE WHEN 2 * ones > nt THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS shh
         |  FROM ones GROUP BY 1
         | ),
         | banded AS (
         |  SELECT doc_id, shh, b, (shh >> CAST(b * 15 AS INT)) & 32767 AS band_val
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb
         |  QUALIFY COUNT(*) OVER (PARTITION BY b, band_val) <= 50
         | ),
         | cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |         x.shh AS ha, y.shh AS hb
         |  FROM banded x JOIN banded y
         |    ON x.b = y.b AND x.band_val = y.band_val AND x.doc_id < y.doc_id
         | ),
         | scored AS (
         |  SELECT doc_a, doc_b,
         |         CAST(list_sum(list_transform(generate_series(0, 59),
         |           i -> CAST((xor(ha, hb) >> CAST(i AS INT)) & 1 AS INT))) AS INT) AS hamming
         |  FROM cand
         | )
         |SELECT doc_a, doc_b, hamming FROM scored
         |WHERE hamming <= 10 ORDER BY doc_a, doc_b""".stripMargin,

    // T11: same 60-bit shingle hashes; the benchmark set is doc_id < 10
    // D12: keep = unclustered docs + cluster minima, from the same
    // recursive-CTE closure as d4/d6
    "d12_dedup_keep" ->
      s"""$ccCtes
         |SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |WHERE c.doc_id IS NULL OR c.component = c.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // D20: keep = corpus minus the non-winners of each cluster, winner =
    // (quality4 DESC, doc_id) — quality formula mirrored from t1
    "d20_dedup_keep_best" ->
      s"""$ccCtes,
         | q AS (
         |  SELECT doc_id,
         |         ROUND(LEAST(1.0, nt / 50.0) * (len(list_distinct(ws)) * 1.0 / nt)
         |               * (1.0 - (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm)), 4) AS q
         |  FROM w
         | ),
         | drops AS (
         |  SELECT c.doc_id
         |  FROM comp c JOIN q USING (doc_id)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY component ORDER BY q.q DESC, c.doc_id) > 1
         | )
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.doc_id
         |WHERE dr.doc_id IS NULL
         |ORDER BY d.doc_id""".stripMargin,

    // T19: per-(lang, source) curation report — per-doc signals mirrored
    // from t1/t15/d1, then one grouped aggregation
    "t19_corpus_report" ->
      s"""$wCte,
         | st AS (
         |  SELECT w.doc_id, w.lang, d.source, nt,
         |         ROUND(LEAST(1.0, nt / 50.0) * (len(list_distinct(ws)) * 1.0 / nt)
         |               * (1.0 - (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm)), 4) AS q,
         |         (nt BETWEEN 20 AND 80)
         |           AND len(list_distinct(ws)) * 1.0 / nt >= 0.4
         |           AND len(list_filter(ws, t -> ${inList("t", TextFunctions.Stopwords)})) * 1.0 / nt >= 0.05
         |           AND (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm) <= 0.1
         |           AND ((length(norm) - (nt - 1)) * 1.0 / nt BETWEEN 3.0 AND 6.0) AS keep
         |  FROM w JOIN documents d ON w.doc_id = d.doc_id
         | ),
         | h AS (
         |  SELECT doc_id,
         |         doc_id <> MIN(doc_id) OVER (PARTITION BY md5(lower($norm))) AS is_dup
         |  FROM documents
         | )
         |SELECT lang, source,
         |       COUNT(*) AS n_docs,
         |       CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CAST(ROUND(q * 10000) AS BIGINT)) AS BIGINT) AS sum_quality4,
         |       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_keep
         |FROM st JOIN h USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // V5: same scaled-integer sums as the Spark side; the double math
    // after aggregation runs on identical integer-valued inputs, so the
    // rounding is bit-for-bit reproducible
    "v5_embedding_stats" ->
      """WITH e AS (
        |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |         unnest(embedding) AS x
        |  FROM embeddings
        | ),
        | q AS (SELECT dim, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q FROM e)
        |SELECT dim, COUNT(*) AS n,
        |       ROUND(SUM(q) / 1000000.0 / COUNT(*), 4) AS mean,
        |       ROUND(sqrt(SUM(q*q) / 1000000000000.0 / COUNT(*)
        |             - (SUM(q)/1000000.0/COUNT(*)) * (SUM(q)/1000000.0/COUNT(*))), 4) AS std
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,

    "t11_contamination" -> contaminationSql,

    // T17: same exact-result contract as t11 — the Bloom prefilter must
    // not change the answer (no false negatives, exact confirm join)
    "t17_contamination_bloom" -> contaminationSql,

    // T21: the same greedy budget fill as one SQL running sum — ordering
    // ties are impossible (doc_id breaks them), so the selected set is
    // unique and engine-independent
    "t21_budget_select" ->
      s"""$wCte,
         | st AS (
         |  SELECT doc_id, nt,
         |         ROUND(LEAST(1.0, nt / 50.0) * (len(list_distinct(ws)) * 1.0 / nt)
         |               * (1.0 - (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm)), 4) AS q
         |  FROM w
         | ),
         | c AS (
         |  SELECT doc_id, q, nt,
         |         CAST(SUM(nt) OVER (ORDER BY q DESC, doc_id) AS BIGINT) AS cum_cost
         |  FROM st
         | )
         |SELECT doc_id, q, nt, cum_cost FROM c
         |WHERE cum_cost <= 10000 ORDER BY doc_id""".stripMargin,

    // T20: add-1-smoothed unigram cross-entropy, alpha = 1. Per-token
    // -ln p is rounded to 8 decimals and summed as a scaled integer so the
    // per-doc mean is order-independent on both engines (the t19 lesson);
    // the division then runs on identical integer-valued doubles
    "t20_unigram_nll" ->
      s"""$wCte,
         | tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         | c AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
         | tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM c),
         | tq AS (
         |  SELECT doc_id,
         |         CAST(ROUND(-ln((c + 1.0) / (n + v)) * 100000000) AS BIGINT) AS q8
         |  FROM tok JOIN c USING (t) CROSS JOIN tot
         | )
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |       ROUND(SUM(q8) / 100000000.0 / COUNT(*), 4) AS nll
         |FROM tq GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // T36: add-one-smoothed bigram cross-entropy — same scaled-integer
    // summation contract as t20; docs with < 2 tokens have no bigrams
    // and are absent on both sides
    "t36_bigram_nll" ->
      s"""$wCte,
         | bg AS (
         |  SELECT doc_id, ws[i.i] AS a, ws[i.i + 1] AS b
         |  FROM w
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, nt - 1)) AS i) i
         |  WHERE nt >= 2
         | ),
         | bc AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY 1, 2),
         | lc AS (SELECT a, COUNT(*) AS ca FROM bg GROUP BY 1),
         | vt AS (SELECT COUNT(DISTINCT t) AS v
         |        FROM (SELECT unnest(ws) AS t FROM w)),
         | bq AS (
         |  SELECT doc_id,
         |         CAST(ROUND(-ln((cab + 1.0) / (ca + v)) * 100000000) AS BIGINT) AS q8
         |  FROM bg JOIN bc USING (a, b) JOIN lc USING (a) CROSS JOIN vt
         | )
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |       ROUND(SUM(q8) / 100000000.0 / COUNT(*), 4) AS nll
         |FROM bq GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // T54: the stupid-backoff chain restated — the CASE ladder IS the
    // scoring rule (trigram relative frequency, else 0.4 × bigram, else
    // 0.4² × add-one unigram terminal); every constant is CAST AS DOUBLE
    // so both engines run the same IEEE arithmetic (DuckDB's bare 0.4 is
    // DECIMAL and 0.4×0.4 would round to exactly 0.16, which double
    // multiplication does NOT produce)
    "t54_stupid_backoff" ->
      s"""$wCte,
         | lm AS (SELECT * FROM w WHERE doc_id % 10 <> 7),
         | tg AS (
         |  SELECT doc_id, ws[i.i] AS a, ws[i.i + 1] AS b, ws[i.i + 2] AS c
         |  FROM w
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, nt - 2)) AS i) i
         |  WHERE nt >= 3
         | ),
         | lt AS (
         |  SELECT ws[i.i] AS a, ws[i.i + 1] AS b, ws[i.i + 2] AS c
         |  FROM lm
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, nt - 2)) AS i) i
         |  WHERE nt >= 3
         | ),
         | t3 AS (SELECT a, b, c, COUNT(*) AS c3 FROM lt GROUP BY 1, 2, 3),
         | lb AS (
         |  SELECT ws[i.i] AS x, ws[i.i + 1] AS y
         |  FROM lm
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, nt - 1)) AS i) i
         |  WHERE nt >= 2
         | ),
         | b2 AS (SELECT x, y, COUNT(*) AS c2 FROM lb GROUP BY 1, 2),
         | u1 AS (SELECT t, COUNT(*) AS c1
         |        FROM (SELECT unnest(ws) AS t FROM lm) GROUP BY 1),
         | nv AS (SELECT COUNT(*) AS n, COUNT(DISTINCT t) AS v
         |        FROM (SELECT unnest(ws) AS t FROM lm)),
         | sq AS (
         |  SELECT doc_id,
         |         CAST(ROUND(-ln(CASE
         |           WHEN t3.c3 IS NOT NULL
         |             THEN CAST(t3.c3 AS DOUBLE) / CAST(bab.c2 AS DOUBLE)
         |           WHEN bbc.c2 IS NOT NULL
         |             THEN CAST(0.4 AS DOUBLE) * CAST(bbc.c2 AS DOUBLE) / CAST(ub.c1 AS DOUBLE)
         |           ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
         |                * (CAST(COALESCE(uc.c1, 0) AS DOUBLE) + 1.0)
         |                / (CAST(nv.n AS DOUBLE) + CAST(nv.v AS DOUBLE))
         |          END) * 100000000) AS BIGINT) AS q8
         |  FROM tg
         |  LEFT JOIN t3 ON tg.a = t3.a AND tg.b = t3.b AND tg.c = t3.c
         |  LEFT JOIN b2 bab ON tg.a = bab.x AND tg.b = bab.y
         |  LEFT JOIN b2 bbc ON tg.b = bbc.x AND tg.c = bbc.y
         |  LEFT JOIN u1 ub ON tg.b = ub.t
         |  LEFT JOIN u1 uc ON tg.c = uc.t
         |  CROSS JOIN nv
         | )
         |SELECT doc_id, COUNT(*) AS n_trigrams,
         |       ROUND(SUM(q8) / 100000000.0 / COUNT(*), 4) AS nll
         |FROM sq GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // T37: the three BPE merge rounds unrolled — per round: positional
    // pair counts over the double-space symbol encoding, argmax with
    // (cnt DESC, a, b) ties, greedy-left replace application. DuckDB
    // regexp_replace needs the 'g' flag and \\1 backreferences where
    // Spark defaults to replace-all with $1
    "t37_bpe_merges" -> {
      val rounds = (1 to 3).map { r =>
        s""" p$r AS (
           |  SELECT l[i.i] AS a, l[i.i + 1] AS b, freq
           |  FROM (SELECT str_split(s, '  ') AS l, freq FROM s${r - 1}) t
           |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) i
           | ),
           | c$r AS (SELECT a, b, SUM(freq) AS cnt FROM p$r GROUP BY 1, 2),
           | b$r AS (SELECT a, b, cnt FROM c$r ORDER BY cnt DESC, a, b LIMIT 1),
           | s$r AS (
           |  SELECT trim(replace(' ' || s || ' ',
           |           ' ' || (SELECT a FROM b$r) || '  ' || (SELECT b FROM b$r) || ' ',
           |           ' ' || (SELECT a || b FROM b$r) || ' ')) AS s, freq
           |  FROM s${r - 1}
           | )""".stripMargin
      }.mkString(",\n")
      s"""$wCte,
         | wf AS (SELECT word, COUNT(*) AS freq
         |        FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
         | s0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS s, freq
         |        FROM wf),
         |$rounds
         |SELECT * FROM (
         |  SELECT CAST(1 AS INT) AS round, a, b, CAST(cnt AS BIGINT) AS pair_count FROM b1
         |  UNION ALL SELECT CAST(2 AS INT), a, b, CAST(cnt AS BIGINT) FROM b2
         |  UNION ALL SELECT CAST(3 AS INT), a, b, CAST(cnt AS BIGINT) FROM b3
         | ) ORDER BY round""".stripMargin
    },

    // T38: per-doc token count under the t37-learned merges; the word →
    // final-symbols mapping join replaces the Spark side's per-doc
    // rewrite chain
    "t38_bpe_apply" -> {
      val rounds = (1 to 3).map { r =>
        s""" p$r AS (
           |  SELECT l[i.i] AS a, l[i.i + 1] AS b, freq
           |  FROM (SELECT str_split(s, '  ') AS l, freq FROM s${r - 1}) t
           |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) i
           | ),
           | c$r AS (SELECT a, b, SUM(freq) AS cnt FROM p$r GROUP BY 1, 2),
           | b$r AS (SELECT a, b, cnt FROM c$r ORDER BY cnt DESC, a, b LIMIT 1),
           | s$r AS (
           |  SELECT word, trim(replace(' ' || s || ' ',
           |           ' ' || (SELECT a FROM b$r) || '  ' || (SELECT b FROM b$r) || ' ',
           |           ' ' || (SELECT a || b FROM b$r) || ' ')) AS s, freq
           |  FROM s${r - 1}
           | )""".stripMargin
      }.mkString(",\n")
      s"""$wCte,
         | wf AS (SELECT word, COUNT(*) AS freq
         |        FROM (SELECT unnest(ws) AS word FROM w) GROUP BY 1),
         | s0 AS (SELECT word, trim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS s, freq
         |        FROM wf),
         |$rounds,
         | map AS (SELECT word, len(str_split(s, '  ')) AS n FROM s3),
         | tok AS (SELECT doc_id, unnest(ws) AS word FROM w)
         |SELECT doc_id, CAST(SUM(n) AS INT) AS n_bpe_tokens
         |FROM tok JOIN map USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // T12: positional (non-distinct) 3-grams — mirror of the Spark
    // orderedShingles expression
    "t12_repetition" ->
      s"""$wCte,
         | og AS (
         |  SELECT doc_id,
         |         CASE WHEN nt < 3 THEN []::VARCHAR[]
         |              ELSE list_transform(generate_series(1, len(ws) - 2),
         |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         |         END AS g
         |  FROM w
         | )
         |SELECT doc_id, CAST(len(g) AS INT) AS n_grams,
         |       CAST(len(list_distinct(g)) AS INT) AS n_distinct,
         |       CASE WHEN len(g) > 0
         |            THEN ROUND(1.0 - len(list_distinct(g)) * 1.0 / len(g), 4)
         |       END AS repetition
         |FROM og ORDER BY doc_id""".stripMargin,

    // T8: quantile_cont is DuckDB's linear-interpolation quantile — the
    // same definition as Spark's exact `percentile`; both interpolate over
    // the 4-rounded quality scores and round the result
    "t8_quality_quantiles" ->
      s"""$wCte,
         | stats AS (
         |  SELECT lang,
         |         ROUND(LEAST(1.0, nt / 50.0) * (len(list_distinct(ws)) * 1.0 / nt)
         |               * (1.0 - (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm)), 4) AS q
         |  FROM w
         | )
         |SELECT lang,
         |       ROUND(quantile_cont(q, 0.25), 4) AS q25,
         |       ROUND(quantile_cont(q, 0.50), 4) AS q50,
         |       ROUND(quantile_cont(q, 0.75), 4) AS q75,
         |       ROUND(quantile_cont(q, 0.90), 4) AS q90
         |FROM stats GROUP BY lang ORDER BY lang""".stripMargin,

    // T39: same 4dp-rounded interpolated thresholds, same strict-greater
    // bin count
    "t39_quality_deciles" ->
      s"""$wCte,
         | stats AS (
         |  SELECT doc_id,
         |         ROUND(LEAST(1.0, nt / 50.0) * (len(list_distinct(ws)) * 1.0 / nt)
         |               * (1.0 - (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm)), 4) AS q
         |  FROM w
         | ),
         | thr AS (
         |  SELECT [${(1 to 9).map(i => s"ROUND(quantile_cont(q, 0.$i), 4)").mkString(", ")}] AS t
         |  FROM stats
         | )
         |SELECT doc_id, q,
         |       CAST(1 + len(list_filter(t, x -> q > x)) AS INT) AS decile
         |FROM stats CROSS JOIN thr ORDER BY doc_id""".stripMargin,

    // T9: exact mirror of Sampling.hashUnit — 60-bit md5 prefix of
    // 'graft-sample:<id>' scaled to [0,1), compared against the per-lang
    // rate (both engines round the 60-bit integer to double identically)
    "t9_stratified_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |         CAST(${hash60Sql("'graft-sample:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |           / 1152921504606846976.0 AS u
         |  FROM documents
         | )
         |SELECT doc_id, lang FROM h
         |WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.9 ELSE 0.25 END
         |ORDER BY doc_id""".stripMargin,

    "t22_corpus_mix" ->
      s"""WITH c AS (
         |  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_s,
         |         pow(CAST(COUNT(*) AS DOUBLE), 0.5) AS w
         |  FROM documents GROUP BY lang
         | ),
         | tot AS (SELECT SUM(n_s) AS n_total, SUM(w) AS w_total FROM c),
         | r AS (
         |  SELECT lang,
         |         ROUND(LEAST(1.0, 0.3 * n_total * w / (w_total * n_s)), 6) AS rate
         |  FROM c CROSS JOIN tot
         | ),
         | h AS (
         |  SELECT doc_id, lang,
         |         CAST(${hash60Sql("'graft-mix:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |           / 1152921504606846976.0 AS u
         |  FROM documents
         | )
         |SELECT h.doc_id AS doc_id, h.lang AS lang
         |FROM h JOIN r ON (h.lang IS NOT DISTINCT FROM r.lang)
         |WHERE u < rate
         |ORDER BY doc_id""".stripMargin,

    // T10: the packing fold replayed as a recursive CTE — one recursion
    // step per in-language rank, advancing (pack_id, pack_offset, filled)
    // with exactly the first-fit rule of Packing.packSequences
    "t10_seq_packing" ->
      s"""WITH RECURSIVE ${wCte.stripPrefix("WITH ")},
         | d AS (
         |  SELECT lang, doc_id, CAST(nt AS INT) AS nt,
         |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM w
         | ),
         | pk AS (
         |  SELECT lang, doc_id, nt, rn,
         |         CAST(0 AS BIGINT) AS pack_id, 0 AS pack_offset, nt AS filled
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.lang, d.doc_id, d.nt, d.rn,
         |         CASE WHEN pk.filled + d.nt <= 256 THEN pk.pack_id ELSE pk.pack_id + 1 END,
         |         CASE WHEN pk.filled + d.nt <= 256 THEN pk.filled ELSE 0 END,
         |         CASE WHEN pk.filled + d.nt <= 256 THEN pk.filled + d.nt ELSE d.nt END
         |  FROM pk JOIN d ON d.lang = pk.lang AND d.rn = pk.rn + 1
         | )
         |SELECT lang, doc_id, nt AS n_tokens, pack_id, pack_offset
         |FROM pk ORDER BY lang, doc_id""".stripMargin,

    // T15: same unrounded ratios as the Spark-side qualityFilter — both
    // engines compute the doubles with identical arithmetic, so threshold
    // compares agree even at the boundary
    "t15_quality_filter" ->
      s"""$wCte,
         | s AS (
         |  SELECT doc_id, nt,
         |         len(list_distinct(ws)) * 1.0 / nt AS ttr,
         |         (length(norm) - (nt - 1)) * 1.0 / nt AS avg_len,
         |         (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
         |           / length(norm) AS punct,
         |         len(list_filter(ws, t -> ${inList("t", TextFunctions.Stopwords)})) * 1.0 / nt AS swr
         |  FROM w
         | )
         |SELECT doc_id, nt AS n_tokens,
         |       nt BETWEEN 20 AND 80 AS r_len,
         |       ttr >= 0.4 AS r_ttr,
         |       swr >= 0.05 AS r_stop,
         |       punct <= 0.1 AS r_punct,
         |       avg_len BETWEEN 3.0 AND 6.0 AS r_avg_len,
         |       (nt BETWEEN 20 AND 80) AND ttr >= 0.4 AND swr >= 0.05
         |         AND punct <= 0.1 AND (avg_len BETWEEN 3.0 AND 6.0) AS keep
         |FROM s ORDER BY doc_id""".stripMargin,

    // D11: duplicate-shingle fraction — mirror of Dedup.dupShingleFraction
    // over the same 60-bit shingle hashes as d2/d5
    "d11_dupgram_fraction" ->
      s"""$wCte,
         | sh0 AS (SELECT DISTINCT doc_id, unnest($shListSql) AS sstr FROM w WHERE nt >= 3),
         | sh AS (SELECT DISTINCT doc_id, ${hash60Sql("sstr")} AS s FROM sh0),
         | df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1)
         |SELECT sh.doc_id AS doc_id, COUNT(*) AS n_shingles,
         |       CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       ROUND(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS dup_fraction
         |FROM sh JOIN df USING (s)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "m1_multimodal_meta" ->
      """SELECT doc_id,
        |       'text/plain' AS media_type,
        |       octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS checksum,
        |       ascii(substr(text, 1, 1)) AS first_code
        |FROM documents ORDER BY doc_id""".stripMargin,

    // M2: expected WAV metadata from the same doc_id-derived parameters
    // the Spark side synthesizes; // is DuckDB integer division, matching
    // Scala Long division on the non-negative operands
    "m2_av_header_decode" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         8000 + (doc_id % 8) * 1000 AS rate,
        |         1 + (doc_id % 2) AS channels,
        |         1000 * (1 + (doc_id % 5)) AS data_len
        |  FROM documents
        | )
        |SELECT doc_id,
        |       'wav' AS format,
        |       CAST((data_len * 1000) // (rate * channels * 2) AS BIGINT) AS duration_ms,
        |       CAST(rate AS INT) AS sample_rate,
        |       CAST(channels AS INT) AS channels
        |FROM p ORDER BY doc_id""".stripMargin,

    // M3: expected pixel stats recomputed from the generative gradient —
    // one row per (doc, x, y) via generate_series, all-integer arithmetic
    // (// is integer division), never touching an actual image. The Spark
    // side must round-trip the JDK PNG encoder+decoder to match.
    "m3_image_pixel_decode" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         8 + (doc_id % 5) AS w, 6 + (doc_id % 4) AS h,
        |         1 + (doc_id % 3) AS a, 2 + (doc_id % 2) AS b,
        |         doc_id % 251 AS c
        |  FROM documents
        | ),
        | px AS (
        |  SELECT doc_id, w, h,
        |         (a * x.x + b * y.y + c) % 256 AS r,
        |         (a * x.x + b * y.y + c + 85) % 256 AS g,
        |         (a * x.x + b * y.y + c + 170) % 256 AS bl
        |  FROM p
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y
        | )
        |SELECT doc_id,
        |       CAST(MIN(w) AS INT) AS width, CAST(MIN(h) AS INT) AS height,
        |       CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |       CAST(SUM(r) AS BIGINT) AS r_sum,
        |       CAST(SUM(g) AS BIGINT) AS g_sum,
        |       CAST(SUM(bl) AS BIGINT) AS b_sum,
        |       CAST(MIN((299 * r + 587 * g + 114 * bl) // 1000) AS INT) AS luma_min,
        |       CAST(MAX((299 * r + 587 * g + 114 * bl) // 1000) AS INT) AS luma_max
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // M4: expected PCM stats from the same sample formula the Spark side
    // synthesizes into real WAV bytes and hand-decodes back
    "m4_audio_pcm_decode" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         8000 + (doc_id % 8) * 1000 AS rate,
        |         1 + (doc_id % 2) AS channels,
        |         200 + (doc_id % 101) AS n
        |  FROM documents
        | ),
        | s AS (
        |  SELECT doc_id, rate, channels,
        |         (doc_id * 7919 + i.i * 104729) % 65536 - 32768 AS v
        |  FROM p
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) i
        | )
        |SELECT doc_id,
        |       CAST(MIN(rate) AS INT) AS sample_rate,
        |       CAST(MIN(channels) AS INT) AS channels,
        |       CAST(COUNT(*) AS BIGINT) AS n_samples,
        |       CAST(SUM(v) AS BIGINT) AS pcm_sum,
        |       CAST(SUM(ABS(v)) AS BIGINT) AS pcm_abs_sum,
        |       CAST(MIN(v) AS INT) AS pcm_min,
        |       CAST(MAX(v) AS INT) AS pcm_max
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // M5: expected sampled-frame sums from the generative solid-color
    // formula — 4x3 = 12 pixels per frame, frames 0, 2, 4, ... sampled
    "m5_video_frame_sample" ->
      """WITH p AS (
        |  SELECT doc_id, 3 + (doc_id % 3) AS n FROM documents
        | ),
        | f AS (
        |  SELECT doc_id, n, i.i AS f,
        |         (doc_id * 13 + i.i * 31) % 256 AS base
        |  FROM p
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) i
        |  WHERE i.i % 2 = 0
        | )
        |SELECT doc_id,
        |       CAST(MIN(n) AS BIGINT) AS n_frames,
        |       CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |       CAST(SUM(12 * base) AS BIGINT) AS r_sum,
        |       CAST(SUM(12 * ((base + 85) % 256)) AS BIGINT) AS g_sum,
        |       CAST(SUM(12 * ((base + 170) % 256)) AS BIGINT) AS b_sum
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // M6: the container-walk counts are exact (frames 0, 2, ... of
    // 2 + doc_id % 4); the JPEG channel sums are lossy, so the oracle
    // asserts the Spark side's bounded-error booleans universally TRUE
    "m6_mjpeg_frame_sample" ->
      """SELECT doc_id,
        |       CAST(2 + doc_id % 4 AS BIGINT) AS n_frames,
        |       CAST((2 + doc_id % 4 + 1) // 2 AS BIGINT) AS n_sampled,
        |       TRUE AS r_ok, TRUE AS g_ok, TRUE AS b_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // M7: cut positions from the generative formula — the color switch at
    // frame index 2 + doc_id % 2 opens the one cut (none for doc_id % 5 = 0,
    // whose frames are all the same JPEG); frame counts are container-exact
    "m7_video_scene_cuts" ->
      """SELECT doc_id,
        |       CAST(4 + doc_id % 4 AS BIGINT) AS n_frames,
        |       CAST(3 + doc_id % 4 AS BIGINT) AS n_compared,
        |       CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_cuts,
        |       CAST(CASE WHEN doc_id % 5 = 0 THEN -1
        |                 ELSE 3 + doc_id % 2 END AS BIGINT) AS first_cut
        |FROM documents ORDER BY doc_id""".stripMargin,

    // M8: every dHash60 rebuilt from the md5 byte tables the synthesis
    // used — decode, 2x box resize (v1), luma, and all 60 gradient signs
    // mirrored without touching an image; undecodable rows NULL
    "m8_image_dhash" ->
      s"""$imageHashCte
         |SELECT i.doc_id,
         |       CAST(CASE WHEN i.doc_id % 97 = 0 THEN NULL
         |                 WHEN i.v = 1 THEN 22 ELSE 11 END AS INT) AS width,
         |       CAST(CASE WHEN i.doc_id % 97 = 0 THEN NULL
         |                 WHEN i.v = 1 THEN 12 ELSE 6 END AS INT) AS height,
         |       h.dhash
         |FROM ids i LEFT JOIN hashes h ON h.doc_id = i.doc_id
         |ORDER BY i.doc_id""".stripMargin,

    // S5: every WARC record restated from the generative arithmetic —
    // the warcinfo's fixed 17-byte payload, each response's URI, the
    // HTTP header block's 45 bytes + the body's 11 + |digits(id)|, and
    // the extracted body string; corrupt files contribute no rows
    "s5_warc_read" ->
      """WITH ids AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INT) + 1 AS k
        |  FROM documents WHERE doc_id % 97 <> 0
        | ),
        | recs AS (
        |  SELECT doc_id, CAST(0 AS INT) AS rec_idx,
        |         'warcinfo' AS record_type,
        |         CAST(NULL AS VARCHAR) AS target_uri,
        |         CAST(NULL AS VARCHAR) AS warc_date,
        |         CAST(17 AS BIGINT) AS payload_len,
        |         CAST(NULL AS VARCHAR) AS http_body
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, CAST(i.i + 1 AS INT),
        |         'response',
        |         'http://site' || (doc_id % 7) || '.com/p' || i.i,
        |         '2024-01-01T00:00:00Z',
        |         CAST(56 + length(CAST(doc_id AS VARCHAR)) AS BIGINT),
        |         'body ' || CAST(doc_id AS VARCHAR) || ' ' || i.i || ' end'
        |  FROM ids, generate_series(0, 2) i(i) WHERE i.i < k
        | )
        |SELECT doc_id, rec_idx, record_type, target_uri, warc_date,
        |       payload_len, http_body
        |FROM recs ORDER BY doc_id, rec_idx""".stripMargin,

    // M12: the removed-byte arithmetic restated (the spliced chunks'
    // exact sizes), idempotence as a universal zero, pixel preservation
    // as universal TRUE — NULLs for the corrupt rows
    "m12_image_meta_strip" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 97 = 0 THEN NULL
        |            WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'png' END AS fmt,
        |       CAST(CASE WHEN doc_id % 97 = 0 THEN NULL
        |            WHEN doc_id % 3 = 0 THEN 42 + length(CAST(doc_id AS VARCHAR))
        |            WHEN doc_id % 3 = 1 THEN 25 + length(CAST(doc_id AS VARCHAR))
        |            ELSE 0 END AS BIGINT) AS meta_removed_bytes,
        |       CAST(CASE WHEN doc_id % 97 = 0 THEN NULL
        |            ELSE 0 END AS BIGINT) AS second_pass_removed,
        |       CASE WHEN doc_id % 97 = 0 THEN NULL ELSE TRUE END AS px_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // M13: the LIST/INFO tag arithmetic (8 LIST framing + 'INFO' + IART
    // subchunk + pads), the 16-byte trailer, idempotence zeros, and the
    // PCM sums from the generative sample formula
    "m13_audio_meta_strip" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS v,
        |         length(CAST(doc_id AS VARCHAR)) AS dg,
        |         100 + CAST(doc_id % 7 AS INT) AS n
        |  FROM documents
        | ),
        | sums AS (
        |  SELECT d.doc_id,
        |         CAST(SUM((d.doc_id + i.i * 31) % 1000 - 500) AS BIGINT) AS pcm_sum
        |  FROM d, generate_series(0, 106) i(i) WHERE i.i < d.n
        |  GROUP BY d.doc_id
        | )
        |SELECT d.doc_id,
        |       CAST(CASE WHEN d.doc_id % 97 = 0 THEN NULL
        |            WHEN d.v = 0 THEN 26 + dg + dg % 2
        |            WHEN d.v = 2 THEN 16 ELSE 0 END AS BIGINT)
        |         AS meta_removed_bytes,
        |       CAST(CASE WHEN d.doc_id % 97 = 0 THEN NULL
        |            ELSE 0 END AS BIGINT) AS second_pass_removed,
        |       CAST(CASE WHEN d.doc_id % 97 = 0 THEN NULL
        |            ELSE d.n END AS BIGINT) AS n_samples,
        |       CASE WHEN d.doc_id % 97 = 0 THEN NULL ELSE s.pcm_sum END
        |         AS pcm_sum
        |FROM d JOIN sums s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // W3: every CrawlPipeline stage's keep-set recomputed independently
    // — the page universe and robots/extract decisions from the fixture
    // arithmetic ('*' group: Allow /s<c(k)>/p overrides Disallow
    // /s<c(k)>, Disallow /s<c(k+1)> blocks → blocked iff
    // id%11 = (id%7+1)%11); lang/quality/content-hash from the SOURCE
    // text with the same expressions t2/t15/d1 pin (extraction is
    // whitespace-collapse-invariant, so signals on documents.text equal
    // signals on the extracted text); exact-dedup canonical = min
    // SURVIVING id per hash; near-dedup through the d9 simhash chain +
    // the recursive-CTE component closure — then the funnel restated.
    "w3_crawl_pipeline" -> crawlFunnelSql(
      """SELECT stage, n_in, n_out FROM (
        | SELECT '00_responses' AS stage, n00 AS n_in, n00 AS n_out FROM counts
        | UNION ALL SELECT '05_url_dedup', n00, n05 FROM counts
        | UNION ALL SELECT '10_robots', n05, n10 FROM counts
        | UNION ALL SELECT '20_extract', n10, n20 FROM counts
        | UNION ALL SELECT '30_lang', n20, n30 FROM counts
        | UNION ALL SELECT '40_quality', n30, n40 FROM counts
        | UNION ALL SELECT '50_exact_dedup', n40, n50 FROM counts, c50
        | UNION ALL SELECT '60_near_dedup', n50, n60 FROM c50, c60
        |) ORDER BY stage""".stripMargin),

    // W4: the final keep-set id-exact, each survivor's URI rebuilt from
    // the same host/path arithmetic the fixture synthesized — alias
    // pages (id%13=1) surface under their TARGET's host/path plus the
    // tracking query the canonicalizer strips
    "w4_crawl_kept" -> crawlFunnelSql(
      """SELECT id AS doc_id,
        |       'http://site' || CAST(uid % 7 AS VARCHAR) || '.com/s' ||
        |       chr(97 + CAST(uid % 11 AS INT)) || '/p' ||
        |       CAST(uid AS VARCHAR) ||
        |       CASE WHEN id % 13 = 1
        |            THEN '?utm_source=feed&fbclid=x' || CAST(id AS VARCHAR)
        |            ELSE '' END AS target_uri
        |FROM f60 JOIN pg USING (id) ORDER BY doc_id""".stripMargin),

    // W5: canonical identity from the arithmetic (case noise and
    // tracking params both normalize away), min-id keeper owns the
    // priority, rank/offset windows mirrored
    "w5_frontier_schedule" ->
      """WITH d AS (
        |  SELECT 'http://site' || (doc_id % 7) || '.com/p' || (doc_id % 50) AS url,
        |         'site' || (doc_id % 7) || '.com' AS host,
        |         MIN(doc_id) AS keeper
        |  FROM documents GROUP BY 1, 2
        | ),
        | r AS (
        |  SELECT host, url, CAST((keeper * 7) % 100 AS BIGINT) AS priority,
        |         ROW_NUMBER() OVER (PARTITION BY host
        |           ORDER BY (keeper * 7) % 100 DESC, url) AS fetch_rank
        |  FROM d
        | )
        |SELECT host, url, priority, CAST(fetch_rank AS BIGINT) AS fetch_rank,
        |       CAST((fetch_rank - 1) * 2 AS BIGINT) AS scheduled_offset_sec
        |FROM r WHERE fetch_rank <= 5
        |ORDER BY host, fetch_rank""".stripMargin,

    // W6: the per-host delay restated from the fixture arithmetic
    // (host 5's graftbot-specific 7, k%3=0 hosts default 1.0, else
    // k+1); identity/priority/rank mirror w5's pattern
    "w6_crawl_delay_schedule" ->
      """WITH d AS (
        |  SELECT 'http://site' || (doc_id % 7) || '.com/p' || (doc_id % 50) AS url,
        |         'site' || (doc_id % 7) || '.com' AS host,
        |         (doc_id % 7) AS k,
        |         MIN(doc_id) AS keeper
        |  FROM documents GROUP BY 1, 2, 3
        | ),
        | r AS (
        |  SELECT host, url, CAST((keeper * 7) % 100 AS BIGINT) AS priority,
        |         CASE WHEN k = 5 THEN 7.0
        |              WHEN k % 3 = 0 THEN 1.0
        |              ELSE k + 1.0 END AS delay_sec,
        |         ROW_NUMBER() OVER (PARTITION BY host
        |           ORDER BY (keeper * 7) % 100 DESC, url) AS fetch_rank
        |  FROM d
        | )
        |SELECT host, url, priority, CAST(fetch_rank AS BIGINT) AS fetch_rank,
        |       CAST((fetch_rank - 1) * delay_sec AS DOUBLE) AS scheduled_offset_sec
        |FROM r WHERE fetch_rank <= 5
        |ORDER BY host, fetch_rank""".stripMargin,

    // W7: standing ranks restated from the %20 universe (keeper*7
    // priority), the discovery delta anti-joined on (host, url), new
    // keys continuing each host's rank sequence under the merged cap —
    // standing offsets and appended offsets share the (rank-1)*2
    // arithmetic, so continuity is hash-checked, not just counted
    "w7_frontier_merge" ->
      """WITH st AS (
        |  SELECT 'site' || (doc_id % 5) || '.com' AS host,
        |         'http://site' || (doc_id % 5) || '.com/p' || (doc_id % 20) AS url,
        |         MIN(doc_id) AS keeper
        |  FROM documents GROUP BY 1, 2
        | ),
        | standing AS (
        |  SELECT host, url, CAST((keeper * 7) % 100 AS BIGINT) AS priority,
        |         ROW_NUMBER() OVER (PARTITION BY host
        |           ORDER BY (keeper * 7) % 100 DESC, url) AS fetch_rank
        |  FROM st
        | ),
        | dv AS (
        |  SELECT 'site' || (doc_id % 5) || '.com' AS host,
        |         'http://site' || (doc_id % 5) || '.com/p' || (doc_id % 40) AS url,
        |         MIN(doc_id) AS keeper
        |  FROM documents GROUP BY 1, 2
        | ),
        | fresh AS (
        |  SELECT d.host, d.url, CAST((d.keeper * 11) % 100 AS BIGINT) AS priority
        |  FROM dv d
        |  WHERE NOT EXISTS (SELECT 1 FROM st s
        |                    WHERE s.host = d.host AND s.url = d.url)
        | ),
        | base AS (SELECT host, MAX(fetch_rank) AS mr FROM standing GROUP BY 1),
        | app AS (
        |  SELECT f.host, f.url, f.priority,
        |         COALESCE(b.mr, 0) + ROW_NUMBER() OVER (PARTITION BY f.host
        |           ORDER BY f.priority DESC, f.url) AS fetch_rank
        |  FROM fresh f LEFT JOIN base b ON f.host = b.host
        | ),
        | merged AS (
        |  SELECT host, url, priority, fetch_rank FROM standing
        |  UNION ALL
        |  SELECT host, url, priority, fetch_rank FROM app WHERE fetch_rank <= 6
        | )
        |SELECT host, url, priority, CAST(fetch_rank AS BIGINT) AS fetch_rank,
        |       CAST((fetch_rank - 1) * 2 AS BIGINT) AS scheduled_offset_sec
        |FROM merged ORDER BY host, fetch_rank""".stripMargin,

    // W9: standing = w6's per-host-delay queue capped at 5; fresh =
    // the %100 universe anti-joined against the CAPPED standing (urls
    // that fell outside a host's top-5 are genuinely new to the queue);
    // appended ranks continue after the cap with the host's own delay
    "w9_frontier_merge_delays" ->
      """WITH d AS (
        |  SELECT 'http://site' || (doc_id % 7) || '.com/p' || (doc_id % 50) AS url,
        |         'site' || (doc_id % 7) || '.com' AS host,
        |         (doc_id % 7) AS k,
        |         MIN(doc_id) AS keeper
        |  FROM documents GROUP BY 1, 2, 3
        | ),
        | r AS (
        |  SELECT host, url, CAST((keeper * 7) % 100 AS BIGINT) AS priority, k,
        |         CASE WHEN k = 5 THEN 7.0
        |              WHEN k % 3 = 0 THEN 1.0
        |              ELSE k + 1.0 END AS delay_sec,
        |         ROW_NUMBER() OVER (PARTITION BY host
        |           ORDER BY (keeper * 7) % 100 DESC, url) AS fetch_rank
        |  FROM d
        | ),
        | standing AS (SELECT * FROM r WHERE fetch_rank <= 5),
        | d2 AS (
        |  SELECT 'http://site' || (doc_id % 7) || '.com/p' || (doc_id % 100) AS url,
        |         'site' || (doc_id % 7) || '.com' AS host,
        |         (doc_id % 7) AS k,
        |         MIN(doc_id) AS keeper
        |  FROM documents GROUP BY 1, 2, 3
        | ),
        | fresh AS (
        |  SELECT d2.host, d2.url, CAST((d2.keeper * 11) % 100 AS BIGINT) AS priority,
        |         d2.k
        |  FROM d2
        |  WHERE NOT EXISTS (SELECT 1 FROM standing s
        |                    WHERE s.host = d2.host AND s.url = d2.url)
        | ),
        | base AS (SELECT host, MAX(fetch_rank) AS mr FROM standing GROUP BY 1),
        | app AS (
        |  SELECT f.host, f.url, f.priority,
        |         COALESCE(b.mr, 0) + ROW_NUMBER() OVER (PARTITION BY f.host
        |           ORDER BY f.priority DESC, f.url) AS fetch_rank,
        |         CASE WHEN f.k = 5 THEN 7.0
        |              WHEN f.k % 3 = 0 THEN 1.0
        |              ELSE f.k + 1.0 END AS delay_sec
        |  FROM fresh f LEFT JOIN base b ON f.host = b.host
        | ),
        | merged AS (
        |  SELECT host, url, priority, fetch_rank, delay_sec FROM standing
        |  UNION ALL
        |  SELECT host, url, priority, fetch_rank, delay_sec FROM app
        |  WHERE fetch_rank <= 8
        | )
        |SELECT host, url, priority, CAST(fetch_rank AS BIGINT) AS fetch_rank,
        |       CAST((fetch_rank - 1) * delay_sec AS DOUBLE) AS scheduled_offset_sec
        |FROM merged ORDER BY host, fetch_rank""".stripMargin,

    // W11: the convergence contract adjudicated — the incrementally
    // maintained keep-set must equal the t15 gate run from scratch over
    // the current snapshot (same `s` CTE as t15), statuses restated
    // from the %13/%9 arithmetic (added wins when both apply; retired
    // negative ids are absent from the current snapshot by construction)
    "w11_incremental_curation" ->
      s"""$wCte,
         | s AS (
         |  SELECT doc_id, nt,
         |         len(list_distinct(ws)) * 1.0 / nt AS ttr,
         |         (length(norm) - (nt - 1)) * 1.0 / nt AS avg_len,
         |         (length(norm) - length(regexp_replace(norm, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
         |           / length(norm) AS punct,
         |         len(list_filter(ws, t -> ${inList("t", TextFunctions.Stopwords)})) * 1.0 / nt AS swr
         |  FROM w
         | )
         |SELECT doc_id,
         |       CASE WHEN doc_id % 13 = 5 THEN 'added'
         |            WHEN doc_id % 9 = 2 THEN 'changed'
         |            ELSE 'unchanged' END AS status,
         |       CAST(nt AS BIGINT) AS n_tokens
         |FROM s
         |WHERE (nt BETWEEN 20 AND 80) AND ttr >= 0.4 AND swr >= 0.05
         |  AND punct <= 0.1 AND (avg_len BETWEEN 3.0 AND 6.0)
         |ORDER BY doc_id""".stripMargin,

    // W10: discovery restated from the fixture arithmetic — a doc is
    // listed at all iff its host declares the sitemap of its parity
    // (host 4 none, odd hosts j=0 only, even hosts both); priority =
    // the lastmod day (doc_id % 28 + 1); standing = the %10 universe's
    // schedule; appended ranks continue each host's tail under cap 16
    "w10_sitemap_discovery_schedule" ->
      """WITH su AS (
        |  SELECT 'site' || (doc_id % 7) || '.com' AS host,
        |         'http://site' || (doc_id % 7) || '.com/p' || (doc_id % 10) AS url,
        |         MIN(doc_id) AS keeper
        |  FROM documents GROUP BY 1, 2
        | ),
        | standing AS (
        |  SELECT host, url, CAST((keeper * 7) % 100 AS BIGINT) AS priority,
        |         ROW_NUMBER() OVER (PARTITION BY host
        |           ORDER BY (keeper * 7) % 100 DESC, url) AS fetch_rank
        |  FROM su
        | ),
        | disc AS (
        |  SELECT 'site' || (doc_id % 7) || '.com' AS host,
        |         'http://site' || (doc_id % 7) || '.com/sd' || doc_id AS url,
        |         CAST(doc_id % 28 + 1 AS BIGINT) AS priority
        |  FROM documents
        |  WHERE (doc_id % 7) <> 4
        |    AND ((doc_id % 7) % 2 = 0 OR doc_id % 2 = 0)
        | ),
        | base AS (SELECT host, MAX(fetch_rank) AS mr FROM standing GROUP BY 1),
        | app AS (
        |  SELECT d.host, d.url, d.priority,
        |         COALESCE(b.mr, 0) + ROW_NUMBER() OVER (PARTITION BY d.host
        |           ORDER BY d.priority DESC, d.url) AS fetch_rank
        |  FROM disc d LEFT JOIN base b ON d.host = b.host
        | ),
        | merged AS (
        |  SELECT host, url, priority, fetch_rank FROM standing
        |  UNION ALL
        |  SELECT host, url, priority, fetch_rank FROM app WHERE fetch_rank <= 16
        | )
        |SELECT host, url, priority, CAST(fetch_rank AS BIGINT) AS fetch_rank,
        |       CAST((fetch_rank - 1) * 2 AS BIGINT) AS scheduled_offset_sec
        |FROM merged ORDER BY host, fetch_rank""".stripMargin,

    // W8: the crawl keep-set rebuilt through the same CTE chain as
    // w3/w4 (f60), survivors scored with the t21 quality expression on
    // the whitespace-collapsed source text (extraction is
    // whitespace-collapse-invariant, the w3 contract), then the same
    // running-sum budget selection as t21's oracle
    "w8_crawl_to_corpus" -> crawlFunnelSql(
      """SELECT page_id, n_tokens FROM (
        | SELECT page_id, n_tokens,
        |        CAST(SUM(nt) OVER (ORDER BY q DESC, page_id) AS BIGINT) AS cum_cost
        | FROM (
        |  SELECT w.id AS page_id, CAST(len(ws) AS BIGINT) AS n_tokens, len(ws) AS nt,
        |         ROUND(LEAST(1.0, len(ws) / 50.0)
        |               * (len(list_distinct(ws)) * 1.0 / len(ws))
        |               * (1.0 - (length(norm) - length(regexp_replace(norm,
        |                    '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0 / length(norm)),
        |               4) AS q
        |  FROM w JOIN f60 ON w.id = f60.id
        | )
        |)
        |WHERE cum_cost <= 8000 ORDER BY page_id""".stripMargin),

    // W2: the entry stream restated — urlset rows for i < k (lastmod
    // NULL on i=2), two sitemap-index children for %5 docs, nothing for
    // garbage
    "w2_sitemap" ->
      """WITH ids AS (
        |  SELECT doc_id, CAST(doc_id % 3 + 1 AS INT) AS k FROM documents
        | ),
        | e AS (
        |  SELECT doc_id, 'url' AS kind,
        |         'http://site' || (doc_id % 7) || '.com/p'
        |           || CAST(doc_id AS VARCHAR) || '_' || i.i AS loc,
        |         CASE WHEN i.i = 2 THEN NULL
        |              ELSE '2024-01-' || lpad(CAST((doc_id + i.i) % 28 + 1
        |                   AS VARCHAR), 2, '0') END AS lastmod
        |  FROM ids, generate_series(0, 2) i(i)
        |  WHERE i.i < k AND doc_id % 97 <> 0 AND doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, 'sitemap',
        |         'http://site' || (doc_id % 7) || '.com/sm' || i.i || '.xml',
        |         NULL
        |  FROM ids, generate_series(1, 2) i(i)
        |  WHERE doc_id % 97 <> 0 AND doc_id % 5 = 0
        | )
        |SELECT doc_id, kind, loc, lastmod FROM e
        |ORDER BY doc_id, loc""".stripMargin,

    // W1: the link graph restated from the generative arithmetic, the
    // degree logic mirrored like g2's oracle
    "w1_web_graph" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src, (doc_id * 7 + 1) % 1000 AS dst FROM documents
        |    UNION ALL
        |    SELECT doc_id, (doc_id * 13 + 2) % 1000 FROM documents)
        |  WHERE src <> dst
        | ),
        | od AS (SELECT src AS node, COUNT(*) AS out_deg FROM e GROUP BY 1),
        | idg AS (SELECT dst AS node, COUNT(*) AS in_deg FROM e GROUP BY 1),
        | r AS (SELECT a.src AS node, COUNT(*) AS recip_deg
        |       FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src GROUP BY 1),
        | n AS (SELECT node FROM od UNION SELECT node FROM idg)
        |SELECT n.node,
        |       CAST(COALESCE(out_deg, 0) AS BIGINT) AS out_deg,
        |       CAST(COALESCE(in_deg, 0) AS BIGINT) AS in_deg,
        |       CAST(COALESCE(recip_deg, 0) AS BIGINT) AS recip_deg,
        |       (COALESCE(in_deg, 0) = 0) AS is_source,
        |       (COALESCE(out_deg, 0) = 0) AS is_sink
        |FROM n LEFT JOIN od USING (node) LEFT JOIN idg USING (node)
        |       LEFT JOIN r USING (node)
        |ORDER BY n.node""".stripMargin,

    // M10: every envelope hash rebuilt from the md5 byte tables — the 2x
    // resample variant mirrors through the base energies (doubling is
    // exact), undecodable rows NULL
    "m10_audio_dhash" ->
      s"""$audioHashCte
         |SELECT i.doc_id,
         |       CAST(CASE WHEN i.doc_id % 97 = 0 THEN NULL
         |                 WHEN i.v = 1 THEN 488 ELSE 244 END AS INT) AS n_samples,
         |       h.dhash
         |FROM ids i LEFT JOIN ahashes h ON h.doc_id = i.doc_id
         |ORDER BY i.doc_id""".stripMargin,

    // M11: the m9 band/rescore mirror over the audio envelope hashes
    "m11_audio_neardup" ->
      s"""$audioHashCte,
         | bands AS (
         |  SELECT doc_id, dhash, b.band,
         |         (dhash >> CAST(b.band * 15 AS INT)) & 32767 AS bits
         |  FROM ahashes, generate_series(0, 3) b(band)
         | ),
         | cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         |         a.dhash AS dhash_a, c.dhash AS dhash_b
         |  FROM bands a
         |  JOIN bands c ON c.band = a.band AND c.bits = a.bits
         |              AND a.doc_id < c.doc_id
         | )
         |SELECT id_a, id_b, dhash_a, dhash_b,
         |       CAST(bit_count(xor(dhash_a, dhash_b)) AS INT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(dhash_a, dhash_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // M9: the banded Hamming join mirrored structurally — same 4 x 15-bit
    // band keys, same pigeonhole candidate set, same popcount rescore
    "m9_image_neardup" ->
      s"""$imageHashCte,
         | bands AS (
         |  SELECT doc_id, dhash, b.band,
         |         (dhash >> CAST(b.band * 15 AS INT)) & 32767 AS bits
         |  FROM hashes, generate_series(0, 3) b(band)
         | ),
         | cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         |         a.dhash AS dhash_a, c.dhash AS dhash_b
         |  FROM bands a
         |  JOIN bands c ON c.band = a.band AND c.bits = a.bits
         |              AND a.doc_id < c.doc_id
         | )
         |SELECT id_a, id_b, dhash_a, dhash_b,
         |       CAST(bit_count(xor(dhash_a, dhash_b)) AS INT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(dhash_a, dhash_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // D21: duplicated 5-gram POSITIONS merged to maximal spans — the
    // gaps-and-islands mirror of Dedup.dupSpans over raw gram strings
    // (the Spark side groups xxhash64 of the same grams)
    "d21_dup_spans" ->
      s"""$wCte,
         | grams AS (
         |  SELECT doc_id, i.i - 1 AS pos, array_to_string(ws[i.i:i.i+4], ' ') AS g
         |  FROM w
         |  CROSS JOIN LATERAL (
         |    SELECT unnest(generate_series(1, greatest(nt - 4, 0))) AS i) i
         | ),
         | dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
         | hits AS (
         |  SELECT doc_id, pos,
         |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM grams WHERE g IN (SELECT g FROM dup)
         | ),
         | spans AS (
         |  SELECT doc_id, COUNT(*) + 4 AS span_len
         |  FROM hits GROUP BY doc_id, grp
         | )
         |SELECT d.doc_id,
         |       CAST(COUNT(s.span_len) AS INT) AS n_spans,
         |       CAST(COALESCE(SUM(s.span_len), 0) AS BIGINT) AS span_tokens,
         |       CAST(COALESCE(MAX(s.span_len), 0) AS BIGINT) AS max_span
         |FROM documents d LEFT JOIN spans s ON d.doc_id = s.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // D23: the same first-occurrence cut stated over raw gram strings
    // (the Spark side decides on xxhash64 of the identical grams): a
    // position is duplicated iff its gram's ROW_NUMBER over the global
    // (doc_id, pos) order exceeds 1; coverage is the identical running
    // MAX window over the merged token+marker stream; the rebuilt text
    // is string_agg of the surviving tokens in position order
    "d23_exact_substring" ->
      s"""$wCte,
         | grams AS (
         |  SELECT doc_id, i.i - 1 AS pos, array_to_string(ws[i.i:i.i+4], ' ') AS g
         |  FROM w
         |  CROSS JOIN LATERAL (
         |    SELECT unnest(generate_series(1, greatest(nt - 4, 0))) AS i) i
         | ),
         | hits AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |           ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
         |    FROM grams)
         |  WHERE rn > 1
         | ),
         | ev AS (
         |  SELECT doc_id, i.i - 1 AS p, ws[i.i] AS tok, 0 AS is_dup, -1 AS cov_end
         |  FROM w
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, nt)) AS i) i
         |  UNION ALL
         |  SELECT doc_id, pos AS p, NULL AS tok, 1 AS is_dup, pos + 4 AS cov_end
         |  FROM hits
         | ),
         | mk AS (
         |  SELECT doc_id, p, tok, is_dup,
         |         MAX(cov_end) OVER (PARTITION BY doc_id ORDER BY p, is_dup DESC
         |             ROWS UNBOUNDED PRECEDING) AS run_end
         |  FROM ev
         | ),
         | t2 AS (
         |  SELECT doc_id, p, tok, (run_end >= p) AS removed FROM mk WHERE is_dup = 0
         | ),
         | agg2 AS (
         |  SELECT doc_id,
         |         COUNT(*) AS n_tokens,
         |         COUNT(*) FILTER (WHERE removed) AS n_removed,
         |         md5(COALESCE(string_agg(CASE WHEN NOT removed THEN tok END,
         |             ' ' ORDER BY p), '')) AS kept_hash
         |  FROM t2 GROUP BY doc_id
         | )
         |SELECT d.doc_id,
         |       COALESCE(a.n_tokens, 0) AS n_tokens,
         |       COALESCE(a.n_removed, 0) AS n_removed,
         |       COALESCE(a.kept_hash, md5('')) AS kept_hash
         |FROM documents d LEFT JOIN agg2 a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // T43: the CANONICAL url built directly from the doc_id arithmetic —
    // scheme/host lowercased, trailing host dot stripped, default ports
    // dropped, '' path -> '/', tracking params stripped + survivors
    // sorted ('a=1' < 'b=2'), fragment dropped
    "t43_url_canonicalize" ->
      """SELECT doc_id,
        |       (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
        |       || '://www.site' || (doc_id % 7) || '.com'
        |       || (CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
        |       || (CASE WHEN doc_id % 4 = 0 THEN '/'
        |                ELSE '/a' || (doc_id % 4) || '/page' END)
        |       || (CASE WHEN doc_id % 3 = 2 THEN '' ELSE '?a=1&b=2' END)
        |         AS canonical_url,
        |       'www.site' || (doc_id % 7) || '.com' AS host
        |FROM documents ORDER BY doc_id""".stripMargin,

    // T50: the same cards reconstructed digit for digit — the Luhn check
    // digit restated by the identical mod-10 rule — and the expected
    // masking decision stated per variant
    "t50_cc_scrub" ->
      """WITH ids AS (
        |  SELECT doc_id, CAST(doc_id % 4 AS INT) AS v FROM documents
        | ),
        | d AS (
        |  SELECT doc_id, j.j AS j,
        |         CAST(((doc_id + 1) * (j.j + 3) * 7919) % 10 AS INT) AS dg
        |  FROM documents, generate_series(0, 14) j(j)
        | ),
        | agg AS (
        |  SELECT doc_id,
        |         string_agg(CAST(dg AS VARCHAR), '' ORDER BY j DESC) AS d15,
        |         SUM(CASE WHEN j % 2 = 0
        |                  THEN CASE WHEN 2 * dg > 9 THEN 2 * dg - 9 ELSE 2 * dg END
        |                  ELSE dg END) AS s
        |  FROM d GROUP BY doc_id
        | ),
        | card AS (
        |  SELECT doc_id, d15,
        |         CAST((10 - s % 10) % 10 AS INT) AS c,
        |         CAST((10 - s % 10 + 5) % 10 AS INT) AS cbad
        |  FROM agg
        | )
        |SELECT i.doc_id,
        |       (CASE i.v
        |             WHEN 0 THEN 'pay <CC> today'
        |             WHEN 1 THEN 'card <CC> on file'
        |             WHEN 2 THEN 'pay ' || k.d15 || CAST(k.cbad AS VARCHAR) || ' today'
        |             ELSE 'order ' || substr(k.d15, 1, 8) END)
        |       || ' #' || CAST(i.doc_id AS VARCHAR) AS scrubbed,
        |       i.v IN (0, 1) AS changed
        |FROM ids i JOIN card k USING (doc_id)
        |ORDER BY i.doc_id""".stripMargin,

    // T49: the expected CLEAN text stated directly from the generative
    // arithmetic — the engine must unwind one and two cp1252 misdecodes
    // to exactly this, and must leave the clean rows (doc_id % 3 = 0)
    // byte-identical
    "t49_fix_mojibake" ->
      """SELECT doc_id,
        |       (CASE CAST(doc_id % 5 AS INT)
        |             WHEN 0 THEN 'café déjà vu'
        |             WHEN 1 THEN 'naïve coöperation'
        |             WHEN 2 THEN 'don’t «quote» me'
        |             WHEN 3 THEN 'price €99 – 50¢'
        |             ELSE 'mañana señor' END)
        |       || ' #' || CAST(doc_id AS VARCHAR) AS fixed_text,
        |       doc_id % 3 <> 0 AS changed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // T51: the allow/deny decisions restated from the rule arithmetic —
    // deny only when the path segment hits the host's un-overridden
    // Disallow; garbage-robots and no-robots hosts allow everything
    "t51_robots_filter" ->
      """SELECT doc_id,
        |       'http://site'
        |       || CASE WHEN doc_id % 97 = 0 THEN '9'
        |               WHEN doc_id % 89 = 0 THEN '8'
        |               ELSE CAST(doc_id % 7 AS VARCHAR) END
        |       || '.com/s' || chr(97 + CAST(doc_id % 11 AS INT))
        |       || '/p' || CAST(doc_id AS VARCHAR) AS url,
        |       CASE WHEN doc_id % 97 = 0 OR doc_id % 89 = 0 THEN TRUE
        |            WHEN doc_id % 11 = (doc_id % 7 + 1) % 11 THEN FALSE
        |            ELSE TRUE END AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // T52: the same text rebuilt, the same code-point-range counting
    // (length minus range-stripped length), the same dominant chain
    "t52_script_mix" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         repeat('hello ', CAST(doc_id % 3 + 1 AS INT))
        |         || repeat('мир ', CAST(doc_id % 4 AS INT))
        |         || repeat('κόσμος ', CAST(doc_id % 2 AS INT))
        |         || repeat('世界 ', CAST(doc_id % 5 AS INT))
        |         || repeat('سلام ', CAST(doc_id % 3 AS INT))
        |         || '#' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents
        | ),
        | c AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS INT) AS n_latin,
        |    CAST(length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')) AS INT) AS n_cyrillic,
        |    CAST(length(text) - length(regexp_replace(text, '[Ͱ-Ͽ]', '', 'g')) AS INT) AS n_greek,
        |    CAST(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS INT) AS n_cjk,
        |    CAST(length(text) - length(regexp_replace(text, '[؀-ۿ]', '', 'g')) AS INT) AS n_arabic,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digit
        |  FROM t
        | )
        |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_digit,
        |       CASE WHEN n_latin >= GREATEST(n_cyrillic, n_greek, n_cjk, n_arabic) THEN 'latin'
        |            WHEN n_cyrillic >= GREATEST(n_greek, n_cjk, n_arabic) THEN 'cyrillic'
        |            WHEN n_greek >= GREATEST(n_cjk, n_arabic) THEN 'greek'
        |            WHEN n_cjk >= n_arabic THEN 'cjk'
        |            ELSE 'arabic' END AS dominant
        |FROM c ORDER BY doc_id""".stripMargin,

    // T48: the same extraction chain re-implemented in DuckDB's RE2 —
    // comment drop, whole-element script/style drop, generic tag strip,
    // entity decode (&amp; last), whitespace collapse; link density from
    // the anchors' inner text through the identical chain
    "t48_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         '<html><head><title>Doc ' || doc_id
        |         || '</title><style type="text/css">p { color: red; }</style>'
        |         || '<script>if (1 < 2) { x = "&amp;"; } document.write("<b>junk</b>");</script>'
        |         || '</head><body><!-- hidden ' || (doc_id % 5)
        |         || ' --><h1>Heading ' || (doc_id % 7)
        |         || '</h1><p>Body text &amp; entity &lt;tag&gt; with <b>bold ' || (doc_id % 3)
        |         || '</b> and&nbsp;spaced words here.</p>'
        |         || CASE WHEN doc_id % 3 = 0
        |                 THEN '<ul><li><a href="/nav1">Nav One</a></li><li><a href="/nav2">Nav Two</a></li><li><a href="/nav3">Nav Three</a></li></ul>'
        |                 WHEN doc_id % 3 = 1
        |                 THEN '<p><a href="/more">read more</a></p>'
        |                 ELSE '' END
        |         || '</body></html>' AS html
        |  FROM documents
        | ),
        | lk AS (
        |  SELECT doc_id, html,
        |         COALESCE(array_to_string(
        |           regexp_extract_all(html, '(?is)<a[^>]*>(.*?)</a\s*>', 1),
        |           ' '), '') AS linkhtml
        |  FROM h
        | ),
        | st AS (
        |  SELECT doc_id, html,
        |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |           '(?s)<!--.*?-->', ' ', 'g'),
        |           '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
        |           '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
        |           '(?s)<[^>]+>', ' ', 'g') AS t,
        |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(linkhtml,
        |           '(?s)<!--.*?-->', ' ', 'g'),
        |           '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
        |           '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
        |           '(?s)<[^>]+>', ' ', 'g') AS lt
        |  FROM lk
        | ),
        | de AS (
        |  SELECT doc_id, html,
        |         trim(regexp_replace(
        |           replace(replace(replace(replace(replace(replace(t,
        |             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |             '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |           '\s+', ' ', 'g')) AS text,
        |         trim(regexp_replace(
        |           replace(replace(replace(replace(replace(replace(lt,
        |             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |             '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |           '\s+', ' ', 'g')) AS ltext
        |  FROM st
        | )
        |SELECT doc_id, text,
        |       CAST(len(text) AS BIGINT) AS n_chars,
        |       ROUND(CAST(len(ltext) AS DOUBLE) / GREATEST(len(text), 1), 4)
        |         AS link_density,
        |       ROUND(CAST(len(text) AS DOUBLE) / GREATEST(len(html), 1), 4)
        |         AS text_ratio
        |FROM de ORDER BY doc_id""".stripMargin,

    // T47: DuckDB's own jaro_winkler_similarity over the same strings
    "t47_name_similarity" ->
      """WITH n AS (
        |  SELECT doc_id,
        |         lower(['Acme', 'Borel', 'Cyan', 'Delta', 'Ember', 'Flux',
        |                'Gamma', 'Helix', 'Ionic', 'Joule', 'Kappa', 'Lumen']
        |               [CAST((doc_id // 4) % 12 + 1 AS INT)] ||
        |           substring(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 6)) AS base,
        |         CASE WHEN doc_id % 3 = 0 THEN ' corp'
        |              WHEN doc_id % 3 = 1 THEN ' corp.'
        |              ELSE ' co' END AS sfx
        |  FROM documents
        | )
        |SELECT doc_id,
        |       ROUND(jaro_winkler_similarity(base || sfx, base || ' corp'), 4)
        |         AS jw_canonical,
        |       ROUND(jaro_winkler_similarity(base || sfx, reverse(base || ' corp')), 4)
        |         AS jw_decoy
        |FROM n ORDER BY doc_id""".stripMargin,

    // T46: updates (replacements + appends) unioned with the anti-joined
    // untouched base — the upsert contract stated directly
    "t46_upsert" ->
      """WITH u AS (
        |  SELECT doc_id, lang, 'patched' AS source, n_chars + 1 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, 'fresh', n_chars
        |  FROM documents WHERE doc_id < 25
        | )
        |SELECT doc_id, lang, source, n_chars FROM u
        |UNION ALL
        |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM u)
        |ORDER BY doc_id""".stripMargin,

    // T45: the same blocked join in SQL (DuckDB's levenshtein is the
    // identical classic unit-cost DP). The maxBlockSize=64 guard is
    // mirrored STRUCTURALLY: all three split rounds (each round extends
    // a row's prefix by 2 when its CURRENT block is over-full and the
    // name has chars left) plus the final stop-block drop — the per-row
    // pfx column carries the round state exactly as the operator does,
    // so exactness holds under ANY name distribution, not just the
    // near-uniform md5 extension chars of this fixture (rounds 2-3 are
    // no-ops at every oracle SF, but a skewed corpus keeping a block
    // over-full after round 1 would diverge from a one-level mirror)
    "t45_fuzzy_match" ->
      """WITH n AS (
        |  SELECT doc_id AS id,
        |         lower(['Acme', 'Borel', 'Cyan', 'Delta', 'Ember', 'Flux',
        |                'Gamma', 'Helix', 'Ionic', 'Joule', 'Kappa', 'Lumen']
        |               [CAST((doc_id // 4) % 12 + 1 AS INT)] ||
        |           substring(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 6) ||
        |           CASE WHEN doc_id % 3 = 0 THEN ' Corp'
        |                WHEN doc_id % 3 = 1 THEN ' Corp.'
        |                ELSE ' Co' END) AS nm
        |  FROM documents
        | ),
        | b0 AS (SELECT id, nm, 6 AS pfx FROM n),
        | b1 AS (
        |  SELECT id, nm,
        |         CASE WHEN COUNT(*) OVER (PARTITION BY
        |                     substring(nm, 1, pfx) || '#' || CAST(len(nm) // 4 AS VARCHAR)) > 64
        |                   AND len(nm) > pfx
        |              THEN pfx + 2 ELSE pfx END AS pfx
        |  FROM b0
        | ),
        | b2 AS (
        |  SELECT id, nm,
        |         CASE WHEN COUNT(*) OVER (PARTITION BY
        |                     substring(nm, 1, pfx) || '#' || CAST(len(nm) // 4 AS VARCHAR)) > 64
        |                   AND len(nm) > pfx
        |              THEN pfx + 2 ELSE pfx END AS pfx
        |  FROM b1
        | ),
        | b3 AS (
        |  SELECT id, nm,
        |         CASE WHEN COUNT(*) OVER (PARTITION BY
        |                     substring(nm, 1, pfx) || '#' || CAST(len(nm) // 4 AS VARCHAR)) > 64
        |                   AND len(nm) > pfx
        |              THEN pfx + 2 ELSE pfx END AS pfx
        |  FROM b2
        | ),
        | b AS (
        |  SELECT id, nm,
        |         substring(nm, 1, pfx) || '#' || CAST(len(nm) // 4 AS VARCHAR) AS blk
        |  FROM b3
        |  QUALIFY COUNT(*) OVER (PARTITION BY
        |            substring(nm, 1, pfx) || '#' || CAST(len(nm) // 4 AS VARCHAR)) <= 64
        | )
        |SELECT a.id AS id_a, bb.id AS id_b, a.nm AS name_a, bb.nm AS name_b,
        |       CAST(levenshtein(a.nm, bb.nm) AS INT) AS edit_distance
        |FROM b a JOIN b bb ON a.blk = bb.blk AND a.id < bb.id
        |WHERE levenshtein(a.nm, bb.nm) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // T44: the DSIR log-likelihood-ratio mirror — target LM over the
    // lang='en' slice, raw LM over the whole corpus, per-token ratios
    // 1e-8-quantized before the per-doc sum, top-100 by (weight, doc_id)
    "t44_dsir_select" ->
      s"""$wCte,
         | tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         | cr AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
         | ct AS (SELECT t, COUNT(*) AS c
         |        FROM (SELECT unnest(ws) AS t FROM w WHERE lang = 'en') GROUP BY 1),
         | rt AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM cr),
         | tt AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM ct),
         | tq AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |         CAST(SUM(CAST(ROUND((ln((COALESCE(ct.c, 0) + 1.0) / (tt.n + tt.v))
         |                        - ln((cr.c + 1.0) / (rt.n + rt.v))) * 100000000)
         |             AS BIGINT)) AS BIGINT) AS dsir_q8
         |  FROM tok
         |  LEFT JOIN ct USING (t)
         |  LEFT JOIN cr USING (t)
         |  CROSS JOIN rt CROSS JOIN tt
         |  GROUP BY doc_id
         | ),
         | sel AS (SELECT doc_id FROM tq ORDER BY dsir_q8 DESC, doc_id LIMIT 100)
         |SELECT tq.doc_id, n_tokens, dsir_q8,
         |       (sel.doc_id IS NOT NULL) AS selected
         |FROM tq LEFT JOIN sel ON tq.doc_id = sel.doc_id
         |ORDER BY tq.doc_id""".stripMargin
  )
}
