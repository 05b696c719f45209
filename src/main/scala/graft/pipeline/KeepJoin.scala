package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The final corpus-vs-kept-ids semi-join the curation [[Funnel]] ends on —
  * size-gated (the [[graft.operators.Graph]] three-path discipline) so
  * the CORPUS side never pays a full-width shuffle it doesn't have to.
  *
  * The naive `corpus.join(ids, "left_semi")` plans a sort-merge join
  * whenever the id side's size statistic is unknown (both pipelines pin
  * their id slivers, and a pinned LogicalRDD reports the default —
  * effectively infinite — size), and even when AQE later converts the
  * reduce side to a broadcast probe, the corpus-side shuffle MAP stage
  * has already run: every WARC payload / document text serialized into
  * shuffle files once. Measured at the sf10 decade rehearsal: the crawl
  * pipeline's kept-frame materialization cost 103 s of which the
  * payload shuffle was the dominant term, vs ~²⁄₃ less with the id
  * broadcast (SCALE.md round-16). The pipelines KNOW the kept-id count
  * at plan time (their funnels already counted it), so the join shape
  * is chosen explicitly:
  *
  *  1. `idCount <= broadcastLimit` (default 2M ids — a hash relation in
  *     the low hundreds of MB): broadcast semi-join; the corpus streams
  *     through one stage and NEVER shuffles.
  *  2. `idCount <= bloomLimit` (default 500M — bloom bytes stay under
  *     ~1 GB at 1% fpp): a driver-built Bloom filter over the ids is
  *     broadcast as a literal and probed in a codegen'd filter
  *     ([[graft.functions.BloomProbe]], the contaminationScanBloom
  *     pattern); only surviving rows — the kept set plus ~1% false
  *     positives, i.e. essentially the rows being RETURNED anyway —
  *     enter the exact semi-join's shuffle.
  *  3. beyond: the plain sort-merge semi-join (a corpus that keeps
  *     billions of pages after deduping is re-partitioning-scale work;
  *     nothing cheaper is exact).
  *
  * All three paths are result-identical (KeepJoinSpec proves it on one
  * fixture by forcing each tier through `broadcastLimit` and
  * `bloomLimit`). */
private[pipeline] object KeepJoin {

  /** Default id-count ceiling for the broadcast tier: 2M ids ≈ 16 MB of
    * longs ≈ a LongHashedRelation in the low hundreds of MB — safely
    * inside default executor memory with room for the stream side. */
  val BroadcastIdLimit: Long = 2000000L

  /** Default ceiling for the Bloom tier: 200M ids at 1% fpp ≈ 0.24 GB
    * of filter bits. DRIVER-MEMORY POSTURE: the serialized filter is
    * embedded as a plan LITERAL, so the driver holds it in the
    * expression tree (and it rides into plan strings / the UI) for the
    * life of the query, on top of the executors' broadcast copies — the
    * ceiling is sized so that cost stays a fraction of a default driver
    * heap, not a multiple. A caller passing a higher `bloomLimit` needs
    * driver memory provisioned for ~1.2 bytes/id; beyond the ceiling the
    * plain sort-merge tier is the memory-safe exact path. */
  val BloomIdLimit: Long = 200000000L

  def semi(
      corpus: DataFrame,
      corpusIdCol: Column,
      ids: DataFrame,
      idColName: String,
      idCount: Long,
      broadcastLimit: Long = BroadcastIdLimit,
      bloomLimit: Long = BloomIdLimit
  ): DataFrame = {
    val keep = ids.select(col(idColName).as("__graft_keep_id"))
    def plainSemi(c: DataFrame) =
      c.join(keep, corpusIdCol === col("__graft_keep_id"), "left_semi")
    val integralId = {
      import org.apache.spark.sql.types._
      ids.schema(idColName).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    if (idCount <= broadcastLimit)
      corpus.join(broadcast(keep),
        corpusIdCol === col("__graft_keep_id"), "left_semi")
    else if (idCount <= bloomLimit && integralId) {
      // bloom_probe is long-keyed (the codegen'd native probe); a
      // non-integral id falls through to the plain semi-join below
      graft.plans.GraftExtensions.register(corpus.sparkSession)
      val bf = keep.select(col("__graft_keep_id").cast("long")
          .as("__graft_keep_id"))
        .stat.bloomFilter("__graft_keep_id", math.max(idCount, 1L), 0.01)
      val bfBytes = {
        // presized to the filter's bit array (+64 B header slack): the
        // default-growth ByteArrayOutputStream would transiently hold
        // ~2× the filter in doubling copies at these sizes
        val bos = new java.io.ByteArrayOutputStream(
          math.toIntExact(bf.bitSize() / 8L + 64L))
        bf.writeTo(bos)
        bos.toByteArray
      }
      plainSemi(corpus.filter(call_function("bloom_probe",
        corpusIdCol.cast("long"), lit(bfBytes))))
    } else
      plainSemi(corpus)
  }
}
