package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.CacheScope
import graft.resolve.LshBands
import graft.search.Text

/** Streaming NEAR-dup admission: document micro-batches probe a standing
  * MinHash-LSH index and each doc is labeled `near_dup` (best verified
  * match in the index, jacc-then-min-id tiebreak) or `new` — the
  * streaming twin of the batch dd116 query, sharing its banding and
  * verification code through [[LshBands]] so the two surfaces cannot
  * drift.
  *
  * Semantics are admit-all/label-all: every batch doc is ADMITTED into
  * the index after labeling (labels drive downstream filtering), so a
  * doc's decision depends only on strictly-earlier batches. That makes
  * the whole replay equal to ONE stratified batch query — the
  * `st_lsh_admission_parity` oracle states it in SQL — where
  * reject-on-dup semantics would be an order-dependent fixpoint no
  * one-shot query could express.
  *
  * State lives in a [[VersionedState]] store (bands, shingles, sizes
  * and decisions tables): no pinned executor memory, restart-safe,
  * drops onto a transactional table format unchanged. Per-batch cost: the batch's
  * shingle/banding pass + a band-key equi-join into the standing bands
  * (stored band-bucketed at scale, so the probe co-locates) +
  * verification joins pruned to band-collision candidates — the
  * standing corpus is never pairwise-compared and never reshuffled.
  */
final class LshAdmitMaintainer(spark: SparkSession, workDir: String,
                               threshold: Double = 0.4) {

  private val state = new VersionedState(spark, workDir,
    Seq("bands", "shingles", "sizes", "decisions"))

  /** Bands, exploded shingles and sizes of `docs`, all three read from
    * one shingle array cached in `scope`. */
  private def parts(docs: DataFrame, scope: CacheScope): (DataFrame, DataFrame, DataFrame) = {
    val arr = scope.cached(Text.shingleArr(docs.select(col("doc_id"), col("text"))))
    (LshBands.bandsOf(arr),
      Text.shingles(arr),
      arr.select(col("doc_id"), size(col("shArr")).cast("long").as("n")))
  }

  private def emptyDecisions: DataFrame =
    spark.sql("""SELECT CAST(NULL AS BIGINT) AS doc_id, '' AS status,
                        CAST(NULL AS BIGINT) AS match_id,
                        CAST(NULL AS DOUBLE) AS jacc""").limit(0)

  def init(docs0: DataFrame): Unit = synchronized(CacheScope { scope =>
    val (b0, sh0, n0) = parts(docs0, scope)
    // the four state writes are independent (all derive from the cached
    // shingle array) — submitted concurrently (guide §2.6)
    state.reset("bands" -> (() => b0), "shingles" -> (() => sh0),
      "sizes" -> (() => n0), "decisions" -> (() => emptyDecisions))
  })

  def bands: DataFrame = state("bands")
  def shinglesState: DataFrame = state("shingles")
  def sizes: DataFrame = state("sizes")

  /** Cumulative decisions for every doc streamed since init (init docs
    * seed the index and carry no decision). */
  def decisions: DataFrame = state("decisions")

  /** Resume from the latest version where ALL FOUR state tables
    * committed; a torn version (crash between writes) is skipped. */
  def recover(): Int = state.recover()

  /** One micro-batch of documents(doc_id, text): label every doc against
    * the standing index, then admit the whole batch. Intra-batch
    * near-dups are NOT matched against each other (strictly-earlier
    * semantics — within a batch there is no order). */
  def applyBatch(batch0: DataFrame): Unit = synchronized(CacheScope { scope =>
    // the empty-batch gate counts the cached batch, which builds it
    // before the concurrent writes below read it (a doc too short to
    // shingle still gets a decision, so the shingle frame cannot gate)
    val batch = scope.cached(batch0.select(col("doc_id"), col("text")))
    if (batch.count() > 0) {
      val (dBands, dSh, dN) = parts(batch, scope)
      val sBands = bands
      val cand = dBands.as("d").join(sBands.as("s"),
          col("d.band_idx") === col("s.band_idx") && col("d.bkey") === col("s.bkey"))
        .select(col("d.doc_id").as("d_id"), col("s.doc_id").as("s_id"))
        .distinct()
      val verified = LshBands.verify(cand, dSh, shinglesState, dN, sizes, threshold)
      val best = verified.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("d_id").orderBy(col("jacc").desc, col("s_id").asc)))
        .filter(col("rk") === 1)
      val batchDecisions = batch.select(col("doc_id"))
        .join(best.select(col("d_id").as("doc_id"), col("s_id").as("match_id"),
          col("jacc")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("match_id").isNull, "new").otherwise("near_dup").as("status"),
          col("match_id"), col("jacc"))
      // every next-version table derives from current-version reads plus
      // the batch — versioned paths keep the reads and writes disjoint, and
      // the four writes are mutually independent, so they run CONCURRENTLY
      // (guide §2.6): the expensive decisions chain (candidates + verify +
      // window) overlaps the three trivial union writes instead of the
      // session idling through each small job's tail in turn.
      val sDecisions = decisions
      val sShingles = shinglesState
      val sSizes = sizes
      state.commit(
        "decisions" -> (() => sDecisions.unionByName(batchDecisions)),
        "bands" -> (() => sBands.unionByName(dBands)),
        "shingles" -> (() => sShingles.unionByName(dSh)),
        "sizes" -> (() => sSizes.unionByName(dN)))
    }
  })

  def start(docs: DataFrame, queryName: String): StreamingQuery =
    VersionedState.start(docs, queryName)(applyBatch)
}
