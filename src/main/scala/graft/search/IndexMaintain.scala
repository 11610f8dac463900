package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Incremental inverted-index maintenance — the index-side analog of
  * `gold/GoldIncremental`: when a delta batch of documents arrives (new
  * docs and whole-document updates), refresh the term index touching
  * only the TERMS the delta mentions, never rebuilding the
  * corpus-wide aggregate.
  *
  * State grain: the (term, doc, tf) postings table — the same relation
  * `ir1_inverted_index` aggregates. Maintenance is two delta-bounded
  * steps:
  *
  *   1. postings splice: drop the replaced docs' rows (broadcast anti
  *      join — the base NEVER shuffles), append the delta's rows;
  *   2. term-stats splice: recompute the index rows ONLY for affected
  *      terms (any term in a removed or added posting — semi-joined from
  *      the spliced postings), keep every other index row as-is
  *      (broadcast anti join again).
  *
  * At 100 TB the cost is |delta postings| + |affected-term postings|,
  * both delta-proportional (affected terms are the delta's vocabulary —
  * stop-word-like terms make the recompute set wider but it is still
  * term-bounded, never corpus-bounded). IndexMaintainSpec proves
  * incremental ≡ from-scratch rebuild, including deleted-then-silent
  * terms and df threshold crossings in both directions.
  */
object IndexMaintain {

  /** Tokenize documents(doc_id, text) to the postings grain. */
  def postings(docs: DataFrame): DataFrame =
    Text.tokenRows(docs, Seq(col("doc_id")))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("tf"))

  /** The ir1-shaped index: term, df, cf, tf-impact-ordered top-3
    * posting head; terms with df < minDf dropped. */
  def buildIndex(postings: DataFrame, minDf: Int = 2): DataFrame = {
    val wW = Window.partitionBy(col("w")).orderBy(col("tf").desc, col("doc_id"))
    postings.withColumn("rn", row_number().over(wW))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        concat_ws(",", transform(
          array_sort(collect_list(when(col("rn") <= 3,
            struct(col("rn"), concat_ws(":", col("doc_id"), col("tf")).as("s"))))),
          x => x.getField("s"))).as("posting_head"))
      .filter(col("df") >= minDf)
      .select(col("w").as("term"), col("df"), col("cf"), col("posting_head"))
  }

  /** Refresh the index given the OLD postings state and the delta batch.
    * Returns (new postings state, new index), both lazy: only affected
    * terms' index rows are recomputed. The per-batch caches (delta ids,
    * delta postings) live in `scope`, which must stay open until the
    * returned frames have been consumed.
    *
    * The two results are independent of each other, so a caller can
    * write them CONCURRENTLY (guide §2.6): the index recompute does not
    * read the new postings — its input is derived as
    * (base ▷ deltaIds) ⋉ affected ∪ deltaPost, which equals
    * newPostings ⋉ affected because the semi-join distributes over the
    * union and every deltaPost term is affected by construction. One
    * base-postings pass each, no serial write → rescan → write chain. */
  def refresh(basePostings: DataFrame, baseIndex: DataFrame,
      deltaDocs: DataFrame, scope: CacheScope): (DataFrame, DataFrame) =
    refresh(basePostings, baseIndex, deltaDocs, deltaIds(deltaDocs, scope), scope)

  /** The delta's distinct doc ids, cached in `scope`: the id set feeds
    * THREE broadcasts (postings anti-join, affected-term semi-join,
    * splice anti-join) and exchange reuse does not always unify
    * separately-planned broadcast builds of the same distinct — without
    * the cache each one re-runs the delta groupBy. */
  def deltaIds(deltaDocs: DataFrame, scope: CacheScope): DataFrame =
    scope.cached(deltaDocs.select(col("doc_id")).distinct())

  /** [[refresh]] over the delta's [[deltaIds]]. */
  def refresh(basePostings: DataFrame, baseIndex: DataFrame,
      deltaDocs: DataFrame, deltaIds: DataFrame, scope: CacheScope): (DataFrame, DataFrame) = {
    // tokenize the delta ONCE (cached — delta-bounded by definition):
    // both the postings splice and the affected-term set read it
    val deltaPost = scope.cached(postings(deltaDocs))
    def baseKept = basePostings
      .join(broadcast(deltaIds), Seq("doc_id"), "left_anti")
      .select(col("w"), col("doc_id"), col("tf"))
    // affected terms: everything the replaced docs used to mention plus
    // everything the delta mentions now — both delta-bounded. Not cached:
    // it is built over the two caches above, and nested caches that the
    // two concurrent writes build can deadlock on a failing batch
    // (CacheScope). Both of its broadcasts sit in the one index write.
    val affected = basePostings
      .join(broadcast(deltaIds), Seq("doc_id"), "left_semi").select(col("w"))
      .unionByName(deltaPost.select(col("w")))
      .distinct()
    val recomputed = buildIndex(
      baseKept.join(broadcast(affected), Seq("w"), "left_semi")
        .unionByName(deltaPost))
    val untouched = baseIndex.join(
      broadcast(affected.select(col("w").as("term"))), Seq("term"), "left_anti")
    (baseKept.unionByName(deltaPost), untouched.unionByName(recomputed))
  }
}
