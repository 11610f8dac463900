package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.CacheScope
import graft.search.IndexMaintain

/** Streaming inverted-index maintenance: document micro-batches (new
  * docs and whole-document updates; one row per doc_id per batch) drive
  * [[IndexMaintain.refresh]] via foreachBatch — each batch touches only
  * its own vocabulary, so the per-batch cost tracks the batch, not the
  * corpus.
  *
  * State lives in a [[VersionedState]] store (postings + index tables):
  * no pinned executor memory, restart-safe, drops onto a transactional
  * table format unchanged.
  */
final class IndexMaintainer(spark: SparkSession, workDir: String) {

  // compact: the states are slim and re-scanned several times per batch
  // (VersionedState.writeRead)
  private val state =
    new VersionedState(spark, workDir, Seq("postings", "index"), compact = true)

  def init(docs0: DataFrame): Unit = synchronized(CacheScope { scope =>
    // one cached tokenize feeds both concurrent writes (guide §2.6)
    val p0 = scope.cached(IndexMaintain.postings(docs0))
    state.reset(
      "postings" -> (() => p0),
      "index" -> (() => IndexMaintain.buildIndex(p0)))
  })

  def postingsState: DataFrame = state("postings")
  def index: DataFrame = state("index")

  /** Resume from the latest fully-committed (postings AND index) version
    * on disk — a restarted maintainer continues where the crashed one
    * stopped; a torn version (postings written, index not) is skipped. */
  def recover(): Int = state.recover()

  /** One micro-batch of documents(doc_id, text): splice postings, refresh
    * only the touched terms' index rows. */
  def applyBatch(batch: DataFrame): Unit = synchronized(CacheScope { scope =>
    val docs = batch.select(col("doc_id"), col("text"))
    // the empty-batch gate counts the delta's id set, which builds that
    // cache before the concurrent writes below read it
    val ids = IndexMaintain.deltaIds(docs, scope)
    if (ids.count() > 0) {
      // the two refreshed tables are independent, so their writes run
      // concurrently (guide §2.6): the splice chain executes once for
      // the postings write while the affected-term index recompute feeds
      // the index write in a parallel job chain. Later consumers read
      // the written tables.
      val (p1, i1) = IndexMaintain.refresh(postingsState, index, docs, ids, scope)
      state.commit("postings" -> (() => p1), "index" -> (() => i1))
    }
  })

  def start(docs: DataFrame, queryName: String): StreamingQuery =
    VersionedState.start(docs, queryName)(applyBatch)
}
