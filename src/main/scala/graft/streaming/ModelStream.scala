package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of dd77's in-engine logistic regression — an online
  * model maintainer.
  *
  * The key fact making incremental training EXACT (not approximate): the
  * first Newton step from beta = 0 depends on the data only through nine
  * normal-equation sums (X'X upper triangle + X'(y-1/2)), and sums of
  * decimal-frozen per-row terms are ADDITIVE across micro-batches in any
  * order. So the maintainer folds each batch's nine sums into a
  * single-row versioned-parquet state and re-solves the closed-form 3x3
  * adjugate (the SAME `SelectOpsSql.solve3` expressions the batch query
  * and its DuckDB oracle use) — after any sequence of batches the
  * coefficients are BIT-EQUAL to one batch pass over the union, which
  * ModelStreamSpec pins.
  *
  * Per-batch cost: one narrow pass over the batch + a 9-column 1-row
  * merge — tracks the batch, never the stream history. State and its
  * recovery live in a [[VersionedState]] store.
  * (Step 2 needs per-row work under the CURRENT beta, so a full second
  * Newton step remains a batch job over the accumulated corpus — the
  * standard warm-start split: the stream keeps the step-1 estimator
  * fresh, the nightly batch polishes.)
  */
final class OnlineLogit(spark: SparkSession, workDir: String) {

  private val state = new VersionedState(spark, workDir, Seq("sums"))
  private val cols = Seq("s00", "s01", "s02", "s11", "s12", "s22", "g0", "g1", "g2")

  /** Per-row decimal-frozen normal-equation terms — identical recipe to
    * dd77's step-1 aggregate. Input must carry x1, x2, y. */
  private def batchSums(feats: DataFrame): DataFrame = {
    def frozen(e: String, alias: String) =
      expr(s"sum(cast(round($e, 9) as decimal(28,9)))").as(alias)
    feats.agg(
      frozen("1.0", "s00"), frozen("x1", "s01"), frozen("x2", "s02"),
      frozen("x1*x1", "s11"), frozen("x1*x2", "s12"), frozen("x2*x2", "s22"),
      frozen("(y-0.5)", "g0"), frozen("x1*(y-0.5)", "g1"), frozen("x2*(y-0.5)", "g2"))
  }

  /** Start a fresh model at zero sums. */
  def init(): Unit = synchronized {
    state.reset("sums" -> (() => spark.range(1)
      .select(cols.map(c => lit(java.math.BigDecimal.ZERO).cast("decimal(28,9)").as(c)): _*)))
  }

  def currentSums: DataFrame = state("sums")

  def recover(): Int = state.recover()

  /** One micro-batch: add the batch's nine sums into the state. Both
    * operands cast to (28,9) BEFORE the add: decimal(38,9)+decimal(38,9)
    * needs precision 39, and Spark resolves the overflow by silently
    * dropping the scale to 8 — the truncation that desyncs the streamed
    * sums from the batch pass (the same 38-digit-ceiling trap dd67 and
    * dd73 document); (28,9)+(28,9)=(29,9) stays exact. */
  def applyBatch(feats: DataFrame): Unit = synchronized {
    if (!feats.isEmpty) {
      val prev = currentSums
      state.commit("sums" -> (() => prev.crossJoin(
          batchSums(feats).select(cols.map(c => col(c).as(s"b_$c")): _*))
        .select(cols.map(c =>
          (coalesce(col(c), lit(0)).cast("decimal(28,9)") +
            coalesce(col(s"b_$c"), lit(0)).cast("decimal(28,9)"))
            .cast("decimal(28,9)").as(c)): _*)))
    }
  }

  /** Current step-1 coefficients: 4 * S^-1 g via the shared closed-form
    * adjugate — the same expressions as dd77 and its oracle. */
  def coefficients: DataFrame = {
    val Seq(e0, e1, e2) = graft.queries.SelectOps.SelectOpsSql.solve3
    currentSums
      .select(cols.map(c => col(c).cast("double").as(c)): _*)
      .select(expr(s"4*($e0)").as("b0"), expr(s"4*($e1)").as("b1"),
        expr(s"4*($e2)").as("b2"))
  }

  /** Attach to a streaming source of (x1, x2, y) feature rows. */
  def start(feats: DataFrame, queryName: String): StreamingQuery =
    VersionedState.start(feats, queryName)(applyBatch)
}
