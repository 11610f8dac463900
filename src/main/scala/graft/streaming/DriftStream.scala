package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.LocalFs

/** Streaming PSI drift monitor — the streaming face of dd53_psi_drift.
  *
  * A fixed reference histogram (pinned at init) is compared against a
  * RUNNING current-window histogram maintained across micro-batches.
  * Per-batch work is one bucket-bounded groupBy over the batch plus a
  * <=k-row state merge: cost tracks the batch, never the stream history.
  * State is one table in a [[VersionedState]] store (no pinned executor
  * memory, lineage truncated at each batch write, drops onto
  * Delta/Iceberg MERGE unchanged).
  *
  * PSI algebra matches dd53 exactly: fixed-width buckets, Laplace +1/k
  * smoothing, (cur-ref)*ln(cur/ref) per bucket — so the streaming monitor
  * and the batch oracle agree to the last double when fed the same rows.
  */
final class DriftMonitor(
    spark: SparkSession,
    workDir: String,
    bucketWidth: Double,
    nBuckets: Int) {

  private val state = new VersionedState(spark, workDir, Seq("cur"))
  private val refPath = s"$workDir/ref"

  private def bucketize(df: DataFrame, valueCol: String): DataFrame =
    df.select(least(floor(col(valueCol) / bucketWidth), lit(nBuckets - 1))
        .cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  /** Pin the reference histogram; start the current window empty. */
  def init(reference: DataFrame, valueCol: String): Unit = synchronized {
    LocalFs.writer(bucketize(reference, valueCol)).mode("overwrite").parquet(refPath)
    state.reset("cur" -> (() => spark.emptyDataFrame
      .select(lit(0).as("bucket"), lit(0L).as("n")).limit(0)))
  }

  def currentHistogram: DataFrame = state("cur")

  /** Resume from the latest committed histogram version on disk. */
  def recover(): Int = state.recover()

  /** One micro-batch: add the batch's bucket counts into the running
    * histogram. Outer-join merge on the <=k-row state — delta-bounded. */
  def applyBatch(batch: DataFrame, valueCol: String): Unit = synchronized {
    if (!batch.isEmpty) {
      val prev = currentHistogram
      state.commit("cur" -> (() => prev.withColumnRenamed("n", "n_prev")
        .join(bucketize(batch, valueCol).withColumnRenamed("n", "n_new"),
          Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("n_prev"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
            .as("n"))))
    }
  }

  /** Per-bucket PSI terms of the running window vs the pinned reference —
    * the same smoothing and operand order as dd53_psi_drift. */
  def psiTerms: DataFrame = {
    val ref = spark.read.parquet(refPath).withColumnRenamed("n", "ref_n")
    val cur = currentHistogram.withColumnRenamed("n", "cur_n")
    val joined = ref.join(cur, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val tot = joined.agg(sum(col("ref_n")).cast("long").as("ref_t"),
      sum(col("cur_n")).cast("long").as("cur_t"))
    val refP = (col("ref_n") + 1.0) / (col("ref_t") + nBuckets)
    val curP = (col("cur_n") + 1.0) / (col("cur_t") + nBuckets)
    joined.crossJoin(broadcast(tot))
      .select(col("bucket"), col("ref_n"), col("cur_n"),
        round(refP, 9).as("ref_p"),
        round(curP, 9).as("cur_p"),
        round((curP - refP) * log(curP / refP), 9).as("psi_term"))
  }

  /** Total PSI of the running window. */
  def psi(): Double = {
    val r = psiTerms.agg(sum(col("psi_term"))).head
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Attach to a streaming source of raw values. */
  def start(values: DataFrame, valueCol: String, queryName: String): StreamingQuery =
    VersionedState.start(values, queryName)(applyBatch(_, valueCol))
}
