package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.LocalFs
import graft.gold.GoldIncremental

/** Streaming maintenance of the w15 ordered-funnel state: per-user
  * first-view / first-qualifying-click / first-qualifying-purchase
  * timestamps, kept current as events stream in.
  *
  * Why not `flatMapGroupsWithState`: the funnel cascade is NOT
  * prefix-monotone under out-of-order arrival. A late 'view' with an
  * EARLIER timestamp can re-qualify a click that a running-state
  * update already discarded — correct incremental state would have to
  * buffer every event per user anyway. So the maintainer keeps the
  * event log (append-only, as event logs are) and recomputes the
  * cascade ONLY for users touched by each micro-batch, splicing their
  * rows into the standing funnel table — O(touched users' history) per
  * batch, never a full recompute, and byte-equal to the batch cascade
  * by construction. At cluster scale the log is bucketed by user_id so
  * the touched-user semi-join prunes to their buckets.
  *
  * State lives in parquet: the append-only log plus the funnel table in
  * a [[VersionedState]] store — no pinned executor memory, drops onto a
  * transactional table format unchanged.
  */
final class FunnelMaintainer(spark: SparkSession, workDir: String) {

  private def logPath = s"$workDir/events_log"
  // only the funnel table is versioned: the event log is append-only
  private val state = new VersionedState(spark, workDir, Seq("funnel"))

  /** The w15 cascade at per-user grain: t1 = first view, t2 = first
    * click strictly after t1, t3 = first purchase strictly after t2;
    * users without a view have no row, later steps are null until
    * reached. Every stage keys on user_id — one partitioning serves
    * the whole cascade. */
  def cascade(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("ts"), col("event_type"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id")).where(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id")).where(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
  }

  def init(events0: DataFrame): Unit = synchronized {
    LocalFs.writer(events0).mode("overwrite").parquet(logPath)
    state.reset("funnel" -> (() => cascade(eventLog)))
  }

  /** The event log, re-listed on every call: a memoized frame would keep
    * its file listing and miss the files later batches append. */
  def eventLog: DataFrame = spark.read.parquet(logPath)
  def funnel: DataFrame = state("funnel")

  /** Resume from the latest committed funnel version on disk (the event
    * log is append-only — parquet appends are file-atomic — so only the
    * funnel table is versioned). */
  def recover(): Int = state.recover()

  /** One micro-batch: append the events, recompute the cascade for the
    * touched users only, splice their funnel rows. */
  def applyBatch(batch: DataFrame): Unit = synchronized {
    if (!batch.isEmpty) {
      LocalFs.writer(batch.select(eventLog.columns.map(col).toIndexedSeq: _*))
        .mode("append").parquet(logPath)
      val keys = batch.select(col("user_id")).distinct()
      val log = eventLog
      val prev = funnel
      state.commit("funnel" -> (() =>
        GoldIncremental.refresh(prev, keys, "user_id") { ks =>
          cascade(log.join(ks, Seq("user_id"), "left_semi"))
        }))
    }
  }

  def start(events: DataFrame, queryName: String): StreamingQuery =
    VersionedState.start(events, queryName)(applyBatch)
}
