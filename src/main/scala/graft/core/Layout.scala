package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB target (SURVEY.md §4):
  * date-partitioned silver writes (partition pruning replaces the
  * reference's date indexes), bucketed tables for shuffle-free FK joins
  * (replaces its FK btree lookups), and key salting for skew.
  */
object Layout {

  /** Write a silver table partitioned by year-month of `tsCol` — scans
    * with a date predicate prune to the matching partitions only
    * (PartitionFilters in the plan), the Spark analog of the reference's
    * `COALESCE(date_modified, date_created)` index.
    *
    * Rows are clustered on the partition value before the write: without
    * it every write task emits a sliver into EVERY month (tasks × months
    * files — at 1000 executors and 84 months, ~84k files per write), and
    * the listing/footer overhead of the tiny files costs more than the
    * pruning saves (measured: the unclustered layout LOST 2.5× to the
    * flat scan at 10×; PLANS.md round 10). `filesPerMonth` spreads a month
    * across that many writers when one 128 MiB-ish file per month is not
    * enough — size it ≈ month_bytes / 128 MiB at the target scale. */
  /** @param sortCols sort rows on these columns WITHIN each month's
    *   files (round-10: the Pipeline default is month-partitioned +
    *   sorted silver): parquet min-max row-group stats on the sort keys
    *   then prune key-bounded scans inside a month the way the partition
    *   value prunes across months. */
  def writePartitionedByMonth(df: DataFrame, tsCol: String, path: String,
      filesPerMonth: Int = 1, sortCols: Seq[String] = Nil): Unit =
    LocalFs.writer(clusteredByMonth(df, tsCol, filesPerMonth, sortCols))
      .mode("overwrite").partitionBy("part_month").parquet(path)

  /** The rows `writePartitionedByMonth` writes: `df` plus `part_month`,
    * clustered on it and sorted within each partition. */
  private[core] def clusteredByMonth(df: DataFrame, tsCol: String,
      filesPerMonth: Int, sortCols: Seq[String]): DataFrame = {
    require(filesPerMonth >= 1, s"filesPerMonth must be >= 1: $filesPerMonth")
    val d = df.withColumn("part_month", date_format(col(tsCol), "yyyy-MM"))
    val keys =
      if (filesPerMonth == 1) Seq(col("part_month"))
      else Seq(col("part_month"),
        pmod(hash(struct(df.columns.map(col): _*)), lit(filesPerMonth)))
    // Size-gated partition-count pin (round-12, the Fanout.keyed
    // discipline): the clustering exchange is byte-light but CPU-dense
    // (per-month sort + one parquet writer per month per task), and
    // AQE's byte-based coalescing shrank it to 3 tasks in the pipeline's
    // silver write — each serially sorting and encoding ~27 months
    // (profiled 3 × ~1 s). Pinning the partition count only re-sizes the
    // exchange; a month still lands in exactly ONE partition, so the
    // one-file-per-(month, writer) layout contract is unchanged. Past
    // the size gate the count is left to AQE, which at scale sizes the
    // exchange by bytes as it should.
    val spark = df.sparkSession
    val clustered =
      if (Fanout.belowTaskBudget(spark, d.queryExecution.optimizedPlan.stats.sizeInBytes))
        d.repartition(spark.sparkContext.defaultParallelism, keys: _*)
      else d.repartition(keys: _*)
    if (sortCols.isEmpty) clustered
    else clustered.sortWithinPartitions((col("part_month") +: sortCols.map(col)): _*)
  }

  /** Persist both sides bucketed on the join key: subsequent equi-joins
    * between them are exchange-free (no shuffle in the plan). */
  def writeBucketed(df: DataFrame, key: String, buckets: Int, table: String): Unit =
    LocalFs.writer(df).mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** Salt a skewed key into `salts` subkeys; the dimension side is
    * exploded across all salts so the join stays an equi-join
    * (SURVEY §4: mega-case crime_id skew). The salt hashes the WHOLE
    * row, never the key alone — a key-derived salt maps every row of
    * the hot key to the same subkey and spreads nothing. */
  def saltKey(df: DataFrame, key: String, salts: Int): DataFrame =
    df.withColumn("__salt",
        pmod(hash(struct(df.columns.map(col): _*)), lit(salts)))
      .withColumn("__salted_key", concat_ws("#", col(key), col("__salt")))

  def explodeDimForSalt(dim: DataFrame, key: String, salts: Int): DataFrame =
    dim.withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
      .withColumn("__salted_key", concat_ws("#", col(key), col("__salt")))
}
