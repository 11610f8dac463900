package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch-write optimizer — the Spark-native analogue of the reference's
  * `BatchInsertOptimizer` (`db_pooling.py:343-494`, "10-20x faster bulk
  * loads"). The reference pages row INSERTs into batches of 100-1000 to
  * amortize round-trips; in Spark the writes are already vectorized, so
  * the scale problem moves one level up: FILE sizing. A 1000-executor job
  * that writes one file per task emits millions of tiny files at 100 TB
  * (killing the next scan's task-scheduling and footer-reading), while a
  * blind coalesce(1) serializes the write. This sizes the output from the
  * optimizer's own size estimate so each file lands near a target.
  */
object WriteOptimizer {

  /** 128 MiB — one HDFS/parquet-friendly row-group-aligned file per task. */
  val DefaultTargetBytes: Long = 128L * 1024 * 1024

  /** Output partition count so each file lands near `targetBytes`, from
    * the logical plan's size estimate (`stats.sizeInBytes` — filters and
    * column pruning are already reflected, so a 2-column projection of a
    * wide table sizes by the 2 columns, not the scan), bounded by the
    * bytes the plan's leaves read: without column statistics a join's
    * estimate is the PRODUCT of its sides' sizes, so a three-way join of
    * MB-sized tables estimates terabytes. Clamped to [1, maxParts];
    * maxParts guards against a runaway estimate fanning into more tasks
    * than the cluster can usefully run.
    */
  def targetPartitions(
      df: DataFrame,
      targetBytes: Long = DefaultTargetBytes,
      maxParts: Int = 20000): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val plan = df.queryExecution.optimizedPlan
    val bytes = plan.stats.sizeInBytes.min(plan.collectLeaves().map(_.stats.sizeInBytes).sum)
    val n = (bytes + targetBytes - 1) / targetBytes
    n.min(maxParts).max(1).toInt
  }

  /** Write parquet with the file count derived from the size estimate.
    * Always a round-robin `repartition(n)`: the exchange sits AFTER the
    * query's compute, so the compute keeps its full parallelism and only
    * the (already size-bounded, ~n × targetBytes) output rows move. The
    * previous coalesce-when-shrinking variant had two hidden costs:
    * `df.rdd.getNumPartitions` materializes every query stage of an
    * adaptive plan (AQE cannot know the final partitioning without
    * running the shuffles), so the ENTIRE query executed once just to
    * pick the strategy and again for the write; and `coalesce(n)` does
    * not insert a stage boundary — it shrank the final compute stage
    * itself to n tasks (a join + render serialized into 1 task for any
    * single-file output). `sortCols` sorts within each file so parquet
    * min/max row-group stats actually prune on those columns downstream —
    * the Spark analog of the reference writing into indexed tables.
    */
  def sizedWrite(
      df: DataFrame,
      path: String,
      targetBytes: Long = DefaultTargetBytes,
      sortCols: Seq[String] = Nil,
      maxParts: Int = 20000): Int = {
    val n = targetPartitions(df, targetBytes, maxParts)
    val sorted =
      if (sortCols.nonEmpty) df.repartition(n).sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(n)
    LocalFs.writer(sorted).mode("overwrite").parquet(path)
    n
  }

  /** Hive-style partitioned write with a bounded file count per partition
    * directory. A plain `partitionBy(c)` write emits one file per
    * (task, value) pair — up to `numTasks` files in EVERY directory. Here
    * rows are hash-clustered on (partition value, salt) with the salt
    * bounded by `maxFilesPerPart`, so each directory gets at most
    * `maxFilesPerPart` files regardless of input parallelism. The salt is
    * a deterministic hash of the whole row, so reruns produce identical
    * layouts (no rand()).
    */
  def sizedPartitionedWrite(
      df: DataFrame,
      path: String,
      partCol: String,
      maxFilesPerPart: Int = 4): Unit = {
    require(maxFilesPerPart > 0, s"maxFilesPerPart must be positive: $maxFilesPerPart")
    val dataCols = df.columns.filterNot(_ == partCol).map(col).toSeq
    val salt = pmod(hash(dataCols: _*), lit(maxFilesPerPart))
    LocalFs.writer(df.repartition(col(partCol), salt))
      .mode("overwrite").partitionBy(partCol).parquet(path)
  }
}
