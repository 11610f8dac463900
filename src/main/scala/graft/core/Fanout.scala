package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive scan fan-out (optimization round, guide §2.5 "input
  * skew: one huge unsplittable file" + §6 input split sizing).
  *
  * Parquet row groups are the minimum split unit, so a small input file
  * (one row group) gives a SINGLE map task no matter how many cores the
  * session has — and a query whose heavy per-row compute sits before its
  * first exchange (explode fan-outs, x100 resample expansions, shingle
  * generation) then runs serial while the rest of the cluster idles.
  *
  * `bySize` round-robin-repartitions the (already projected, slim) rows
  * to the session's default parallelism ONLY when the source tables are
  * small enough that their scan cannot reach that parallelism on its
  * own. The gate is input bytes — the same adaptive discipline as the
  * gold snapshot gate — so at production scale (row groups ≫ cores) the
  * condition never fires and no extra exchange is paid. Default
  * threshold: 64 MB per scan-task the session could run, i.e. inputs
  * that cannot fill the session with default 128 MB splits.
  */
object Fanout {

  private val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  private val rowGroupCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  /** Total bytes of `dir/name.parquet` (file or directory), memoized. */
  def tableBytes(spark: SparkSession, dir: String, name: String): Long =
    sizeCache.computeIfAbsent((dir, name), { _ =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    })

  /** Total parquet row groups of `dir/name.parquet`, memoized — but only
    * counted when the table has FEWER files than `cap` (each file holds at
    * least one row group, so `files >= cap` already proves `rowGroups >=
    * cap` without opening a single footer; production-scale tables skip
    * the footer reads entirely and report Long.MaxValue). */
  def tableRowGroups(spark: SparkSession, dir: String, name: String,
                     cap: Long): Long =
    rowGroupCache.computeIfAbsent((dir, name), { _ =>
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0L
      else {
        val files =
          if (fs.getFileStatus(p).isDirectory)
            fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).toSeq
          else Seq(fs.getFileStatus(p))
        if (files.size >= cap) Long.MaxValue
        else files.map { f =>
          val rf = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
          try rf.getRowGroups.size.toLong finally rf.close()
        }.sum
      }
    })

  /** The size gate: `bytes` cannot fill the session's parallelism at
    * `spark.graft.fanout.bytesPerTask` (default 64 MB) per task. */
  def belowTaskBudget(spark: SparkSession, bytes: BigInt): Boolean = {
    val perTask = spark.conf
      .get("spark.graft.fanout.bytesPerTask", (64L * 1024 * 1024).toString).toLong
    bytes < BigInt(perTask) * spark.sparkContext.defaultParallelism
  }

  private def isSmall(spark: SparkSession, dir: String,
                      tables: Seq[String]): Boolean = {
    val target = spark.sparkContext.defaultParallelism
    belowTaskBudget(spark, tables.map(tableBytes(spark, dir, _)).sum) ||
      // row-group gate (round-12): parquet row groups are the minimum
      // split unit, so a mid-scale table whose BYTES clear the threshold
      // but which packed into fewer row groups than the session's
      // parallelism still scans serial — fan it out too. The footer reads
      // are memoized and skipped outright once file count >= parallelism.
      // Each term is clamped to `target` before summing so the
      // Long.MaxValue "at least cap" sentinel cannot overflow the sum.
      tables.map(n =>
        math.min(tableRowGroups(spark, dir, n, target.toLong), target.toLong))
        .sum < target
  }

  /** Repartition `df` to the session's parallelism iff the named source
    * tables are too small for their scans to parallelize naturally.
    * Call it AFTER projecting to the slim columns the heavy compute
    * needs, so the one extra (tiny) exchange moves minimal bytes. */
  def bySize(spark: SparkSession, df: DataFrame, dir: String,
             tables: String*): DataFrame =
    if (isSmall(spark, dir, tables))
      df.repartition(spark.sparkContext.defaultParallelism)
    else df

  /** Keyed variant for compute-dense aggregations: pin the exchange
    * feeding a groupBy(keys) to the session's parallelism when the input
    * is small — AQE's byte-based coalescing otherwise shrinks a tiny
    * shuffle to 1-5 partitions and serializes the (CPU-heavy, byte-light)
    * aggregate above it. The groupBy reuses this partitioning (same keys),
    * so no exchange is added — the natural one is re-sized. At scale the
    * gate never fires and AQE keeps sizing the exchange by bytes. */
  def keyed(spark: SparkSession, df: DataFrame, dir: String,
            keys: Seq[org.apache.spark.sql.Column], tables: String*): DataFrame =
    if (isSmall(spark, dir, tables))
      df.repartition(spark.sparkContext.defaultParallelism, keys: _*)
    else df
}
