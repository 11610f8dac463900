package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a session is built: every main and the shared test
  * session start here, so their settings cannot drift apart. The values
  * equal the benchmark's own session (`perfbench` `Main.session`).
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Settings every session carries unless the caller overrides them. */
  private val Defaults: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // The default 100-entry generated-class cache thrashes across a
    // 117-query inventory: the warm-up pass evicts every earlier plan,
    // so big plans re-janino-compile on every timed run and their
    // timings measure compiler time, not plan cost (observed 2× on
    // mv_firs_full: ~7s in-inventory vs 3.3s isolated).
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // Always sort-based shuffle: the bypass-merge writer opens one file
    // PER REDUCE PARTITION per map task (32×32+ opens per exchange at
    // local[32]) and executor thread dumps showed task time dominated by
    // FileOutputStream.open0 on this filesystem; the sort path writes one
    // data+index file per task. Above 200 partitions Spark never bypasses
    // anyway, so this is a no-op at cluster scale.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1")

  /** A session with [[Defaults]] and then `conf` (a later pair wins),
    * logging at WARN. */
  def local(conf: (String, String)*): SparkSession = {
    val spark = (Defaults ++ conf)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cached frame and persisted RDD (local checkpoints
    * included) that earlier work left behind, so the next run starts
    * with the same free memory whatever ran before it. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
