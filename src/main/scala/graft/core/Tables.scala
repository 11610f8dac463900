package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Schemas are discovered from parquet footers at read time — the engine
  * never hardcodes them, mirroring the reference's information_schema-driven
  * dynamic schema discovery (`etl-crimes/etl_crimes.py:231-244`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoize the loaded DataFrame per (session, dir, table): the object
  // holds only the analyzed plan (no data), but building it costs a file
  // listing + parquet footer read — a fixed driver-side job that the full
  // query inventory otherwise pays hundreds of times over.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.computeIfAbsent((spark, dir, name), _ => load(spark, dir, name))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df0 = spark.read.parquet(s"$dir/$name.parquet")
    // month-partitioned layouts (Layout.writePartitionedByMonth) surface
    // their partition value as a part_month column via partition
    // discovery; drop it so a partitioned dir is a drop-in replacement
    // for the flat file (queries keep the pinned schema). Date-bounded
    // scans still skip data: each month-file's footer min-max on the ts
    // column rejects whole row groups, the one-month-per-file analog of
    // directory pruning. Full directory pruning needs a predicate on
    // part_month itself (Spark does not derive it from ts bounds), on a
    // direct read of the partitioned directory.
    val df = if (df0.columns.contains("part_month")) df0.drop("part_month")
             else df0
    // events.ts has shipped as TIMESTAMP(NANOS) parquet (read as Long under
    // spark.sql.legacy.parquet.nanosAsLong=true) and as timestamp[us]
    // (read as TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ). Normalize
    // BOTH to session-local TimestampType, gated on the type the footer
    // actually delivered — never assume the physical encoding. Sessions run
    // UTC, so the NTZ→LTZ cast is value-preserving, and event-time
    // functions (unix_micros, window()) require the LTZ type.
    // `ts div 1000` stays integral; `ts / 1000` promotes to double, whose
    // 256-ns ulp at 1.7e18 can truncate to the wrong microsecond.
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
    else df
  }

  /** Register every table as a temp view for the SQL query surface.
    * Idempotent per (session, dir): re-registration only happens when the
    * requested dir CHANGES for a session (views must then be replaced),
    * so back-to-back guarded queries pay the view setup once. */
  private val lastDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  def registerAll(spark: SparkSession, dir: String): Unit =
    if (lastDir.get(spark) != dir) {
      // Failure-atomic: register every view FIRST, then record the dir.
      // If one table fails to load, the next call retries all of them —
      // a single broken table must not poison the other nine views.
      var failure: Throwable = null
      all.foreach { n =>
        try apply(spark, dir, n).createOrReplaceTempView(n)
        catch { case e: Throwable => if (failure == null) failure = e }
      }
      if (failure != null) throw failure
      lastDir.put(spark, dir)
    }
}
