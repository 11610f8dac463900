package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{LocalFs, Par, WriteOptimizer}

/** The versioned-parquet state store a streaming maintainer holds. It
  * owns the whole lifecycle of a fixed set of state tables, so a
  * maintainer keeps only its batch logic:
  *
  *  - versions: table `t` at version N lives in `<workDir>/t_vN`;
  *  - reads: one memoized read-back frame per table, with the write
  *    schema pinned ([[VersionedState.writeRead]]);
  *  - commits: [[commit]] writes every table of the next version at once
  *    (one [[Par.run]] leg per table) and swaps the frames and the
  *    version only after ALL legs succeed. A failing leg surfaces its
  *    exception and leaves the store, and its readers, on the previous
  *    version;
  *  - recovery: a version counts as committed only when EVERY table has
  *    parquet's `_SUCCESS` marker, so the latest committed version is
  *    discoverable from the filesystem alone and a torn version (a crash
  *    or failed leg between the writes) is skipped.
  *
  * The legs run on pool threads without the store's lock, so readers
  * keep seeing the previous version until the commit swaps in the next.
  *
  * @param compact write each table as one file while its current version
  *   is under one [[WriteOptimizer.DefaultTargetBytes]] file (see
  *   [[VersionedState.writeRead]]).
  */
final class VersionedState(spark: SparkSession, workDir: String,
    tables: Seq[String], compact: Boolean = false) {

  private var version = 0
  private val frames = scala.collection.mutable.HashMap[String, DataFrame]()

  private def pathOf(table: String, v: Int) = s"$workDir/${table}_v$v"

  /** The version readers see. */
  def current: Int = synchronized(version)

  /** Directory of `table` at the current version. */
  def path(table: String): String = synchronized(pathOf(table, version))

  /** `table` at the current version. */
  def apply(table: String): DataFrame = synchronized {
    frames.getOrElseUpdate(table, spark.read.parquet(pathOf(table, version)))
  }

  /** Start over at v0. Every `<table>_v*` directory, committed or torn,
    * is dropped first: recovery takes the MAX committed version, so a
    * fresh v0 over a workDir holding higher versions from a prior run
    * would silently resurrect stale state on the next recovery. */
  def reset(writes: (String, () => DataFrame)*): Unit = {
    VersionedState.dropVersions(workDir, tables)
    commitAt(0, writes, None)
  }

  /** Write every table of the next version and make it current; returns
    * the new version. */
  def commit(writes: (String, () => DataFrame)*): Int = {
    val base = current
    commitAt(base + 1, writes, Some(base))
  }

  private def commitAt(next: Int, writes: Seq[(String, () => DataFrame)], base: Option[Int]): Int = {
    require(writes.map(_._1).sorted == tables.sorted,
      s"a commit writes every table of ${tables.mkString(", ")}: got ${writes.map(_._1).mkString(", ")}")
    val written = Par.run(writes.map { case (table, df) =>
      () => {
        val d = df()
        VersionedState.writeRead(d, pathOf(table, next),
          compact && VersionedState.underOneFile(d, base.map(pathOf(table, _))))
      }
    }: _*)
    synchronized {
      frames.clear()
      frames ++= writes.map(_._1).zip(written)
      version = next
    }
    next
  }

  /** Resume from the latest version every table committed; refuses
    * loudly when there is none rather than inventing v0. */
  def recover(): Int = synchronized {
    version = VersionedState.latestCommitted(workDir, tables)
      .getOrElse(throw new IllegalStateException(
        s"no committed ${tables.mkString("+")} state under $workDir"))
    frames.clear() // re-open lazily from the recovered version
    version
  }
}

object VersionedState {

  /** Attach `apply` to a streaming source as its `foreachBatch` sink. */
  def start(source: DataFrame, queryName: String)(apply: DataFrame => Unit): StreamingQuery =
    source.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => apply(batch) }
      .start()

  /** Write `df` to `path` and return the read-back frame with the WRITE
    * schema pinned: `spark.read.parquet` without a schema launches a
    * footer-inference job per call, and the maintainers re-open their
    * state tables many times per batch — the replay gates paid 20-30
    * such driver-side jobs each (measured, OPTIMIZATION_r11.md). The
    * pinned schema is exactly what was just written, so inference would
    * discover the same thing.
    *
    * `compact`: write one file ([[underOneFile]] decides when). A
    * maintainer state is usually the tail of a UNION (spliced base +
    * delta) whose partition count is the SUM of its children's — no
    * exchange on top, so AQE never coalesces it and each version GAINS
    * files (measured 33 → 49 → 57 across three index batches; every
    * downstream state scan then a 30+-task stage over <1 MB).
    * OPT-IN because it serializes the write task: measured a win only
    * for states that are slim AND re-scanned several times per batch
    * (the index maintainer); the fat rendered-JSON gold state LOST more
    * on the single-task parquet encode than the reads saved
    * (st_gold/st_metrics +1.2 s, OPTIMIZATION_r11.md). */
  def writeRead(df: DataFrame, path: String, compact: Boolean = false): DataFrame = {
    LocalFs.writer(if (compact) df.repartition(1) else df).mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Whether the next version of a state table fits one
    * [[WriteOptimizer.DefaultTargetBytes]] file, so a compacting store
    * writes it as one: past that size the write is untouched, and at
    * production scale no state-sized shuffle is added. A commit decides
    * from the current version's parquet bytes on disk, which the next
    * version splices a batch into; optimizing the next version's plan a
    * second time just for its size estimate cost 37-156 ms per table.
    * Only a reset, with no version on disk, asks the optimizer. */
  private def underOneFile(next: DataFrame, current: Option[String]): Boolean = {
    val bytes = current.fold(next.queryExecution.optimizedPlan.stats.sizeInBytes)(dir =>
      BigInt(Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum))
    bytes < WriteOptimizer.DefaultTargetBytes
  }

  /** Exact row count of a just-written parquet state table from its file
    * footers — metadata the write already produced, no Spark job. The
    * maintainers' metrics (state_rows/gold_rows per batch) are counts of
    * tables they wrote milliseconds earlier; a `df.count()` scan per
    * metric was two extra jobs per batch. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map { f =>
      val rf = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try rf.getRecordCount finally rf.close()
    }.sum
  }

  private def versionsOf(workDir: String, prefix: String): Seq[Int] = {
    val base = new java.io.File(workDir)
    Option(base.list()).toSeq.flatten
      .filter(_.startsWith(prefix + "_v"))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix + "_v").toInt).toOption)
      .filter(v => new java.io.File(base, s"${prefix}_v$v/_SUCCESS").exists)
  }

  /** Highest version for which every named state table is fully written
    * (has its `_SUCCESS` marker). None when no complete version exists. */
  private def latestCommitted(workDir: String, prefixes: Seq[String]): Option[Int] =
    prefixes
      .map(p => versionsOf(workDir, p).toSet)
      .reduceOption(_ intersect _)
      .flatMap(_.maxOption)

  /** Remove EVERY `<prefix>_v*` directory (committed or torn) under
    * workDir. */
  private def dropVersions(workDir: String, prefixes: Seq[String]): Unit = {
    val base = new java.io.File(workDir)
    for {
      name <- Option(base.list()).toSeq.flatten
      p <- prefixes
      if name.startsWith(p + "_v") &&
        name.stripPrefix(p + "_v").forall(_.isDigit)
    } deleteRec(new java.io.File(base, name))
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete(): Unit
  }
}
