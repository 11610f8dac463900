package graft.core

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class WriteOptimizerSpec extends SparkTestBase {

  private def partFiles(dir: String): Array[File] =
    new File(dir).listFiles((f: File) =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  test("tiny input collapses to a single file") {
    val out = Files.createTempDirectory("wo-one").toString
    val df = Tables(spark, sf0001, "region")
    val n = WriteOptimizer.sizedWrite(df, out)
    assert(n == 1)
    assert(partFiles(out).length == 1)
    assert(sameRows(spark.read.parquet(out), df))
  }

  test("small targetBytes fans out to the estimated file count") {
    val out = Files.createTempDirectory("wo-fan").toString
    val df = Tables(spark, sf0001, "lineitem")
    val want = WriteOptimizer.targetPartitions(df, targetBytes = 64 * 1024)
    assert(want > 1, s"expected a multi-file estimate, got $want")
    val n = WriteOptimizer.sizedWrite(df, out, targetBytes = 64 * 1024)
    assert(n == want)
    assert(partFiles(out).length == want)
    assert(sameRows(spark.read.parquet(out), df))
  }

  test("estimate reflects column pruning: a projection sizes smaller than the scan") {
    val df = Tables(spark, sf0001, "lineitem")
    val full = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val narrow = df.select("l_orderkey", "l_quantity")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(narrow < full, s"narrow=$narrow full=$full")
  }

  test("maxParts caps the fan-out") {
    val df = Tables(spark, sf0001, "lineitem")
    assert(WriteOptimizer.targetPartitions(df, targetBytes = 1, maxParts = 7) == 7)
  }

  test("a join's size estimate is bounded by its input bytes, not capped at maxParts") {
    val df = Tables(spark, sf0001, "lineitem")
      .join(Tables(spark, sf0001, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, sf0001, "customer"), col("o_custkey") === col("c_custkey"))
    // no column statistics: the estimate of an inner join is the product
    // of its sides' sizes, terabytes for these three small tables
    val estimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(estimate > BigInt(20000) * WriteOptimizer.DefaultTargetBytes, s"estimate=$estimate")
    val input = Seq("lineitem", "orders", "customer")
      .map(t => new File(s"$sf0001/$t.parquet").length).sum
    val target = 16 * 1024L
    assert(WriteOptimizer.targetPartitions(df, targetBytes = target) ==
      (input + target - 1) / target, s"input=$input")
  }

  test("sortCols yields files whose rows are sorted (row-group pruning ready)") {
    val out = Files.createTempDirectory("wo-sort").toString
    WriteOptimizer.sizedWrite(
      Tables(spark, sf0001, "orders"), out,
      targetBytes = 256 * 1024, sortCols = Seq("o_orderdate"))
    val files = partFiles(out)
    assert(files.nonEmpty)
    files.foreach { f =>
      val dates = spark.read.parquet(f.getPath)
        .select(col("o_orderdate").cast("string")).collect().map(_.getString(0))
      assert(dates.sameElements(dates.sorted), s"unsorted file ${f.getName}")
    }
  }

  test("partitioned write bounds files per directory at maxFilesPerPart") {
    val out = Files.createTempDirectory("wo-hive").toString
    val df = Tables(spark, sf0001, "orders")
      .withColumn("part_status", col("o_orderstatus"))
      // spread rows across many input partitions so an unbounded write
      // would emit one file per (task, value) pair
      .repartition(8)
    WriteOptimizer.sizedPartitionedWrite(df, out, "part_status", maxFilesPerPart = 2)
    val dirs = new File(out).listFiles((f: File) => f.getName.startsWith("part_status="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = partFiles(d.getPath)
      assert(files.length <= 2, s"${d.getName} has ${files.length} files")
    }
    assert(sameRows(
      spark.read.parquet(out).select(df.columns.head, df.columns.tail: _*),
      df))
  }
}
