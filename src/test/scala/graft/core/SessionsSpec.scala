package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

class SessionsSpec extends SparkTestBase {

  test("the shared test session carries every factory constant") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("release unpersists cached frames and local checkpoints") {
    val cached = spark.range(1000).toDF("id").cache()
    cached.count()
    spark.range(100).toDF("id").localCheckpoint()
    assert(spark.sparkContext.getPersistentRDDs.size >= 2)
    Sessions.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("the factory is the only session builder in the program sources") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def count(p: Path): Int = "SparkSession.builder".r.findAllIn(Files.readString(p)).size
    val hits = files.map(p => p -> count(p)).filter(_._2 > 0)
    assert(hits.map(_._2).sum == 1, hits.mkString(", "))
    assert(hits.head._1.endsWith("graft/core/Sessions.scala"))
  }
}
