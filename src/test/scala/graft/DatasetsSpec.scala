package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

class DatasetsSpec extends SparkTestBase {

  private lazy val out =
    Files.createTempDirectory("datasets-scaled").resolve("sf-2x").toString
  private lazy val dir = Datasets.scaled(spark, sf0001, 2, out)
  private def read(d: String, t: String) = spark.read.parquet(s"$d/$t.parquet")

  test("scaled doubles the fact tables and keeps keys unique and joinable") {
    for (t <- Seq("orders", "lineitem", "documents"))
      assert(read(dir, t).count() == 2 * read(sf0001, t).count(), t)
    for ((t, k) <- Seq("orders" -> "o_orderkey", "documents" -> "doc_id")) {
      val rows = read(dir, t)
      assert(rows.select(k).distinct().count() == rows.count(), s"$t.$k")
    }
    val orphans = read(dir, "lineitem").join(
      read(dir, "orders"), col("l_orderkey") === col("o_orderkey"), "left_anti")
    assert(orphans.isEmpty)
  }

  test("a second call with the same stamp leaves the data untouched") {
    def mtimes(): Map[Path, Long] = Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = mtimes()
    assert(before.nonEmpty)
    assert(Datasets.scaled(spark, sf0001, 2, out) == dir)
    assert(mtimes() == before)
  }
}
