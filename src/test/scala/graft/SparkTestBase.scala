package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions

/** Shared session for all specs — one JVM-wide SparkSession (forked test
  * JVM) from the production factory, small shuffle parallelism for test
  * speed.
  */
object TestSpark {
  // local[4] whatever the host: the plan-shape specs assume 4 cores
  lazy val spark: SparkSession = {
    val s = Sessions.local(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"

  /** Multiset equality via two-sided exceptAll (null-safe). */
  def sameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
}
