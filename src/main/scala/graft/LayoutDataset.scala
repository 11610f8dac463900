package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.{Layout, Sessions, Tables}

/** Round-10 ask #7: a month-partitioned+sorted variant of an sf dir, so
  * the FULL inventory bench can run against the Layout silver the
  * Pipeline now writes by default (LayoutBench prices one query pair;
  * this prices all of them — PLANS.md holds the comparison table).
  *
  * The three date-bearing fact tables are written through
  * `Layout.writePartitionedByMonth` (sorted within each month on their
  * probe keys); the dims/docs tables are symlinked — layout only matters
  * for the tables a date predicate or key probe can prune.
  *
  * Usage: `runMain graft.LayoutDataset [sfDir]` → target/sf-layout/
  */
object LayoutDataset {

  private val Version = "v1"

  def build(spark: SparkSession, base: String): String = {
    val out = "target/sf-layout"
    val stamp = Paths.get(s"$out/_LAYOUT")
    val want = s"$Version base=$base\n"
    if (Files.exists(stamp) &&
        new String(Files.readAllBytes(stamp)) == want) return out
    System.err.println(s"[layout-dataset] building $out from $base…")
    // wipe a stale build (different base/version)
    def del(f: java.io.File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
        f.listFiles().foreach(del)
      f.delete(); ()
    }
    del(Paths.get(out).toFile)
    Files.createDirectories(Paths.get(out))
    val partitioned = Map(
      "lineitem" -> ("l_shipdate", Seq("l_orderkey")),
      "orders" -> ("o_orderdate", Seq("o_orderkey")),
      "events" -> ("ts", Seq("user_id", "ts")))
    for (t <- Tables.all) partitioned.get(t) match {
      case Some((tsCol, sortCols)) =>
        Layout.writePartitionedByMonth(Tables(spark, base, t), tsCol,
          s"$out/$t.parquet", sortCols = sortCols)
      case None =>
        Files.createSymbolicLink(Paths.get(s"$out/$t.parquet"),
          Paths.get(s"$base/$t.parquet").toAbsolutePath)
    }
    Files.writeString(stamp, want)
    out
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local()
    println(s"[layout-dataset] ready: ${build(spark, base)}")
    spark.stop()
  }
}
