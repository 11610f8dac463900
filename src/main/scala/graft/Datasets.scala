package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Layout, LocalFs, Sessions, Tables}
import graft.search.Text

/** Derived inputs for `Bench`: a testdata directory scaled by key-offset
  * replicas, or re-laid-out month-partitioned. Neither changes a query;
  * point `SPARK_GRAFT_SF_DIR` at the output to time queries on it.
  *
  *   - `runMain graft.Datasets scaled N [base]` → `target/sf-derived-Nx`
  *   - `runMain graft.Datasets layout [base]` → `target/sf-layout`
  *
  * `base` defaults to the sf0.1 testdata, as in Bench. Each output directory
  * carries a stamp file; a directory whose stamp does not match the
  * generator version and arguments is wiped and rebuilt, so edits to a
  * generator can never silently reuse stale data.
  */
object Datasets {

  private val DefaultBase = "/root/testdata/sf0.1"

  /** Bump on ANY change to replicate()/scaled()/offsets: stale derived
    * data is regenerated on mismatch instead of silently skewing ratios. */
  private val GeneratorVersion = "v2"
  private val LayoutVersion = "v1"

  /** Per-key-domain replica offsets (well above each domain's max key). */
  private val OrdOff = 10000000L
  private val CustOff = 1000000L
  private val SuppOff = 1000000L
  private val PartOff = 1000000L
  private val DocOff = 1000000L
  private val EvOff = 10000000L
  private val UserOff = 1000000L

  /** `out` as last built under `want`; wiped and rebuilt by `build` when
    * its `stampName` file is absent or holds anything else. */
  private def stamped(out: String, stampName: String, want: String)(
      build: => Unit): String = {
    val stamp = Paths.get(s"$out/$stampName")
    if (!(Files.exists(stamp) && new String(Files.readAllBytes(stamp)) == want)) {
      System.err.println(s"[datasets] building $out...")
      def del(f: java.io.File): Unit = {
        if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
          f.listFiles().foreach(del)
        f.delete(); ()
      }
      del(Paths.get(out).toFile)
      Files.createDirectories(Paths.get(out))
      build
      Files.writeString(stamp, want)
    }
    out
  }

  private def replicate(df: DataFrame, replicas: Int, shifts: Map[String, Long],
      textTag: Boolean = false, embShift: Boolean = false): DataFrame =
    (0 until replicas).map { r =>
      var d = df
      shifts.foreach { case (c, off) =>
        d = d.withColumn(c, (col(c) + lit(r * off)).cast(df.schema(c).dataType))
      }
      if (textTag && r > 0) {
        // Per-replica vocabulary: tag every word so shingle/term keys do
        // not collide across replicas. Without it every doc would have
        // replicas−1 exact clones, and the dedup family's candidate sets
        // would grow quadratically by data pathology, not engine work.
        d = d.withColumn("text",
            array_join(transform(Text.tokens,
              w => concat(lit(s"r$r"), w)), " "))
          .withColumn("n_chars", length(col("text")))
      }
      // same reason for embeddings: a small per-replica component shift
      if (embShift && r > 0)
        d = d.withColumn("embedding",
          transform(col("embedding"), x => x + lit(r * 0.0137f)))
      d
    }.reduce(_ unionByName _)

  /** `base` scaled `replicas`-fold into `dir`: every table except the
    * fixed dims (nation, region, like TPC-H) is written as key-offset
    * replicas, so foreign keys resolve within each replica and keys stay
    * unique. */
  def scaled(spark: SparkSession, base: String, replicas: Int, dir: String): String =
    stamped(dir, "_GENERATOR", s"$GeneratorVersion replicas=$replicas base=$base\n") {
      def t(n: String) = spark.read.parquet(s"$base/$n.parquet")
      def w(df: DataFrame, n: String) =
        LocalFs.writer(df).mode("overwrite").parquet(s"$dir/$n.parquet")
      w(t("region"), "region")
      w(t("nation"), "nation")
      w(replicate(t("customer"), replicas, Map("c_custkey" -> CustOff)), "customer")
      w(replicate(t("supplier"), replicas, Map("s_suppkey" -> SuppOff)), "supplier")
      w(replicate(t("part"), replicas, Map("p_partkey" -> PartOff)), "part")
      w(replicate(t("orders"), replicas,
        Map("o_orderkey" -> OrdOff, "o_custkey" -> CustOff)), "orders")
      w(replicate(t("lineitem"), replicas, Map("l_orderkey" -> OrdOff,
        "l_partkey" -> PartOff, "l_suppkey" -> SuppOff)), "lineitem")
      w(replicate(t("events"), replicas,
        Map("event_id" -> EvOff, "user_id" -> UserOff)), "events")
      w(replicate(t("documents"), replicas, Map("doc_id" -> DocOff),
        textTag = true), "documents")
      w(replicate(t("embeddings"), replicas, Map("vec_id" -> DocOff),
        embShift = true), "embeddings")
    }

  /** `base` with the three date-bearing fact tables written through
    * `Layout.writePartitionedByMonth` (sorted within each month on their
    * probe keys), the layout the Pipeline writes its silver in. The other
    * tables are symlinked: layout only matters where a date predicate or
    * key probe can prune. */
  def layout(spark: SparkSession, base: String, out: String): String =
    stamped(out, "_LAYOUT", s"$LayoutVersion base=$base\n") {
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
    }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    try {
      val dir = args.toList match {
        case "scaled" :: n :: rest =>
          scaled(spark, rest.headOption.getOrElse(DefaultBase), n.toInt,
            s"target/sf-derived-${n.toInt}x")
        case "layout" :: rest =>
          layout(spark, rest.headOption.getOrElse(DefaultBase), "target/sf-layout")
        case _ => sys.error("usage: Datasets scaled N [base] | Datasets layout [base]")
      }
      println(s"[datasets] ready: $dir")
    } finally spark.stop()
  }
}
