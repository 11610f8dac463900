package graft
import java.nio.file.{Files, Paths}

import graft.core.{LocalFs, Sessions}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always passes exactly two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // Failed queries must be VISIBLE: each failure writes ERROR.txt into the
    // query's out-dir and lands in errors.json, so a broken query surfaces
    // as an explicit err row in CORRECTNESS instead of a silent absence
    // (round 5 lost 32 rows to exactly that).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), not coalesce(1): the oracle checker reads a single
      // file, but coalesce would collapse the whole upstream plan to one
      // task; repartition keeps the compute parallel and shuffles only the
      // (small) result.
      try LocalFs.writer(fn(spark, sfDir).repartition(1)).mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        val d = Paths.get(s"$outDir/$name")
        Files.createDirectories(d)
        Files.writeString(d.resolve("ERROR.txt"), msg)
      }
      // a query's caches must not stay pinned under every later query
      finally Sessions.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    // Loud but exit-0: the driver must still run the DuckDB compare over
    // the queries that DID succeed; errors.json carries the failure list.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
  }
}
