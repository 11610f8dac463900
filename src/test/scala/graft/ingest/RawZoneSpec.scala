package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

class RawZoneSpec extends SparkTestBase {

  private def writeDrop(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("rawzone").toFile
    val f = new java.io.File(dir, "chunk0.json")
    val w = new java.io.PrintWriter(f)
    lines.foreach(w.println)
    w.close()
    dir.getAbsolutePath
  }

  test("permissive JSON read quarantines corrupt records instead of dropping them") {
    val path = writeDrop(Seq(
      """{"crime_id": "C1", "fir_date": "2024-01-01", "extra": 1}""",
      """{"crime_id": "C2"}""",
      """not json at all"""))
    val schema = StructType(Seq(
      StructField("crime_id", StringType),
      StructField("fir_date", StringType),
      StructField("extra", LongType)))
    val df = RawZone.readJsonDrops(spark, path, Some(schema)).cache()
    assert(df.count() == 3)
    assert(df.filter(col(RawZone.CorruptCol).isNotNull).count() == 1)
    assert(df.filter(col("crime_id") === "C2").count() == 1)
    df.unpersist()
  }

  test("readCsvDim infers int, double and string columns from a header CSV") {
    val dir = Files.createTempDirectory("rawzone-csv")
    Files.writeString(dir.resolve("dim.csv"),
      "code,rate,name\n1,0.5,alpha\n2,1.25,beta\n")
    val df = RawZone.readCsvDim(spark, dir.toString)
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("code" -> IntegerType, "rate" -> DoubleType, "name" -> StringType))
    assert(df.orderBy("code").collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2)))
      .toSeq == Seq((1, 0.5, "alpha"), (2, 1.25, "beta")))
  }

  test("schema evolution: new fields union in, stored types win, names infer types") {
    val stored = StructType(Seq(
      StructField("crime_id", StringType),
      StructField("n", LongType)))
    val incoming = StructType(Seq(
      StructField("crime_id", IntegerType),    // stored type must win
      StructField("modified_date", NullType),  // name-inferred -> timestamp
      StructField("station_code", NullType),   // name-inferred -> string
      StructField("notes", StringType)))
    val evolved = RawZone.evolveSchema(stored, incoming)
    assert(evolved.fieldNames.toSeq ==
      Seq("crime_id", "n", "modified_date", "station_code", "notes"))
    assert(evolved("crime_id").dataType == StringType)
    assert(evolved("modified_date").dataType == TimestampType)
    assert(evolved("station_code").dataType == StringType)
  }

  test("conformTo adds typed NULLs for missing columns and orders canonically") {
    import spark.implicits._
    val df = Seq(("a", 1L)).toDF("crime_id", "n")
    val target = StructType(Seq(
      StructField("crime_id", StringType), StructField("n", LongType),
      StructField("added_col", TimestampType)))
    val out = RawZone.conformTo(df, target)
    assert(out.columns.toSeq == Seq("crime_id", "n", "added_col"))
    assert(out.schema("added_col").dataType == TimestampType)
    assert(out.collect().head.isNullAt(2))
  }

  test("fetchWithRetry: exponential backoff, success after transient failures, gives up at max") {
    var calls = 0
    val delays = scala.collection.mutable.ListBuffer.empty[Long]
    val ok = RawZone.fetchWithRetry(maxAttempts = 4, baseDelayMs = 10,
      sleep = delays += _) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "payload"
    }
    assert(ok == Right("payload") && calls == 3)
    assert(delays.toSeq == Seq(10L, 20L)) // 2^attempt backoff
    val fail = RawZone.fetchWithRetry(maxAttempts = 2, baseDelayMs = 1,
      sleep = _ => ()) { () => throw new RuntimeException("down") }
    assert(fail.isLeft)
  }

  test("runScript executes read-only statements in order and blocks DML mid-script") {
    val ok = RawZone.runScript(spark, sf0001,
      "SELECT COUNT(*) AS n FROM nation; SELECT COUNT(*) AS n FROM region")
    assert(ok.isRight)
    assert(ok.toOption.get.collect().head.getLong(0) == 5L)
    val blocked = RawZone.runScript(spark, sf0001,
      "SELECT 1; DELETE FROM orders")
    assert(blocked.isLeft)
  }

  test("runScript does not split on a semicolon inside a string literal") {
    val res = RawZone.runScript(spark, sf0001,
      "SELECT 'a;b' AS s; SELECT 'it''s; fine' AS t")
    assert(res.isRight)
    assert(res.toOption.get.collect().head.getString(0) == "it's; fine")
    // and the splitter itself is statement-accurate
    assert(RawZone.splitStatements("SELECT 'x;y' AS a; SELECT 1") ==
      Seq("SELECT 'x;y' AS a", "SELECT 1"))
  }

  test("splitStatements ignores quotes and semicolons inside comments and quoted identifiers") {
    // an apostrophe in a line comment must not flip quote state
    assert(RawZone.splitStatements("SELECT 1 -- don't split here\n; SELECT 2") ==
      Seq("SELECT 1 -- don't split here", "SELECT 2"))
    // a ';' inside a comment is not a statement boundary
    assert(RawZone.splitStatements("SELECT 1 -- a;b\n + 2; SELECT 3") ==
      Seq("SELECT 1 -- a;b\n + 2", "SELECT 3"))
    assert(RawZone.splitStatements("SELECT /* don't; split */ 1; SELECT 2") ==
      Seq("SELECT /* don't; split */ 1", "SELECT 2"))
    // double-quoted identifiers may contain ';' and '
    assert(RawZone.splitStatements("SELECT 1 AS \"a;b's\"; SELECT 2") ==
      Seq("SELECT 1 AS \"a;b's\"", "SELECT 2"))
    // unterminated block comment swallows the rest (no bogus split)
    assert(RawZone.splitStatements("SELECT 1 /* open; forever") ==
      Seq("SELECT 1 /* open; forever"))
  }

  test("stripLeadingComments peels header comments so the guard sees SELECT first") {
    assert(RawZone.stripLeadingComments("-- header\nSELECT 1") == "SELECT 1")
    assert(RawZone.stripLeadingComments("/* a */ -- b\n  SELECT 2") == "SELECT 2")
    // comment-only statement strips to empty (skipped by runScript)
    assert(RawZone.stripLeadingComments("-- just a trailer\n") == "")
    assert(RawZone.stripLeadingComments("/* open forever") == "")
    // mid-statement comments are untouched
    assert(RawZone.stripLeadingComments("SELECT 1 -- tail") == "SELECT 1 -- tail")
  }
}
