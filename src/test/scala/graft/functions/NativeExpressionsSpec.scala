package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Tables

class NativeExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("native uuid_v5 equals the UDF and the RFC vector, inside codegen") {
    val df = Seq("example.com", "NATION_0").toDF("name")
      .select(col("name"),
        NativeExpressions.uuid_v5_native(col("name")).as("native"),
        Udfs.uuid_v5(col("name")).as("viaUdf"))
    val rows = df.collect()
    assert(rows.forall(r => r.getString(1) == r.getString(2)))
    assert(rows.head.getString(1) == "cfbff0d1-9375-5685-968c-48ce8b15ae17")
  }

  test("native expressions stay inside WholeStageCodegen (no UDF eval node)") {
    val df = Tables(spark, sf0001, "nation")
      .select(NativeExpressions.uuid_v5_native(col("n_name")).as("u"),
        NativeExpressions.trigram_sim_native(col("n_name"), lit("NATION_1")).as("t"))
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    // '*(1)' marks a whole-stage-codegen'd stage; our expressions appear
    // inline in the codegen'd Project rather than behind a UDF boundary
    assert(plan.contains("*(1) Project") && plan.contains("uuid_v5_native"),
      plan.take(400))
    assert(!plan.toLowerCase.contains("scalaudf"), plan.take(1000))
  }

  test("null propagation: NullIntolerant returns NULL, never throws") {
    val df = Seq(Some("x"), None).toDF("s")
      .select(NativeExpressions.uuid_v5_native(col("s")).as("u"),
        NativeExpressions.trigram_sim_native(col("s"), col("s")).as("t"))
    val rows = df.collect()
    assert(rows.exists(_.isNullAt(0)) && rows.exists(!_.isNullAt(0)))
  }

  test("extensions registration exposes the functions to SQL") {
    Udfs.register(spark)
    val r = spark.sql(
      "SELECT uuid_v5_native('example.com') AS u, trigram_sim_native('word','words') AS t")
      .collect().head
    assert(r.getString(0) == "cfbff0d1-9375-5685-968c-48ce8b15ae17")
    assert(math.abs(r.getDouble(1) - 4.0 / 7.0) < 1e-9)
  }

  test("jaro_winkler_native matches DuckDB 1.0 reference vectors exactly") {
    // vectors computed with DuckDB 1.0's jaro_winkler_similarity —
    // including its quirks: both-empty → 0.0, boost only when jaro > 0.7
    // (abcdxxxxxx pair stays at its raw jaro 0.6 despite the 4-char
    // prefix), transposition halving (martha/marhta), window-0 no-match
    // (ab/ba), and the short-vs-long prefix boost (ab/abcdefgh = 0.8)
    val vectors = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("duane", "dwayne", 0.84),
      ("", "", 0.0),
      ("a", "", 0.0),
      ("abc", "abc", 1.0),
      ("hot bolt", "old bolt", 0.8333333333333334),
      ("ab", "ba", 0.0),
      ("crate", "trace", 0.7333333333333333),
      ("ab", "abcdefgh", 0.8),
      ("abcdxxxxxx", "abcdyyyyyy", 0.6),
      ("abqqqqqqqqqq", "abzzzzzzzzzz", 0.4444444444444444))
    vectors.foreach { case (a, b, want) =>
      val got = NativeExpressions.jaroWinklerEval(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(math.abs(got - want) < 1e-12, s"jw($a, $b) = $got, want $want")
    }
    // symmetric
    assert(NativeExpressions.jaroWinklerEval(
      org.apache.spark.unsafe.types.UTF8String.fromString("dixon"),
      org.apache.spark.unsafe.types.UTF8String.fromString("dicksonx")) ==
      NativeExpressions.jaroWinklerEval(
        org.apache.spark.unsafe.types.UTF8String.fromString("dicksonx"),
        org.apache.spark.unsafe.types.UTF8String.fromString("dixon")))
  }

  test("jaro_winkler_native stays inside WholeStageCodegen and propagates null") {
    val df = Tables(spark, sf0001, "nation")
      .select(NativeExpressions.jaro_winkler_native(
        col("n_name"), lit("NATION_1")).as("jw"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("jaro_winkler_native"),
      plan.take(400))
    assert(!plan.toLowerCase.contains("scalaudf"), plan.take(1000))
    val nulls = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(NativeExpressions.jaro_winkler_native(col("a"), col("b")).as("jw"))
      .collect()
    assert(nulls.head.isNullAt(0))
  }

  test("dot_native is bit-exact with the aggregate/zip_with fold") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .limit(200)
    val both = vecs.select(
      NativeExpressions.dot_native(col("v"), col("v")).as("native"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
    // null array propagates to null, never throws
    val n = vecs.select(NativeExpressions.dot_native(
      lit(null).cast("array<double>"), col("v")).as("d")).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("ngrams_native matches the transform/sequence/slice formulation") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(split(col("text"), " ").as("w")).limit(100)
    Seq(2, 3, 8).foreach { k =>
      val both = docs.select(
        NativeExpressions.ngrams_native(col("w"), k).as("native"),
        when(size(col("w")) >= k,
          transform(sequence(lit(0), size(col("w")) - k),
            i => array_join(slice(col("w"), i + 1, lit(k)), " ")))
          .otherwise(array().cast("array<string>")).as("hof"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"k=$k mismatch")
      }
    }
    // short arrays yield empty, null yields null
    val edge = spark.sql(
      "SELECT 1").select(
      NativeExpressions.ngrams_native(typedLit(Seq("a", "b")), 3).as("short"),
      NativeExpressions.ngrams_native(
        lit(null).cast("array<string>"), 2).as("nul")).collect().head
    assert(edge.getSeq[String](0).isEmpty && edge.isNullAt(1))
  }

  test("minhash_sig_native matches the explode + min(conv(substring(md5))) groupBy") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        array_distinct(NativeExpressions.ngrams_native(
          split(col("text"), " "), 3)).as("shArr"))
      .filter(size(col("shArr")) > 0)
      .limit(200)
      .cache()
    val native = docs.select(col("doc_id"),
      NativeExpressions.minhash_sig_native(col("shArr")).as("sig"))
      .select(col("doc_id") +: (0 until 8).map(i =>
        element_at(col("sig"), i + 1).as(s"mh$i")): _*)
    def mhash(i: Int) =
      min(conv(substring(md5(concat(lit(s"$i#"), col("sh"))), 1, 15), 16, 10)
        .cast("long")).as(s"mh$i")
    val sqlForm = docs.select(col("doc_id"), explode(col("shArr")).as("sh"))
      .groupBy(col("doc_id")).agg(mhash(0), (1 until 8).map(mhash): _*)
    assert(sameRows(native, sqlForm))
    docs.unpersist()
  }

  test("minhash_sig_native edge cases: fixed vector, empty -> null, null -> null") {
    import org.apache.spark.sql.functions._
    // fixed vector pinned against the SQL formulation computed once by
    // hand: md5('0#a b c') = 2e3681c1e1b1e37d... -> first 15 hex as long
    val r = spark.sql("SELECT 1").select(
      NativeExpressions.minhash_sig_native(typedLit(Seq("a b c"))).as("sig"),
      expr("CAST(conv(substring(md5('0#a b c'), 1, 15), 16, 10) AS BIGINT)").as("h0"),
      NativeExpressions.minhash_sig_native(
        array().cast("array<string>")).as("empty"),
      NativeExpressions.minhash_sig_native(
        lit(null).cast("array<string>")).as("nul")).collect().head
    assert(r.getSeq[Long](0).length == 8)
    assert(r.getSeq[Long](0).head == r.getLong(1),
      s"${r.getSeq[Long](0).head} != ${r.getLong(1)}")
    assert(r.isNullAt(2) && r.isNullAt(3))
  }
}
