package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class LayoutSpec extends SparkTestBase {

  test("month-partitioned writes prune: date predicate → PartitionFilters, not a full scan") {
    val out = Files.createTempDirectory("silver").toString
    Layout.writePartitionedByMonth(
      Tables(spark, sf0001, "events"), "ts", out)
    val pruned = spark.read.parquet(out).filter(col("part_month") === "2024-01")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("part_month"), plan.take(500))
    // every events row is in January 2024 → one partition holds everything
    assert(pruned.count() == Tables(spark, sf0001, "events").count())
    assert(spark.read.parquet(out).filter(col("part_month") === "1999-01").count() == 0)
  }

  test("a small month-partitioned write pins its clustering exchange; past the size gate AQE sizes it") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    def exchangeParts(): Seq[Option[Int]] =
      Layout.clusteredByMonth(Tables(spark, sf0001, "events"), "ts", 1, Seq("user_id"))
        .queryExecution.optimizedPlan.collect {
          case r: RepartitionByExpression => r.optNumPartitions
        }
    assert(exchangeParts() == Seq(Some(spark.sparkContext.defaultParallelism)))
    spark.conf.set("spark.graft.fanout.bytesPerTask", "0")
    try assert(exchangeParts() == Seq(None))
    finally spark.conf.unset("spark.graft.fanout.bytesPerTask")
  }

  test("bucketed tables join without an exchange on the bucket key") {
    Layout.writeBucketed(Tables(spark, sf0001, "orders"), "o_orderkey", 4, "b_orders")
    Layout.writeBucketed(
      Tables(spark, sf0001, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
      "o_orderkey", 4, "b_lineitem")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      assert(joined.count() == Tables(spark, sf0001, "lineitem").count())
      val plan = joined.queryExecution.executedPlan.toString // final after execution
      // co-located bucketed join: SortMergeJoin with NO shuffle exchange
      assert(plan.contains("SortMergeJoin"), plan.take(600))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("dynamic partition pruning fires when a partitioned fact joins a filtered dim") {
    // the 100 TB access path for partitioned gold tables: a selective dim
    // predicate prunes fact partitions AT RUNTIME via the join key — the
    // fact scan must carry a dynamicpruning expression, not read all
    // partitions. (Static pruning is the month-partition test above; this
    // is the join-driven variant that covers star queries.)
    val out = Files.createTempDirectory("dpp_fact").toString
    Tables(spark, sf0001, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    val fact = spark.read.parquet(out)
    // dim: a filtered lookup producing a strict subset of years — the
    // fact side must filter by the JOIN result, not by a literal
    val dim = Tables(spark, sf0001, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select((col("c_custkey") % 2 + 1995).cast("int").as("o_year"))
      .distinct()
    val joined = fact.join(broadcast(dim), Seq("o_year"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      plan.take(1500))
    assert(joined.count() > 0)
  }

  test("salted join equals the unsalted join on a skewed key") {
    val fact = Tables(spark, sf0001, "lineitem")
      .select(col("l_orderkey").cast("string").as("k"), col("l_quantity"))
    val dim = Tables(spark, sf0001, "orders")
      .select(col("o_orderkey").cast("string").as("k"), col("o_orderstatus"))
    val plain = fact.join(dim, "k").count()
    val salted = Layout.saltKey(fact, "k", 4)
      .join(Layout.explodeDimForSalt(dim, "k", 4), Seq("__salted_key"))
      .count()
    assert(plain == salted)
  }

  test("salting actually SPREADS a hot key: max shuffle-partition load drops >=4x") {
    // 90% of rows share one key — the mega-case shape. Under plain
    // hashpartitioning(key) they all land in ONE task; salted
    // partitioning must spread them across the salt space. This is the
    // regression test for the key-derived-salt bug, where __salt was a
    // pure function of the key and the hot key still serialized.
    val n = 20000
    val hot = spark.range(n).select(
      when(col("id") % 10 =!= 0, lit("HOT")).otherwise(col("id").cast("string")).as("k"),
      col("id").as("payload"))
    def maxLoad(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(spark_partition_id().as("p")).count()
        .agg(max("count")).collect()(0).getLong(0)
    val plainMax = maxLoad(hot.repartition(16, col("k")))
    val saltedMax = maxLoad(Layout.saltKey(hot, "k", 16)
      .repartition(16, col("__salted_key")))
    assert(plainMax >= (n * 9) / 10, s"fixture not skewed: $plainMax")
    assert(saltedMax * 4 <= plainMax,
      s"salt failed to spread the hot key: salted max $saltedMax vs plain $plainMax")
  }
}
