package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{LocalFs, Sessions, Tables, WriteOptimizer}
import graft.ingest.RawZone
import graft.merge.MergeKernels
import graft.ql.QueryGuard

/** End-to-end master pipeline (SURVEY.md §3.1/§3.2): the reference's
  * `master_etl.py` Orders collapsed into one Spark job —
  *
  *   1. land   — API payloads arrive as JSON drops; read permissively
  *               with corrupt-record quarantine (S1)
  *   2. conform— field-map + typing to the silver schema (P1/P3/P5)
  *   3. merge  — change-detecting upsert into the silver target with
  *               op classification + run stats (S6/A13)
  *   4. gold   — rebuild the denormalized gold rollup (the MV refresh)
  *   5. serve  — register views and answer a guarded query (Q5/Q6)
  *
  * Usage: runMain graft.Pipeline [sfDir] [workDir]
  */
object Pipeline {

  /** Schema of the gold table this pipeline itself writes, pinned so the
    * re-reads skip footer inference (the write fully determines it). */
  val GoldSchema: StructType =
    StructType.fromDDL(
      "pk BIGINT, status STRING, price DOUBLE, updated_epoch BIGINT, " +
        "li_count BIGINT, qty_tot BIGINT")

  /** The land → merge result: the cached merge, its op counts for the
    * log, and the land read's record and quarantine counts. */
  private final case class Landing(merged: DataFrame, ops: String, records: Long, quarantined: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = args.lift(1).getOrElse(
      Files.createTempDirectory("graft-pipeline").toString)
    val spark = Sessions.local()
    run(spark, sfDir, workDir).foreach { case (stage, detail) =>
      println(f"[pipeline] $stage%-10s $detail")
    }
    spark.stop()
  }

  /** Runs the five stages; returns (stage, summary) lines for the log. */
  def run(spark: SparkSession, sfDir: String, workDir: String): Seq[(String, String)] = {
    val log = Seq.newBuilder[(String, String)]
    stageBlocks(spark, sfDir, workDir, log).foreach(_.step())
    log.result()
  }

  /** Master-orchestrated variant (reference `etl_master/master_etl.py`):
    * the same five stages as ORDERED blocks through [[Orchestrator.run]]
    * — run-lock, retry with backoff, and the gold refresh listed TWICE
    * (the reference's master block list names view-refresh steps
    * redundantly; the second occurrence must dedupe, not re-run).
    */
  def runMaster(
      spark: SparkSession,
      sfDir: String,
      workDir: String,
      maxRetries: Int = 2,
      sleeper: Long => Unit = Thread.sleep): (Orchestrator.RunReport, Seq[(String, String)]) = {
    val log = Seq.newBuilder[(String, String)]
    val blocks = stageBlocks(spark, sfDir, workDir, log)
    val withDup = blocks.flatMap { b =>
      if (b.name == "gold") Seq(b, b.copy(name = "gold_refresh_again")) else Seq(b)
    }
    val report = Orchestrator.run(withDup, maxRetries = maxRetries, sleeper = sleeper)
    (report, log.result())
  }

  /** The five stages as ordered blocks sharing state through lazy vals
    * (each stage forces only its own inputs), appending summaries to
    * `log`. The gold stage carries a refreshKey so duplicate listings
    * dedupe. */
  private def stageBlocks(
      spark: SparkSession,
      sfDir: String,
      workDir: String,
      log: scala.collection.mutable.Builder[(String, String), Seq[(String, String)]]): Seq[Orchestrator.Block] = {

    // -- 0. simulate the API: even-keyed orders land as a JSON drop
    //       (several chunks — a paginated REST dump arrives as many
    //       files, and the single-chunk form serialized both the drop's
    //       JSON encode and the land stage's parse on one task each,
    //       r12 profile), with one corrupt line planted.
    //       Lazy: a retried land block re-runs the (idempotent) setup.
    val dropDir = s"$workDir/raw/orders"
    val silverPath = s"$workDir/silver/orders"
    val goldPath = s"$workDir/gold/order_rollup"
    // the drop's columns in JSON inference order (sorted by name): the
    // land read pins them, so it runs no schema-inference job
    lazy val staged = Tables(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 2 === 0)
      .select(
        col("o_orderkey").as("ORDER_ID"),
        col("o_orderstatus").as("ORDER_STATUS"),
        col("o_totalprice").as("TOTAL_PRICE"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("ORDER_DATE"))
    lazy val dropSchema = StructType(staged.schema.fields.sortBy(_.name).map(_.copy(nullable = true)))
    lazy val dropped: Unit = {
      LocalFs.writer(staged.repartition(8)).mode("overwrite").json(dropDir)
      // plant one corrupt record in the drop
      val extra = new java.io.PrintWriter(
        Files.newBufferedWriter(Paths.get(dropDir, "part-corrupt.json")))
      extra.println("{not valid json")
      extra.close()
    }

    // land → conform → merge as one lazy plan, built by ONE job: the
    // merge's op-count collect, which also builds the `merged` cache.
    // The land read observes its record and quarantine counts, and
    // Spark reports an observation inside a cached plan with the query
    // that builds the cache, so land and conform run no job of their
    // own (the conform stage's typed-row count is records - quarantined
    // by construction: the casts never drop rows). The cache stays:
    // Layout.writePartitionedByMonth's partition-count pin reads the
    // plan's size estimate, and a cached relation reports its real
    // in-memory size only once built. A failed collect may leave partial
    // counts in the cached plan's accumulators, so it drops the cache and
    // the next attempt starts over with a fresh read and Observation.
    lazy val landing: Landing = {
      dropped
      val observed = Observation("land")
      val landed = RawZone.readJsonDrops(spark, dropDir, Some(dropSchema))
        .observe(observed, count(lit(1)).as("records"),
          count(col(RawZone.CorruptCol)).as("quarantined"))
      // UPPER_SNAKE API keys → silver schema, typed
      val conformed = landed.filter(col(RawZone.CorruptCol).isNull)
        .select(
          col("ORDER_ID").cast("long").as("pk"),
          col("ORDER_STATUS").as("status"),
          col("TOTAL_PRICE").cast("double").as("price"),
          unix_timestamp(try_to_timestamp(col("ORDER_DATE"),
            lit("yyyy-MM-dd HH:mm:ss"))).as("updated_epoch"))
      // merge into the silver target (previous state: 3/4 of orders, stale
      // where key%7==0) with op classification
      val target = Tables(spark, sfDir, "orders")
        .filter(col("o_orderkey") % 4 =!= 0)
        .select(col("o_orderkey").as("pk"), col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"),
          (unix_timestamp(col("o_orderdate")) -
            when(col("o_orderkey") % 7 === 0, 86400L).otherwise(0L)).as("updated_epoch"))
      val merged = MergeKernels.upsertClassify(target, conformed, Seq("pk")).cache()
      try {
        val ops = merged.groupBy("op").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
        val counts = Await.result(observed.future, 1.minute)
        Landing(merged, ops, counts.getAs[Long]("records"), counts.getAs[Long]("quarantined"))
      } catch { case e: Throwable => merged.unpersist(); throw e }
    }

    Seq(
      Orchestrator.Block("land", () => {
        log += "land" -> s"${landing.records} records, ${landing.quarantined} quarantined"
      }),

      Orchestrator.Block("conform", () => {
        log += "conform" -> s"${landing.records - landing.quarantined} rows typed"
      }),

      // persist the merge; `merged` stays cached for the gold block,
      // which releases it
      Orchestrator.Block("merge", () => {
        // round-10 default layout: silver lands MONTH-PARTITIONED on the
        // modification time and pk-SORTED within each month — the Spark
        // analog of the reference's COALESCE(date_modified, date_created)
        // index. Date-bounded rescans prune to the touched months
        // (LAYOUT.json: 47× bytes at 10×), pk-sorted row groups give
        // min-max pruning on key probes, and month-clustered writes keep
        // one file per (month, writer) instead of tasks × months slivers.
        graft.core.Layout.writePartitionedByMonth(
          landing.merged.drop("op")
            .withColumn("updated_ts", timestamp_seconds(col("updated_epoch"))),
          "updated_ts", silverPath, sortCols = Seq("pk"))
        log += "merge" -> landing.ops
      }),

      // gold rebuild: wide rollup joining silver to children (refreshKey:
      // the reference's master lists view refreshes redundantly — a
      // second occurrence in one run must dedupe, not rebuild)
      Orchestrator.Block("gold", () => {
        // silver's rows straight from the merge block's cache: re-reading
        // the table just written would list its ~80 month directories
        // (one Spark job past 32 paths) and scan every file again
        val merged = landing.merged
        val silver = merged.drop("op")
        // keyed fan-out (size-gated no-op at scale): AQE's byte-based
        // coalescing shrank this rollup's exchange to 3 tasks — byte-light
        // but CPU-dense, and it feeds a broadcast build on the join below
        val liAgg = graft.core.Fanout.keyed(spark,
            Tables(spark, sfDir, "lineitem")
              .select(col("l_orderkey"), col("l_quantity")),
            sfDir, Seq(col("l_orderkey")), "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("li_count"),
            sum(col("l_quantity").cast("long")).as("qty_tot"))
        val gold = silver
          .join(liAgg, silver("pk") === liAgg("l_orderkey"), "left")
          .select(col("pk"), col("status"), col("price"), col("updated_epoch"),
            coalesce(col("li_count"), lit(0L)).as("li_count"),
            coalesce(col("qty_tot"), lit(0L)).as("qty_tot"))
        WriteOptimizer.sizedWrite(gold, goldPath, sortCols = Seq("pk"))
        merged.unpersist()
        // row count from the parquet footers the write just produced —
        // metadata, zero Spark jobs (same discipline as the streaming
        // maintainers' per-batch metrics)
        log += "gold" -> s"${graft.streaming.VersionedState.rowCount(spark, goldPath)} rollup rows"
      }, refreshKey = Some("gold_rollup_refresh")),

      // serve: register + answer a guarded query over the gold table
      Orchestrator.Block("serve", () => {
        spark.read.schema(GoldSchema).parquet(goldPath)
          .createOrReplaceTempView("gold_orders")
        val answer = QueryGuard.validate(
          "SELECT status, COUNT(*) AS n, SUM(qty_tot) AS qty FROM gold_orders GROUP BY status")
          .map(sql => spark.sql(sql).collect()
            .map(r => s"${r.getString(0)}:${r.getLong(1)}").sorted.mkString(" "))
        log += "serve" -> answer.fold(d => s"DENIED ${d.reason}", identity)
      }))
  }
}
