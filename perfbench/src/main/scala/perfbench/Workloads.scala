package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Pipeline, QueryDef, SparkEntry}
import graft.core.Tables

/** What one op did: work units (rows applied, 1 otherwise) and, if it
  * failed, why. */
final case class OpOutcome(units: Long = 1L, failure: Option[String] = None)

/** One output for `scripts/oracle_check.py`: its name, the DuckDB SQL that
  * must reproduce it, and the parquet directory that holds it. */
final case class Check(name: String, sql: String, path: String)

/** Context shared by the workloads of one run. */
final case class Ctx(
    spark: SparkSession, data: String, runDir: String, seed: Long, tracer: Tracer, cores: Int)

trait Workload {
  /** Closed-loop clients; each runs ops back to back. */
  def clients: Int = 1
  /** Ops of one round of client `client`: the timed region ends on a
    * round boundary, so a run's op mix is the same whatever its length. */
  def roundOps(client: Int): Int = 1
  /** Everything before the first timed op, including a warm-up. */
  def setup(): Unit
  /** One timed op of client `client`. */
  def op(client: Int, i: Int): OpOutcome
  /** The outputs to check, written out if they are not on disk yet. */
  def checks(): Seq[Check]
  /** Workload-specific per-layer metrics, keyed by metric name. */
  def layerMetrics(opsDone: Int, opWallS: Double): Map[String, Double]
}

object Workloads {

  lazy val byName: Map[String, QueryDef] = SparkEntry.all.map(q => q.name -> q).toMap
  def oracle(name: String): String = SparkEntry.oracleSql(name)

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "master_refresh" => new MasterRefresh(ctx)
    case "analyst" => new Analyst(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }

  def share(part: Double, whole: Double): Double = if (whole > 0) part / whole else 0.0
}

import Workloads._

/** One refresh cycle per op, into a fresh work directory: the reference's
  * master run (`Pipeline.runMaster`: land, conform, merge, gold, serve
  * under the Orchestrator), then document curation (`dd11_dedup_clusters`:
  * connected components over near-duplicate edges), written next to the
  * gold table, then one micro-batch round through the streaming
  * maintainers ([[StreamReplay]]). */
final class MasterRefresh(ctx: Ctx) extends Workload {
  import ctx._
  // a cycle takes 7.5-20 s, longer than the timed region, so every run
  // times one cycle: the first after the warm-up
  private val Curation = "dd11_dedup_clusters"
  private var lastWork: Option[String] = None
  private var attempts, skipped = 0L
  private var curationS = 0.0
  private val stream = new StreamReplay(ctx)

  /** The master run; its failure, if any. */
  private def master(work: String): Option[String] = {
    val (report, _) = tracer.span(Modules.Pipeline, "pipeline.run_master") {
      Pipeline.runMaster(spark, data, work, sleeper = _ => ())
    }
    attempts += report.blocks.map(_.attempts).sum
    skipped += report.blocks.count(_.status == "skipped_duplicate")
    if (report.acquired && report.succeeded) None
    else Some(s"master run failed: ${report.blocks.mkString("; ")}")
  }

  private def curate(work: String): Unit = {
    val t0 = System.nanoTime()
    tracer.span("queries", s"queries.$Curation") {
      byName(Curation).run(spark, data).write.mode("overwrite").parquet(s"$work/curation")
    }
    curationS += (System.nanoTime() - t0) / 1e9
  }

  private def keep(work: String): Unit = {
    lastWork.foreach(w => deleteTree(new File(w)))
    lastWork = Some(work)
  }

  def setup(): Unit = {
    Tables.registerAll(spark, data)
    // warm-up: one cycle with its three steps at once (the stream's with
    // its initial state); all are bound by driver latency when cold, so
    // they overlap
    val work = s"$runDir/cycles/warmup"
    graft.core.Par.run(() => master(work), () => { curate(work); None },
      () => { stream.setup(); None })
      .flatten.foreach(f => throw new IllegalStateException(f))
    keep(work)
    attempts = 0; skipped = 0; curationS = 0.0
  }

  def op(client: Int, i: Int): OpOutcome = {
    val work = s"$runDir/cycles/$i"
    val failure = master(work)
    curate(work)
    stream.applyRound()
    keep(work)
    OpOutcome(failure = failure)
  }

  /** The last cycle's gold table and curated clusters, and the stream's
    * final states. */
  def checks(): Seq[Check] = lastWork.toSeq.flatMap { work =>
    Seq(Check("pipeline_e2e_parity", oracle("pipeline_e2e_parity"), s"$work/gold/order_rollup"),
      Check(Curation, oracle(Curation), s"$work/curation"))
  } ++ stream.checks()

  def layerMetrics(opsDone: Int, opWallS: Double): Map[String, Double] = {
    val n = math.max(opsDone, 1).toDouble
    Map("orchestrator.attempts" -> attempts / n, "orchestrator.skipped_duplicate" -> skipped / n,
      "queries.curation.frac" -> share(curationS, opWallS)) ++ stream.layerMetrics(opWallS)
  }
}
