package perfbench

import graft.core.Tables
import graft.ql.{Planner, QueryGuard, ResultCache}

import Workloads._

/** Analysts asking seeded questions through the planner and result cache. */
final class Analyst(ctx: Ctx) extends Workload {
  import ctx._
  override val clients: Int = 2

  private val cache = new ResultCache()
  private val streams = (0 until clients).map(c => new Questions.Stream(seed, c, clients))
  // ResultCache hands back the stored RunResult on a hit: identity tells
  // a hit from a miss without touching the cache's counters
  private val seen = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[QueryGuard.RunResult, java.lang.Boolean]()))
  private val lock = new Object
  private var planS, hitS, missS = 0.0
  private var hits, lookups = 0L

  private var checksDir: String = _

  /** A round is two whole cycles of the client's stream: every run asks
    * each template equally often and has the same share of cache hits,
    * and times about 15 s of questions; one cycle is about 8 s, short
    * enough for a shared host's bursts of load to decide a run. */
  override def roundOps(client: Int): Int = 2 * streams(client).cycleOps

  /** Warm-up: the canonical question of every template the streams draw
    * from, answered through its gated `ql_*` query (not the cache) and
    * written as the output the oracle checks; then one round of every
    * client at once, with questions of another seed through a throwaway
    * cache, so the timed round starts with the planner and the answer
    * path warm. */
  def setup(): Unit = {
    Tables.registerAll(spark, data)
    checksDir = s"$runDir/ql_canonical"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try Questions.variable.map { t =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = byName(t.name).run(spark, data).write
          .mode("overwrite").parquet(s"$checksDir/${t.name}")
      })
    }.foreach(_.get())
    finally pool.shutdown()
    val warm = new ResultCache()
    graft.core.Par.run((0 until clients).map { c => () =>
      val s = new Questions.Stream(-1 - seed, c, clients)
      Seq.fill(s.cycleOps)(s.next()._2).foreach { q =>
        Planner.planOrClarify(q).foreach(p => warm.getOrRun(spark, data, p.sql))
      }
    }: _*)
    ()
  }

  def op(client: Int, i: Int): OpOutcome = {
    val (_, q) = lock.synchronized(streams(client).next())
    val t0 = System.nanoTime()
    val planned = tracer.span("ql", "ql.plan")(Planner.planOrClarify(q))
    val t1 = System.nanoTime()
    planned match {
      case Left(c) => OpOutcome(failure = Some(s"clarification for '$q': ${c.reason}"))
      case Right(plan) =>
        val res = tracer.span("ql", "ql.answer", detail = plan.sql) {
          cache.getOrRun(spark, data, plan.sql)
        }
        val t2 = System.nanoTime()
        res match {
          case Left(d) => OpOutcome(failure = Some(s"denied '$q': ${d.reason}"))
          case Right(r) =>
            val hit = !seen.add(r)
            lock.synchronized {
              planS += (t1 - t0) / 1e9
              lookups += 1
              if (hit) { hits += 1; hitS += (t2 - t1) / 1e9 } else missS += (t2 - t1) / 1e9
            }
            OpOutcome()
        }
    }
  }

  def checks(): Seq[Check] =
    Questions.variable.map(t => Check(t.name, oracle(t.name), s"$checksDir/${t.name}"))

  def layerMetrics(opsDone: Int, opWallS: Double): Map[String, Double] = lock.synchronized {
    Map(
      "ql.plan.frac" -> share(planS, opWallS),
      "ql.hit.frac" -> share(hitS, opWallS),
      "ql.exec.frac" -> share(missS, opWallS),
      "ql.cache_hit_ratio" -> share(hits.toDouble, lookups.toDouble),
      "ql.lookups" -> lookups.toDouble / math.max(opsDone, 1))
  }
}
