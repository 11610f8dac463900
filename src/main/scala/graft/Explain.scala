package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

import graft.core.{LocalFs, Sessions}

/** Plan-audit helper.
  * `runMain graft.Explain [sfDir] [name ...]` — formatted physical plan
  * for the named queries (or all).
  * `runMain graft.Explain --summary [sfDir]` — one markdown table row per
  * query: exchange / broadcast / scan / pushed-filter counts from the
  * FINAL adaptive plan (each query is executed first — AQE hides the
  * exchanges until then), the shuffle-discipline inventory behind
  * PLANS.md.
  */
object Explain {

  /** Expand the executed plan through AQE wrappers, query stages, and
    * exchange reuse so counts reflect what actually ran. Shared with
    * PlanAssertionSpec's tree-walking pins. */
  private[graft] def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: children.flatMap(flatten)
  }

  def main(args: Array[String]): Unit = {
    val summary = args.contains("--summary")
    val fallbacks = args.contains("--fallbacks")
    val rest = args.filterNot(a => a == "--summary" || a == "--fallbacks")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names = rest.drop(1).toSet
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val picked = SparkEntry.all.filter(q => names.isEmpty || names.contains(q.name))
    if (fallbacks) {
      // Interpreted-expression audit (guide "expressions and codegen"):
      // every CodegenFallback expression in a FINAL adaptive plan
      // evaluates row-at-a-time through the interpreter even inside a
      // WholeStageCodegen stage. One row per query with the distinct
      // fallback expression classes, so the hot interpreted surfaces are
      // enumerable instead of guessed at (VERDICT r11 what's-wrong #3).
      import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
      picked.foreach { q =>
        try {
          val df = q.run(spark, sfDir)
          LocalFs.writer(df).mode("overwrite").format("noop").save()
          val nodes = flatten(df.queryExecution.executedPlan)
          val fb = nodes.flatMap(_.expressions).flatMap(_.collect {
            case f: CodegenFallback => f.getClass.getSimpleName
          }).distinct.sorted
          if (fb.nonEmpty) println(s"${q.name}: ${fb.mkString(", ")}")
        } catch { case e: Throwable =>
          println(s"${q.name}: ERROR ${e.getMessage.take(100)}")
        } finally Sessions.release(spark)
      }
    } else if (summary) {
      println("| query | shuffles | single-part | broadcasts | scans | pushed-filter scans |")
      println("|---|---|---|---|---|---|")
      picked.foreach { q =>
        val df = q.run(spark, sfDir)
        LocalFs.writer(df).mode("overwrite").format("noop").save()
        val nodes = flatten(df.queryExecution.executedPlan)
        val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
        val single = shuffles.count(_.outputPartitioning.numPartitions == 1)
        val bcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
        val fileScans = nodes.collect { case f: FileSourceScanExec => f }
        val scans = fileScans.length + nodes.count(_.isInstanceOf[RDDScanExec])
        val pushed = fileScans.count(
          _.metadata.get("PushedFilters").exists(v => v != "[]"))
        println(s"| ${q.name} | ${shuffles.length - single} | $single | " +
          s"$bcasts | $scans | $pushed |")
        Sessions.release(spark)
      }
    } else {
      plans(spark, sfDir, picked).foreach { case (name, plan) =>
        println(s"===== $name =====")
        println(plan)
      }
    }
    spark.stop()
  }

  /** The formatted physical plan of each query, in order, rendered one
    * at a time. The caches a query builds are released once its plan is
    * rendered, so a plan does not depend on the queries named before it. */
  def plans(spark: SparkSession, sfDir: String,
      queries: Seq[QueryDef]): Iterator[(String, String)] =
    queries.iterator.map { q =>
      try q.name -> q.run(spark, sfDir).queryExecution.explainString(FormattedMode)
      finally Sessions.release(spark)
    }
}
