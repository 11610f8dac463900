package perfbench

/** Per-layer metrics of a traced run, computed from the recorded spans,
  * jobs, stages and query-planning phases inside the timed window. Every
  * value is per op, a share, or a count, so workloads of different op
  * sizes read alike. Jobs and task time are reported for every program
  * module; BENCHMARK.json names the ones a run prints.
  */
object Layers {

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  final case class Result(metrics: Map[String, Double], records: Seq[String])

  def compute(
      tracer: Tracer, modules: Modules, windowStart: Long, windowEnd: Long,
      cores: Int, codegenCompiles: Long, codegenMs: Double): Result = {
    val spans = tracer.allSpans.filter(s => s.start >= windowStart && s.end <= windowEnd)
    val byId = spans.map(s => s.id -> s).toMap
    val opsRoots = spans.filter(_.parent == 0L)
    val nOps = math.max(opsRoots.size, 1).toDouble
    val opWallNs = opsRoots.map(s => (s.end - s.start).toDouble).sum
    val jobs = tracer.allJobs.filter(j => j.start >= windowStart && j.start <= windowEnd)
    val stages = tracer.allStages.filter(s => s.end >= windowStart && s.start <= windowEnd)

    // each job: parent span, module (its call site, else its SQL action's,
    // else the enclosing span's)
    val nonRoot = spans.filter(_.parent != 0L)
    val jobParent = jobs.map(j => j.id -> tracer.jobParent(j, byId, nonRoot ++ opsRoots)).toMap
    def moduleOfSpan(id: Long): String =
      byId.get(id).map(s => if (s.module == Modules.Bench && s.parent != 0L) moduleOfSpan(s.parent)
                           else s.module).getOrElse(Modules.Unknown)
    def known(m: String) = m != Modules.Bench && m != Modules.Unknown
    val jobModule = jobs.map { j =>
      j.id -> Seq(modules.ofCallSite(j.callSite), modules.ofCallSite(j.actionSite)).find(known)
        .getOrElse(moduleOfSpan(jobParent(j.id)))
    }.toMap
    // a stage belongs to the latest job that lists it and started before it
    val stageJob = stages.flatMap { s =>
      jobs.filter(j => j.stageIds.contains(s.id) && j.start <= s.start + 1000000L)
        .sortBy(-_.start).headOption.map(j => (s, j.id))
    }
    val taskMsByJob = stageJob.groupBy(_._2).map { case (j, ss) => j -> ss.map(_._1.taskMs).sum }

    // self time: span wall minus the union of its child spans and jobs
    val childIntervals: Map[Long, Seq[(Long, Long)]] =
      (spans.filter(_.parent != 0L).map(s => s.parent -> (s.start, s.end)) ++
        jobs.map(j => jobParent(j.id) -> (j.start, j.end))).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2) }
    def self(s: Span): Long =
      (s.end - s.start) - covered(childIntervals.getOrElse(s.id, Nil), s.start, s.end)
    val rootSelf = opsRoots.map(self).sum.toDouble
    // driver gap: op wall not covered by any of that op's jobs
    val jobsByOp = jobs.groupBy(j => byId.get(jobParent(j.id)).map(_.op).getOrElse(-1L))
    val gapNs = opsRoots.map { r =>
      (r.end - r.start) - covered(jobsByOp.getOrElse(r.op, Nil).map(j => (j.start, j.end)), r.start, r.end)
    }.sum.toDouble

    val taskMs = stages.map(_.taskMs).sum.toDouble
    val q = tracer.allQueries.filter(x => x.at >= windowStart && x.at <= windowEnd)
    val perModule = modules.program.flatMap { m =>
      val js = jobs.filter(j => jobModule(j.id) == m)
      Seq(s"$m.jobs" -> js.size / nOps,
        s"$m.task_frac" -> Workloads.share(js.map(j => taskMsByJob.getOrElse(j.id, 0L)).sum.toDouble, taskMs))
    }
    val metrics = Map(
      "spark.jobs" -> jobs.size / nOps,
      "spark.stages" -> stages.size / nOps,
      "spark.tasks" -> stages.map(_.tasks).sum / nOps,
      "spark.driver_gap_s" -> gapNs / 1e9 / nOps,
      "spark.task_s" -> taskMs / 1e3 / nOps,
      "spark.core_util" -> Workloads.share(taskMs * 1e6, opWallNs * cores),
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / 1e6 / nOps,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleReadBytes).sum / 1e6 / nOps,
      "spark.spill_mb" -> stages.map(_.spillBytes).sum / 1e6 / nOps,
      "spark.gc_frac" -> Workloads.share(stages.map(_.gcMs).sum.toDouble, taskMs),
      "spark.codegen_compiles" -> codegenCompiles / nOps,
      "spark.codegen.frac" -> Workloads.share(codegenMs * 1e6, opWallNs),
      "spark.analyze_ms" -> q.map(_.analyzeMs).sum / nOps,
      "spark.optimize_ms" -> q.map(_.optimizeMs).sum / nOps,
      "spark.plan_ms" -> q.map(_.planMs).sum / nOps,
      "trace.coverage" -> (if (opWallNs > 0) 1.0 - rootSelf / opWallNs else 0.0),
      "trace.spans" -> nonRoot.size / nOps) ++ perModule

    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\\x00-\\x1f]", " ")
    val records =
      spans.map(s => s"""{"kind":"span","id":${s.id},"name":"${esc(s.name)}","module":"${s.module}","parent":${s.parent},"op":${s.op},"start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s)}}""") ++
        jobs.map(j => s"""{"kind":"job","id":${j.id},"name":"${esc(j.callSite.takeWhile(_ != '\n'))}","module":"${jobModule(j.id)}","parent":${jobParent(j.id)},"start_ns":${j.start},"end_ns":${j.end},"task_ms":${taskMsByJob.getOrElse(j.id, 0L)}}""") ++
        stageJob.map { case (s, j) => s"""{"kind":"stage","id":${s.id},"name":"${esc(s.name)}","job":$j,"start_ns":${s.start},"end_ns":${s.end},"tasks":${s.tasks},"task_ms":${s.taskMs},"gc_ms":${s.gcMs},"shuffle_write_bytes":${s.shuffleWriteBytes},"shuffle_read_bytes":${s.shuffleReadBytes},"spill_bytes":${s.spillBytes}}""" }
    Result(metrics, records)
  }
}
