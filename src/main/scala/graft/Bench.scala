package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

import graft.core.{LocalFs, Sessions}

/** Benchmark main. Per VERDICT r1 findings 1-3:
  *   - forces full evaluation with a noop-format write (Catalyst cannot
  *     prune projections/sorts away as it can under a bare count()),
  *   - one warm-up pass absorbs JVM/codegen cost,
  *   - min of 3 timed runs,
  *   - failures are reported in an "errors" field, never as fake timings.
  *
  * `SPARK_GRAFT_BENCH_ONLY=a,b` times only the named queries, leaves
  * `BENCH_LOCAL.json` alone, and prints each query's per-stage table for
  * its fastest timed run to stderr — tasks, wall, max/median task time,
  * input and shuffle read/write MB — so optimization targets the measured
  * stage, not a guess.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()

    def exec(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      LocalFs.writer(fn(spark, sfDir)).format("noop").mode("overwrite").save()

    // Order-insensitivity: drop every cached/checkpointed block a query
    // left behind before timing the next one. Iterative queries
    // (localCheckpoint) and within-query caches otherwise accumulate
    // pinned blocks across the 4 passes (warmup + 3) of all ~100 queries,
    // and queries benched late read from a memory-starved executor —
    // their numbers then depend on bench ORDER, not on their plan.
    var execCount = 0
    def dropLeftoverBlocks(): Unit = {
      Sessions.release(spark)
      // Spark's ContextCleaner reaps unreferenced broadcast/shuffle state
      // only when the JVM GCs — and a large heap GCs rarely, so hundreds
      // of queries accumulate driver bookkeeping and queries benched LATE
      // inflate (measured: e5_ann_quantized 0.49s isolated vs 3.96s at
      // inventory position ~190). A periodic full GC bounds that
      // accumulation at a fixed, amortized cost.
      execCount += 1
      if (execCount % 25 == 0) System.gc()
    }

    // optional filter for isolated reruns: comma-separated query names
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.all
      .filter(q => only.forall(_.contains(q.name)))
      .map(q => q.name -> q.run)
    val errors = mutable.LinkedHashMap[String, String]()
    val stageLog = only.map { _ =>
      val l = new StageLog
      spark.sparkContext.addSparkListener(l)
      l
    }
    // query → (seconds, wall-clock window) of its fastest timed run
    val fastest = mutable.LinkedHashMap[String, (Double, Long, Long)]()

    // warm-up: one full pass (also smokes every query)
    ordered.foreach { case (name, fn) =>
      try exec(fn)
      catch { case e: Throwable => errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200) }
      dropLeftoverBlocks()
    }

    val timings = ordered.collect { case (name, fn) if !errors.contains(name) =>
      val runs = (1 to 3).map { _ =>
        val (from, t0) = (System.currentTimeMillis(), System.nanoTime())
        try { exec(fn); ((System.nanoTime() - t0) / 1e9, from, System.currentTimeMillis()) }
        catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          (Double.NaN, from, from) }
        finally dropLeftoverBlocks() // run N+1 must not pay run N's leftovers
      }.filterNot(_._1.isNaN).sortBy(_._1)
      // MIN of 3, not median: this host shows bursty hypervisor CPU steal
      // (4% average, 10x swings between identical JVM invocations —
      // measured mv_firs_full 5.1s and 69.0s for the SAME first timed
      // run), and for deterministic work the minimum is the standard
      // interference-robust estimator of plan cost. The per-run spread
      // stays on stderr so a genuinely bimodal query is still visible.
      runs.headOption.foreach(fastest(name) = _)
      val best = runs.headOption.fold(Double.NaN)(_._1)
      System.err.println(f"[bench] $name runs=${
        runs.map(r => f"${r._1}%.2f").mkString(",")}")
      name -> best
    }.filterNot(_._2.isNaN)
      // a query that failed during ANY timed run is an error, never a timing
      .filterNot { case (name, _) => errors.contains(name) }

    stageLog.foreach { log =>
      fastest.foreach { case (name, (dt, from, to)) =>
        System.err.println(f"===== $name total=$dt%.2fs =====")
        System.err.println(f"${"stage"}%6s ${"tasks"}%5s ${"wallMs"}%8s ${"maxTask"}%8s " +
          f"${"medTask"}%8s ${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s  name")
        log.submittedWithin(from, to).sortBy(-_.wallMs).foreach { r =>
          System.err.println(f"${r.id}%6d ${r.tasks}%5d ${r.wallMs}%8d ${r.taskMaxMs}%8d " +
            f"${r.taskMedMs}%8d ${r.inputMB}%8.1f ${r.shReadMB}%8.1f " +
            f"${r.shWriteMB}%8.1f  ${r.name}")
        }
      }
    }

    val line = jsonLine(timings, errors, sfDir)
    println(line)
    // Persist alongside stdout: the driver keeps only a 2000-char output
    // tail, which has truncated the JSON every round. The committed copy
    // makes round-over-round per-query diffs possible from the repo alone.
    // SPARK_GRAFT_BENCH_ONLY subset reruns do NOT overwrite the
    // full-inventory file unless an explicit BENCH_OUT names a target —
    // a 2-query iteration must never clobber the round's baseline.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("BENCH_LOCAL.json") else None)
    out.foreach { p =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line)
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not persist JSON: ${e.getMessage}") }
    }
    spark.stop()
  }

  /** The one-line JSON result: per-query best seconds, their total, and
    * each failed query's message. */
  def jsonLine(timings: Seq[(String, Double)], errors: collection.Map[String, String],
      sfDir: String): String = {
    // Locale.ROOT: f"%.4f" under a comma-decimal default locale emits
    // invalid JSON ("0,1234").
    def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    val qs = timings.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "'").replaceAll("[\\n\\r\\t]", " ") + "\""
    }.mkString("{", ",", "}")
    val total = timings.map(_._2).sum
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errJson,"n_queries":${timings.size},"sf":"$sfDir"}"""
  }

  private final case class StageRow(
      id: Int, name: String, tasks: Int, submittedMs: Long, wallMs: Long,
      taskMaxMs: Long, taskMedMs: Long,
      inputMB: Double, shReadMB: Double, shWriteMB: Double)

  /** Records a row for every completed stage. Rows are picked by
    * submission time afterwards, not by a flag flipped around the run:
    * listener events arrive asynchronously, after the action returns. */
  private final class StageLog extends SparkListener {
    private val taskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    private val rows = mutable.ArrayBuffer[StageRow]()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskMetrics != null)
        taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
          t.taskMetrics.executorRunTime
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      val ms = taskMs.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
      val wall = (for {c <- si.completionTime; s <- si.submissionTime}
        yield c - s).getOrElse(0L)
      rows += StageRow(
        si.stageId, si.name.takeWhile(_ != '\n').take(60), si.numTasks,
        si.submissionTime.getOrElse(0L), wall,
        if (ms.isEmpty) 0 else ms.last,
        if (ms.isEmpty) 0 else ms(ms.size / 2),
        si.taskMetrics.inputMetrics.bytesRead / 1e6,
        (si.taskMetrics.shuffleReadMetrics.remoteBytesRead +
          si.taskMetrics.shuffleReadMetrics.localBytesRead) / 1e6,
        si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6)
    }

    def submittedWithin(fromMs: Long, toMs: Long): Seq[StageRow] = synchronized {
      rows.filter(r => r.submittedMs >= fromMs && r.submittedMs <= toMs).toSeq
    }
  }
}
