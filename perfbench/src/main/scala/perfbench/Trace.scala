package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch time in nanoseconds with `System.nanoTime` resolution, so spans
  * (nanoTime) and listener events (epoch milliseconds) share one clock. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now: Long = baseEpochNs + (System.nanoTime() - baseNano)
  def ofMillis(ms: Long): Long = ms * 1000000L
}

/** One traced interval. `parent` is 0 for an op's root span; `op` groups
  * the spans of one op. `detail` carries the SQL text of a QL execution,
  * which is how that span's jobs are found (see [[Tracer.jobParent]]). */
final case class Span(
    id: Long, name: String, module: String, parent: Long, op: Long,
    start: Long, end: Long, detail: String = "")

/** `callSite` is the job's own (short and long form); `actionSite` is the
  * long call site of the SQL action the job belongs to, which is the only
  * useful one for jobs that adaptive execution submits from its own
  * threads (their own call site names a `CompletableFuture` frame). */
final case class JobRec(
    id: Int, start: Long, end: Long, stageIds: Seq[Int], callSite: String,
    spanProp: Long, description: String, actionSite: String)

final case class StageRec(
    id: Int, name: String, start: Long, end: Long, tasks: Int,
    taskMs: Long, gcMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    spillBytes: Long)

final case class QueryRec(at: Long, analyzeMs: Double, optimizeMs: Double, planMs: Double)

/** In-memory span recorder plus the Spark listeners of a traced run.
  *
  * Spans are opened around the benchmark's calls into program modules;
  * the current span id rides on the thread as a Spark local property, so
  * jobs submitted by that thread (and by pool threads it creates, such as
  * `Par.run`'s) can be tied back to it. When tracing is off, [[span]]
  * only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val actionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  // (span id, op id); inheritable, so the threads `Par.run` starts inside
  // an op open their spans under that op
  private val stack = new InheritableThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  @volatile private var spark: SparkSession = _

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[JobRec] = jobs.asScala.toSeq
  def allStages: Seq[StageRec] = stages.asScala.toSeq
  def allQueries: Seq[QueryRec] = queries.asScala.toSeq

  /** Run `body` as the root span of op `op`. */
  def op[T](op: Long)(body: => T): T = record("op", Modules.Bench, op, root = true, "")(body)

  /** Run `body` inside a span of `module`, child of the thread's current span. */
  def span[T](module: String, name: String, detail: String = "")(body: => T): T =
    stack.get() match {
      case (_, op) :: _ => record(name, module, op, root = false, detail)(body)
      case Nil => record(name, module, 0L, root = false, detail)(body)
    }

  private def record[T](name: String, module: String, op: Long, root: Boolean,
      detail: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val parent = if (root) 0L else outer.headOption.map(_._1).getOrElse(0L)
      val id = ids.incrementAndGet()
      stack.set((id, op) :: outer)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val start = Clock.now
      try body
      finally {
        spans.add(Span(id, name, module, parent, op, start, Clock.now, detail))
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
        stack.set(outer)
      }
    }

  /** Register the listeners (traced runs only). */
  def attach(session: SparkSession): Unit = {
    spark = session
    if (enabled) {
      session.sparkContext.addSparkListener(new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            actionSites.put(x.executionId, x.details)
          case _ =>
        }
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val props = Option(e.properties)
          def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
          val last = e.stageInfos.sortBy(_.stageId).lastOption
          val site = last.map(s => s"${s.name}\n${s.details}").getOrElse("")
          jobStarts.put(e.jobId, JobRec(e.jobId, Clock.ofMillis(e.time), 0L,
            e.stageIds, site,
            prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L),
            prop("spark.job.description").getOrElse(""),
            prop("spark.sql.execution.id").flatMap(id => Option(actionSites.get(id.toLong)))
              .getOrElse("")))
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          Option(jobStarts.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = Clock.ofMillis(e.time))))
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val s = e.stageInfo
          val m = Option(s.taskMetrics)
          stages.add(StageRec(s.stageId, s.name,
            Clock.ofMillis(s.submissionTime.getOrElse(0L)),
            Clock.ofMillis(s.completionTime.getOrElse(0L)), s.numTasks,
            m.map(_.executorRunTime).getOrElse(0L), m.map(_.jvmGCTime).getOrElse(0L),
            m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
            m.map(x => x.shuffleReadMetrics.localBytesRead + x.shuffleReadMetrics.remoteBytesRead)
              .getOrElse(0L),
            m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)))
        }
      })
      session.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          note(qe)
        override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
          note(qe)
        private def note(qe: QueryExecution): Unit = {
          val ph = qe.tracker.phases
          def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
          val at = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
          queries.add(QueryRec(Clock.ofMillis(at), ms("analysis"), ms("optimization"), ms("planning")))
        }
      })
    }
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.waitUntilEmpty(spark.sparkContext)

  /** The span a job belongs to: the span whose id the submitting thread
    * carried, if that span was open when the job started; otherwise the
    * QL execution span with the job's SQL as its detail; otherwise the
    * innermost span open at the job's start. 0 when no span was open. */
  def jobParent(j: JobRec, byId: Map[Long, Span], open: Seq[Span]): Long = {
    def covers(s: Span) = s.start <= j.start && j.start <= s.end
    byId.get(j.spanProp).filter(covers).map(_.id)
      .orElse(open.find(s => s.detail.nonEmpty && covers(s) &&
        j.description.nonEmpty && s.detail.startsWith(j.description)).map(_.id))
      .orElse(open.filter(covers).sortBy(-_.start).headOption.map(_.id))
      .getOrElse(0L)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
