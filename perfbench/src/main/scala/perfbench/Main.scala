package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in a fresh session and writes what it measured.
  *
  * Usage (normally through `perfbench/run.py`):
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --run-dir DIR --launch-ms EPOCH_MS --cpus N
  *
  * Writes `<run-dir>/result.json` (timings, failures, session settings,
  * metrics, and the outputs to check with their oracle SQL), and with
  * `--trace 1` the span records in `<run-dir>/trace.jsonl`.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val data = args("data")
    val runDir = args("run-dir")
    val launchMs = args("launch-ms").toLong
    val cpus = args("cpus").toInt

    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - launchMs) / 1e3}%.1f s: $what")
    phase("JVM started")
    val tracer = new Tracer(trace)
    val spark = session(cpus, runDir)
    phase("session up")
    tracer.attach(spark)
    val modules = Modules.scan(new File("src/main/scala/graft"), new File("perfbench/src/main/scala"))
    val wl = Workloads(workload, Ctx(spark, data, runDir, seed, tracer, cpus))

    try {
      wl.setup()
      val setupS = (System.currentTimeMillis() - launchMs) / 1e3
      phase("set-up done")

      // the timed region: each client runs rounds of ops back to back
      // until the deadline; a round that has started always completes
      val codegen0 = codegenStats()
      val windowStart = Clock.now
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val next = new AtomicInteger(0)
      val latencies = mutable.ArrayBuffer[Double]()
      val failures = mutable.ArrayBuffer[String]()
      val units = new java.util.concurrent.atomic.AtomicLong(0)
      val t0 = System.nanoTime()
      def client(c: Int): Unit =
        while (System.nanoTime() < deadline) (0 until wl.roundOps(c)).foreach { _ =>
          val i = next.getAndIncrement()
          val s = System.nanoTime()
          val out =
            try tracer.op(i.toLong)(wl.op(c, i))
            catch { case e: Throwable => OpOutcome(failure = Some(s"${e.getClass.getName}: ${e.getMessage}")) }
          val took = (System.nanoTime() - s) / 1e9
          latencies.synchronized { latencies += took; failures ++= out.failure }
          if (out.failure.isEmpty) units.addAndGet(out.units)
        }
      val threads = (0 until wl.clients).map { c =>
        val t = new Thread(() => client(c), s"perfbench-client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
      val wallS = (System.nanoTime() - t0) / 1e9
      val windowEnd = Clock.now
      phase("timed region done")
      val codegen1 = codegenStats()

      // driver heap in use after a full GC at the end of the timed region;
      // the second GC collects what Spark's cleaner released after the first
      System.gc()
      Thread.sleep(500)
      System.gc()
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      val liveHeapMb = mem.getHeapMemoryUsage.getUsed / 1e6
      val persisted = spark.sparkContext.getPersistentRDDs.size

      val lat = latencies.toSeq
      val opWallS = lat.sum
      tracer.drain()
      val layers =
        if (trace) Layers.compute(tracer, modules, windowStart, windowEnd, cpus,
          codegen1._1 - codegen0._1, codegen1._2 - codegen0._2)
        else Layers.Result(Map.empty, Nil)
      val layerMetrics =
        if (trace) layers.metrics ++ wl.layerMetrics(lat.size, opWallS) +
          ("spark.persisted_rdds_end" -> persisted.toDouble)
        else Map.empty[String, Double]

      // outputs for the oracle, outside the timed region
      val checks = wl.checks()
      phase("checks written")
      if (trace) Files.write(Paths.get(runDir, "trace.jsonl"),
        (layers.records.mkString("\n") + "\n").getBytes("UTF-8"))

      val conf = spark.conf.getAll.toSeq.sorted ++ Seq(
        "jvm.max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
        "host.cores" -> Runtime.getRuntime.availableProcessors().toString)
      val result = mutable.LinkedHashMap[String, String](
        "workload" -> Json.str(workload),
        "seed" -> seed.toString,
        "trace" -> trace.toString,
        "setup_s" -> Json.num(setupS),
        "wall_s" -> Json.num(wallS),
        "clients" -> wl.clients.toString,
        "latencies_s" -> lat.map(Json.num).mkString("[", ",", "]"),
        "op_p50_s" -> (if (lat.isEmpty) "null" else Json.num(Stats.median(lat))),
        "tail" -> Stats.tailPercentile(lat.size).map(p =>
          s"""{"percentile": $p, "value_s": ${Json.num(Stats.percentile(lat, p))}}""").getOrElse("null"),
        "units" -> units.get.toString,
        "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
        "live_heap_mb" -> Json.num(liveHeapMb),
        "persisted_rdds_end" -> persisted.toString,
        "layers" -> layerMetrics.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
          .mkString("{", ",", "}"),
        "checks" -> checks.map(c =>
          s"{${Json.str("name")}: ${Json.str(c.name)}, ${Json.str("sql")}: ${Json.str(c.sql)}, " +
            s"${Json.str("path")}: ${Json.str(new File(c.path).getAbsolutePath)}}").mkString("[", ",\n", "]"),
        "session" -> conf.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
      Files.writeString(Paths.get(runDir, "result.json"),
        result.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ",\n", "}\n"))
    } finally spark.stop()
  }

  /** Cumulative (compilations, compile milliseconds) of Spark's code
    * generator. The histogram keeps a sample of recent compile times, so
    * the milliseconds are the count times the sampled mean. */
  private def codegenStats(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  /** The benchmark's session: every setting explicit and recorded. */
  def session(cpus: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // kept from the inventory bench: a generated-class cache large enough
      // for every plan, and the sort-based shuffle writer at any width
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", new File(s"$runDir/spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(s"$runDir/warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A double with every digit it has; non-finite values become null. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
