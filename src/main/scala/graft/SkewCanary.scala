package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.core.Sessions

/** Planted-skew canary for the capped gold MV (round-11, VERDICT r10 ask
  * #6): `mv_firs_capped` is oracle-gated on uniform data, but the POINT of
  * the two-phase salted cap is the mega-parent. This main plants
  * GoldSkewSpec's fixture at canary scale — the 10× derived lineitem plus
  * ONE synthetic parent with 10⁵ children — builds the MV capped and
  * uncapped, and measures the straggler-task spread (max/median task
  * duration over the build) with a task listener.
  *
  * Expected shape: the UNCAPPED build funnels every mega-child struct into
  * one collect_list task (max/median ≫ 1, the straggler the salt exists to
  * kill); the CAPPED build spreads phase 1 across SALT tasks, so its
  * max/median stays bounded. Output: SKEW_CANARY.json (+ stdout line).
  *
  * Run: `runMain graft.SkewCanary [megaChildren]` (default 100000).
  */
object SkewCanary {

  /** Collects every task duration between reset() and snapshot(). */
  private final class TaskTimes extends SparkListener {
    private val buf = scala.collection.mutable.ArrayBuffer[Long]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskInfo != null && t.taskInfo.successful) buf += t.taskInfo.duration
    }
    def reset(): Unit = synchronized(buf.clear())
    def snapshot(): Seq[Long] = synchronized(buf.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val megaChildren = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = Sessions.local()

    val dir = ScaleCanary.derived(spark, 10)
    val base = spark.read.parquet(s"$dir/lineitem.parquet")
    val ordersBase = spark.read.parquet(s"$dir/orders.parquet")
    // the mega-parent: one order above every replica's key range, children
    // shaped like GoldSkewSpec's fixture (FKs resolve against the 10× dims)
    val megaKey = 900000000L
    val megaOrder = spark.range(1).select(
      lit(megaKey).as("o_orderkey"), lit(1L).as("o_custkey"),
      lit("O").as("o_orderstatus"), lit(123456.0).as("o_totalprice"),
      lit("1995-03-15").cast("timestamp_ntz").as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
    val mega = spark.range(1, megaChildren + 1L).select(
      lit(megaKey).as("l_orderkey"),
      col("id").cast("int").as("l_linenumber"),
      (col("id") % 200 + 1).as("l_partkey"),
      (col("id") % 10 + 1).as("l_suppkey"),
      when(col("id") % 3 === 0, "R").when(col("id") % 3 === 1, "A")
        .otherwise("N").as("l_returnflag"),
      when(col("id") % 2 === 0, "F").otherwise("O").as("l_linestatus"),
      (col("id") % 50).cast("double").as("l_quantity"))
    val li = base.select(mega.columns.map(col).toIndexedSeq: _*).unionByName(mega)
    val orders = ordersBase.unionByName(megaOrder)

    val listener = new TaskTimes
    spark.sparkContext.addSparkListener(listener)
    def measure(label: String, cap: Int): (Double, Double, Double, Int) = {
      // warmup once (plan/codegen), then measure one cold-cache run
      def run(): Double = {
        val t0 = System.nanoTime()
        graft.queries.GoldMvFull.buildFirsFull(spark, dir, orders, li, childCap = cap)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run()
      listener.reset()
      val wall = run()
      // listenerBus is private[spark]; a short settle pause drains the
      // async task-end events before the snapshot
      Thread.sleep(1000)
      val ts = listener.snapshot().sorted
      val maxT = ts.last.toDouble / 1000.0
      val medT = ts(ts.length / 2).toDouble / 1000.0
      System.err.println(
        f"[skew] $label wall=$wall%.1fs tasks=${ts.length} max=$maxT%.2fs median=$medT%.3fs spread=${maxT / medT}%.0f")
      (wall, maxT, medT, ts.length)
    }

    val (wallU, maxU, medU, nU) = measure("uncapped", 0)
    val (wallC, maxC, medC, nC) = measure("capped", 4)
    def fmt(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val json =
      s"""{"mega_children":$megaChildren,"base":"$dir",""" +
      s""""uncapped":{"wall_sec":${fmt(wallU)},"max_task_sec":${fmt(maxU)},"median_task_sec":${fmt(medU)},"spread":${fmt(maxU / medU)},"tasks":$nU},""" +
      s""""capped":{"wall_sec":${fmt(wallC)},"max_task_sec":${fmt(maxC)},"median_task_sec":${fmt(medC)},"spread":${fmt(maxC / medC)},"tasks":$nC}}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("SKEW_CANARY.json"), json)
    spark.stop()
  }
}
