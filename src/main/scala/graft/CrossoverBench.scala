package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Sessions

/** Incremental-refresh vs full-rebuild crossover measurement.
  *
  * The incremental gold machinery (GoldIncremental + the two
  * mv_*_incremental parity rows) is proven CORRECT; this main proves it
  * is WORTH IT and finds where it stops being worth it — the number that
  * justifies replacing the reference's rebuild-3×-a-day cadence
  * (`views_refresh_sql.py:5-79`) with change-driven refresh.
  *
  * On the 10× derived dataset (ScaleCanary's generator): build gold v1
  * once and materialize it (reading the previous gold from storage is
  * part of refresh's honest cost), then for each change fraction f,
  * time `GoldIncremental.refresh` with a ~f-sized changed-key batch
  * (quantity bump on keys ≡ 0 mod 1/f) against a from-scratch
  * `buildFirsFull` of the same v2 state. Both paths write to the noop
  * sink. Note: refresh's output is the full spliced frame, so its cost
  * includes one pass over the stored gold; a production replaceWhere
  * sink would write only the touched partitions, making refresh cheaper
  * still — the measured ratios are conservative.
  *
  * Usage: `runMain graft.CrossoverBench [fractions]` — writes
  * CROSSOVER.json, e.g. `runMain graft.CrossoverBench 0.01,0.1,0.5`.
  */
object CrossoverBench {

  def main(args: Array[String]): Unit = {
    val fractions = args.headOption
      .map(_.split(",").map(_.toDouble).toSeq)
      .getOrElse(Seq(0.01, 0.05, 0.10, 0.25, 0.50))
    val spark = Sessions.local()

    val dir = ScaleCanary.derived(spark, 10)
    def tbl(n: String) = spark.read.parquet(s"$dir/$n.parquet")

    // gold v1, materialized once — refresh reads it from storage, like a
    // real maintained table
    val goldPath = "target/replay/crossover-gold"
    graft.queries.GoldMvFull
      .buildFirsFull(spark, dir, tbl("orders"), tbl("lineitem"))
      .write.mode("overwrite").parquet(goldPath)
    val goldPrev = spark.read.parquet(goldPath)

    def v2(m: Long): (DataFrame, DataFrame) = {
      val ord = tbl("orders")
      val li = tbl("lineitem").withColumn("l_quantity",
        when(col("l_orderkey") % m === 0, col("l_quantity") + 1)
          .otherwise(col("l_quantity")))
      (ord, li)
    }
    def time(mk: () => DataFrame): Double = {
      mk().write.format("noop").mode("overwrite").save(); Sessions.release(spark) // warmup
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Sessions.release(spark); dt
      }.min
    }
    def fmt(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

    // baseline: from-scratch rebuild of the (1% batch) v2 state — the
    // change rule only affects which rows the `when` bumps, not the cost
    val (ordF, liF) = v2(100L)
    val rebuild = time(() =>
      graft.queries.GoldMvFull.buildFirsFull(spark, dir, ordF, liF))
    System.err.println(f"[crossover] full rebuild: $rebuild%.2f s")

    val rows = fractions.map { f =>
      val m = math.max(1L, math.round(1.0 / f))
      val (ord, li) = v2(m)
      val t = time { () =>
        val changed = ord.select(col("o_orderkey").as("id"))
          .filter(col("id") % m === 0)
        graft.gold.GoldIncremental.refresh(goldPrev, changed, "id") { keys =>
          val k = broadcast(keys.select(col("id").as("ck")))
          graft.queries.GoldMvFull.buildFirsFull(spark, dir,
            ord.join(k, col("o_orderkey") === col("ck"), "left_semi"),
            li.join(k, col("l_orderkey") === col("ck"), "left_semi"))
        }
      }
      System.err.println(
        f"[crossover] f=$f%.2f refresh: $t%.2f s (${t / rebuild}%.2fx of rebuild)")
      s""""${fmt(f)}":{"refresh_sec":${fmt(t)},"vs_rebuild":${fmt(t / rebuild)}}"""
    }
    val json = s"""{"dataset":"$dir","rebuild_sec":${fmt(rebuild)},""" +
      s""""fractions":{${rows.mkString(",")}}}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("CROSSOVER.json"), json)
    spark.stop()
  }
}
