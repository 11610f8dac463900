package graft

import org.apache.spark.sql.functions._

import graft.core.Sessions

/** Work-growth probe for the heavy dedup family (round-11, VERDICT r10
  * ask #3): for each query still above ~15× at the 100× canary, measure
  * whether its WORK grows superlinearly or its OUTPUT does. For
  * dd31/dd60/dd88 this prints, at base (sf0.1) and at 100×:
  *
  *   - output rows (the result the oracle gates),
  *   - the dominant intermediate's row count (shingle postings for dd31;
  *     candidate pairs after all filters for dd60/dd88),
  *
  * so the PLANS.md adjudication can say "ratio R is output/candidate
  * growth by corpus construction" with a measured number instead of an
  * assertion. Row counts, not timings — run AFTER the canary, never
  * concurrently.
  *
  * Run: `runMain graft.GrowthProbe [factor]` (default 100; the derived
  * dataset is (re)generated by ScaleCanary.derived on demand).
  */
object GrowthProbe {

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val spark = Sessions.local("spark.sql.shuffle.partitions" -> "256")

    val base = "/root/testdata/sf0.1"
    val scaled = ScaleCanary.derived(spark, factor)
    val byName = SparkEntry.all.map(q => q.name -> q.run).toMap

    // dd31 intermediate: duplicated-8-gram hit rows (the join output that
    // feeds coverage). Taken from DocPipeline's own fixture helpers so a
    // fixture change there is automatically measured here — no drift.
    def dd31Hits(dir: String): Long =
      graft.queries.DocPipeline.dd31Hits(spark, dir).count()

    def out(name: String, dir: String): Long =
      byName(name)(spark, dir).count()

    def row(metric: String, b: Long, s: Long): String = {
      System.err.println(f"[growth] $metric base=$b ${factor}x=$s ratio=${s.toDouble / b}%.1f")
      s""""$metric":{"base":$b,"${factor}x":$s,"ratio":${f"${s.toDouble / b}%.2f"}}"""
    }

    val rows = Seq(
      row("dd31_output_rows", out("dd31_substring_dedup", base),
        out("dd31_substring_dedup", scaled)),
      row("dd31_dup_hit_rows", dd31Hits(base), dd31Hits(scaled)),
      row("dd60_output_pairs", out("dd60_setsim_join", base),
        out("dd60_setsim_join", scaled)),
      row("dd88_output_pairs", out("dd88_containment_join", base),
        out("dd88_containment_join", scaled)))

    val json = s"""{"factor":$factor,"metrics":{${rows.mkString(",")}}}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("GROWTH_PROBE.json"), json)
    spark.stop()
  }
}
