package graft

import org.apache.spark.sql.functions._

import graft.core.Tables

/** SURVEY §7.5: approx_count_distinct as the 100-TB substitute for exact
  * A3 counts where exactness isn't judged — verify the estimate lands
  * within HLL's documented error envelope against the exact answer.
  */
class ApproxSpec extends SparkTestBase {

  test("approx_count_distinct within 5% of exact on order custkeys") {
    val exact = Tables(spark, sf001, "orders")
      .agg(countDistinct(col("o_custkey"))).collect().head.getLong(0)
    val approx = Tables(spark, sf001, "orders")
      .agg(approx_count_distinct(col("o_custkey"), rsd = 0.02))
      .collect().head.getLong(0)
    val err = math.abs(approx - exact).toDouble / exact
    assert(err < 0.05, s"exact=$exact approx=$approx err=$err")
  }

  test("grouped approx counts track exact counts per priority") {
    val exact = Tables(spark, sf001, "orders")
      .groupBy("o_orderpriority").agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Tables(spark, sf001, "orders")
      .groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), rsd = 0.02).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, e) <- exact) {
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e < 0.05, s"$k exact=$e approx=$a")
    }
  }

  test("int8-quantized ANN top-3 recalls the exact cosine top-3") {
    def top3(name: String) = SparkEntry.all.find(_.name == name).get
      .run(spark, sf001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = top3("e5_ann_bruteforce")
    val quant = top3("e5_ann_quantized")
    assert(exact.keySet == quant.keySet)
    // int8 keeps ~0.8% quantization error per component; on this corpus
    // the top-3 sets should overlap heavily — require >= 2/3 on average
    val overlap = exact.keys.toSeq
      .map(q => (exact(q) & quant(q)).size.toDouble / 3).sum / exact.size
    assert(overlap >= 0.66, s"mean top-3 overlap $overlap")
  }

  test("e5_ann_recall: the reported recall IS the truth/LSH top-3 intersection") {
    val recall = SparkEntry.queries("e5_ann_recall")(spark, sf001).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(recall.nonEmpty)
    def topSets(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf001).collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val truth = topSets("e5_ann_bruteforce")
    val lsh = topSets("e5_ann_lsh")
    assert(recall.keySet == truth.keySet)
    recall.foreach { case (q, r) =>
      val inter = (truth(q) & lsh.getOrElse(q, Set.empty)).size
      assert(r.getLong(1) == truth(q).size, s"q=$q truth_k")
      assert(r.getLong(2) == inter, s"q=$q found=${r.getLong(2)} brute=$inter")
      assert(math.abs(r.getDouble(3) - inter.toDouble / truth(q).size) < 1e-6)
    }
  }
  test("dd92: HLL inclusion-exclusion matrix agrees with dd56's exact matrix") {
    val est = SparkEntry.all.find(_.name == "dd92_hll_overlap").get
      .run(spark, sf001).collect()
      .map(r => ((r.getAs[String]("source_a"), r.getAs[String]("source_b")),
        (r.getAs[Long]("shared"), r.getAs[Long]("nf_a"), r.getAs[Long]("nf_b"),
          r.getAs[Boolean]("hll_ok")))).toMap
    assert(est.nonEmpty)
    // every gate boolean must be genuinely TRUE (the oracle pins it)
    est.values.foreach { case (_, _, _, ok) => assert(ok, "hll gate violated") }
    // the exact columns must BE dd56's matrix on the same fingerprints
    val exact = SparkEntry.all.find(_.name == "dd56_source_overlap").get
      .run(spark, sf001).collect()
      .map(r => ((r.getAs[String]("source_a"), r.getAs[String]("source_b")),
        (r.getAs[Long]("shared"), r.getAs[Long]("nf_a"), r.getAs[Long]("nf_b")))).toMap
    assert(est.keySet == exact.keySet, "pair sets differ from dd56")
    est.foreach { case (k, (sh, na, nb, _)) =>
      assert(exact(k) == ((sh, na, nb)), s"pair $k differs from dd56") }
  }

  test("dd93: engine PCA matches a driver-side power-iteration replay") {
    val out = SparkEntry.all.find(_.name == "dd93_pca_power").get
      .run(spark, sf001).collect().head
    val xs = Tables(spark, sf001, "embeddings")
      .selectExpr((1 to 8).map(i => s"CAST(element_at(embedding, $i) AS DOUBLE) AS x$i"): _*)
      .collect().map(r => Array.tabulate(8)(i => r.getDouble(i)))
    val n = xs.length.toDouble
    val mean = Array.tabulate(8)(i => xs.map(_(i)).sum / n)
    val cov = Array.tabulate(8, 8)((i, j) =>
      xs.map(v => v(i) * v(j)).sum / n - mean(i) * mean(j))
    var v = Array.fill(8)(1.0 / math.sqrt(8.0))
    var lam = 0.0
    for (_ <- 1 to 8) {
      val w = Array.tabulate(8)(i => (0 until 8).map(j => cov(i)(j) * v(j)).sum)
      lam = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / lam)
    }
    val tv = (0 until 8).map(i => cov(i)(i)).sum
    assert(math.abs(out.getAs[Double]("total_var") - tv) < 1e-4)
    assert(math.abs(out.getAs[Double]("lambda1") - lam) < 1e-4,
      s"engine ${out.getAs[Double]("lambda1")} vs replay $lam")
    assert(math.abs(out.getAs[Double]("explained") - lam / tv) < 1e-3)
    // loadings align up to the (deterministic) sign: |cos(v_engine, v_ref)| ~ 1
    val ve = (1 to 8).map(i => out.getAs[Double](s"v$i"))
    val dot = ve.zip(v).map { case (a, b) => a * b }.sum
    assert(math.abs(math.abs(dot) - 1.0) < 1e-3, s"loading alignment |$dot| != 1")
  }
}
