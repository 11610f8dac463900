package graft.search

import java.math.RoundingMode.HALF_UP
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The BM25 kernel against a plain-Scala BM25 on a hand-built corpus, the
  * rank cut's tie order, and a source guard that keeps the kernel the one
  * place the scoring arithmetic is written. */
class Bm25Spec extends SparkTestBase {

  // df: a=2, b=3, c=2, d=1 -> the top-2 query is b, then a (a ties c on df)
  private val docs = Seq(1L -> "a b a c", 2L -> "b c", 3L -> "a a a d b")

  /** BM25 evaluated in plain Scala with the engine's rounding: each
    * contribution HALF_UP to 9 places, the exact sum to a double rounded
    * HALF_UP to 6. */
  private object Plain {
    val toks: Map[Long, Seq[String]] = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val dl: Map[Long, Long] = toks.map { case (id, ws) => id -> ws.size.toLong }
    val n: Long = docs.size.toLong
    val avgdl: Double = dl.values.map(_.toDouble).sum / n
    def df(w: String): Long = toks.count(_._2.contains(w)).toLong
    def contribution(id: Long, w: String): java.math.BigDecimal = {
      val tf = toks(id).count(_ == w).toLong
      val d = df(w)
      val idf = StrictMath.log((n.toDouble - d + 0.5) / (d + 0.5) + 1)
      val wt = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl(id) / avgdl))
      new java.math.BigDecimal(java.lang.Double.toString(wt)).setScale(9, HALF_UP)
    }
    def total(cs: Seq[java.math.BigDecimal]): Double =
      new java.math.BigDecimal(java.lang.Double.toString(
        cs.reduce(_ add _).doubleValue)).setScale(6, HALF_UP).doubleValue
  }

  test("contributions and per-doc totals equal a plain-Scala BM25 with the same rounding") {
    import spark.implicits._
    val tf = IndexMaintain.postings(docs.toDF("doc_id", "text"))
    val dl = Bm25.docLengths(tf)
    val q = Bm25.topTerms(Bm25.docFreqs(tf), 2)
    assert(q.select("w").as[String].collect().toSeq == Seq("b", "a"))

    val contrib = Bm25.contributions(tf, q, dl,
      Seq(col("doc_id"), col("w")))
    val got = contrib.as[(Long, String, java.math.BigDecimal)].collect()
      .map { case (id, w, c) => (id, w) -> c }.toMap
    val want = for ((id, ws) <- Plain.toks; w <- Seq("a", "b") if ws.contains(w))
      yield (id, w) -> Plain.contribution(id, w)
    assert(got.keySet == want.keySet)
    for ((k, c) <- want) assert(got(k).compareTo(c) == 0, s"$k: ${got(k)} vs $c")

    val totals = Bm25.docScores(contrib, "bm25").as[(Long, Double)].collect().toMap
    val wantTotals = want.groupBy(_._1._1).map { case (id, cs) => id -> Plain.total(cs.values.toSeq) }
    assert(totals == wantTotals)
  }

  test("rankTop cuts and ranks ties on the key, ascending") {
    import spark.implicits._
    val scored = Seq(5L -> 1.0, 2L -> 1.0, 9L -> 0.5, 1L -> 0.5, 7L -> 2.0).toDF("id", "s")
    val ranks = Bm25.rankTop(scored, "s", "id", 4).as[(Long, Int)].collect().toMap
    assert(ranks == Map(7L -> 1, 2L -> 2, 5L -> 3, 1L -> 4))
  }

  test("the BM25 arithmetic and the postings fold are written once") {
    val main = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(main), s"run from the repo root: ${main.toAbsolutePath}")
    val sources = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    /** One entry per occurrence of `literal`: the file it is in. */
    def where(literal: String): Seq[String] = sources.flatMap { p =>
      val n = java.util.regex.Pattern.quote(literal).r.findAllIn(Files.readString(p)).size
      Seq.fill(n)(main.relativize(p).toString)
    }.sorted
    // the idf and the length normalisation: one copy each, in the kernel
    assert(where("""log((col("n").cast("double") -""") == Seq("search/Bm25.scala"))
    assert(where("""lit(0.75) * col("dl")""") == Seq("search/Bm25.scala"))
    // postings: IndexMaintain's fold, plus DocPipeline's (doc_id, w)-keyed tf
    assert(where("""count(lit(1)).as("tf")""").filterNot(_.startsWith("search/")) ==
      Seq("queries/DocPipeline.scala"))
    assert(where("private def t(").isEmpty)
  }
}
