package graft.search

import java.math.RoundingMode.HALF_UP
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The text kernel against plain-Scala references on a hand-built corpus,
  * and a source guard that keeps each text operator written once, in the
  * kernel. */
class TextSpec extends SparkTestBase {

  // one doc shorter than every n-gram, repeated tokens, a doc that ends
  // in a repeated pair, and one longer than the 8-token fingerprint
  private val docs = Seq(
    1L -> "a b",
    2L -> "a a a a",
    3L -> "b c a b c",
    4L -> "z",
    5L -> "c a b d e f g h i j")

  private def toks(text: String): Seq[String] = text.split(" ", -1).toSeq

  /** `x` HALF_UP to 9 places, the engine's `round(x, 9)` on a double. */
  private def frozen(x: Double): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(x)).setScale(9, HALF_UP)

  /** The exact sum of frozen values, to a double HALF_UP to 6 places. */
  private def total(cs: Iterable[java.math.BigDecimal]): Double =
    new java.math.BigDecimal(java.lang.Double.toString(
      cs.reduce(_ add _).doubleValue)).setScale(6, HALF_UP).doubleValue

  test("tokenRows keeps the caller's keys; tokenArrays drops short docs") {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val rows = Text.tokenRows(df, Seq(col("doc_id")), "t").as[(Long, String)].collect()
    assert(rows.groupBy(identity).map { case (k, v) => k -> v.length } ==
      docs.flatMap { case (id, t) => toks(t).map(id -> _) }
        .groupBy(identity).map { case (k, v) => k -> v.length })
    val arrs = Text.tokenArrays(df, Seq(col("doc_id").as("id")), 3, "w")
    assert(arrs.columns.toSeq == Seq("id", "w"))
    assert(arrs.as[(Long, Seq[String])].collect().toMap ==
      docs.collect { case (id, t) if toks(t).size >= 3 => id -> toks(t) }.toMap)
    assert(df.select(size(Text.tokens(col("text")))).as[Int].collect().toSeq ==
      docs.map(d => toks(d._2).size))
  }

  test("bigrams are the adjacent pairs of each doc of at least 2 tokens") {
    import spark.implicits._
    val got = Text.tokenArrays(docs.toDF("doc_id", "text"), Seq(col("doc_id")), 2)
      .select(col("doc_id"), explode(Text.bigrams(col("arr"), "prev", "next")).as("b"))
      .select(col("doc_id"), col("b.prev"), col("b.next"))
      .as[(Long, String, String)].collect().sorted.toSeq
    val want = docs.flatMap { case (id, t) =>
      toks(t).sliding(2).collect { case Seq(a, b) => (id, a, b) }
    }.sorted
    assert(got == want)
    assert(!got.exists(_._1 == 4L))
  }

  test("shingle sets are the distinct word n-grams; short docs have none") {
    import spark.implicits._
    def plain(t: String, n: Int): Set[String] =
      toks(t).sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet
    val df = docs.toDF("doc_id", "text")
    val arr = Text.shingleArr(df)
    assert(arr.as[(Long, Seq[String])].collect().toMap.map { case (id, sh) =>
      assert(sh.distinct == sh, s"doc $id repeats a shingle: $sh")
      id -> sh.toSet
    } == docs.collect { case (id, t) if toks(t).size >= 3 => id -> plain(t, 3) }.toMap)
    assert(Text.shingles(arr).as[(Long, String)].collect().toSet ==
      docs.flatMap { case (id, t) => plain(t, 3).map(id -> _) }.toSet)
    val eights = df.select(col("doc_id"), Text.shingleSet(Text.tokens, 8).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(eights.map { case (id, s) => id -> s.toSet } ==
      docs.map { case (id, t) => id -> plain(t, 8) }.toMap)
    assert(eights(2L).isEmpty && eights(5L).size == 3)
  }

  test("bag key and fingerprint equal their plain forms") {
    import spark.implicits._
    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Text.bagKey, Text.fingerprint)
      .as[(Long, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == docs.map { case (id, t) =>
      id -> (md5(toks(t).distinct.sorted.mkString(" ")), toks(t).take(8).mkString(" "))
    }.toMap)
    // token order and repeats do not move the bag key
    assert(got(1L)._1 == md5("a b") && got(3L)._1 == md5("a b c"))
  }

  test("Gopher signals, rules and pass equal the plain rule on boundary docs") {
    import spark.implicits._
    def words(n: Int, w: String): String = Seq.fill(n)(w).mkString(" ")
    val texts = Seq(
      words(20, "abcd"), words(80, "abcde"), words(19, "abcd"), words(81, "abcd"),
      words(20, "abc"), words(20, "abcdef"),
      words(14, "abcd") + " " + words(6, "1234"), words(13, "abcd") + " " + words(7, "1234"),
      words(14, "abcd") + " " + words(6, "!?!?"), words(13, "abcd") + " " + words(7, "!?!?"))
    case class Sig(nw: Long, nc: Long, aw: Long, dw: Long)
    def plain(t: String): Sig = {
      val ws = toks(t)
      Sig(ws.size, t.count(_ != ' '), ws.count(_.exists(_.isLetter)),
        ws.count(w => w.nonEmpty && w.forall(_.isDigit)))
    }
    def rules(s: Sig): Seq[Boolean] = Seq(
      s.nw >= 20 && s.nw <= 80, s.nc >= 4 * s.nw && s.nc <= 5 * s.nw,
      10 * s.aw >= 7 * s.nw, 10 * s.dw <= 3 * s.nw)
    val sig = texts.toDF("text").select(Text.gopherSignals: _*)
    val got = sig.select((Text.gopherRules :+ Text.gopherPass).zipWithIndex
        .map { case (c, i) => c.as(s"r$i") } ++ Seq(col("nw"), col("nc"), col("aw"), col("dw")): _*)
      .collect().map(r => ((0 to 4).map(r.getBoolean), Sig(r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8)))).toSeq
    val want = texts.map { t => val s = plain(t); (rules(s) :+ rules(s).forall(identity), s) }
    assert(got == want)
    // every rule both passes and fails somewhere in the set
    for (i <- 0 to 4) assert(want.map(_._1(i)).distinct.size == 2, s"rule $i")
  }

  test("naive Bayes equals a plain add-one multinomial NB, ties to the smallest label") {
    import spark.implicits._
    // x and y see "a b" alike and have one doc each besides, so "a b" and
    // the unseen "e" tie
    val trainRows = Seq("x" -> "a b", "y" -> "a b", "x" -> "c", "y" -> "d")
    val testRows = Seq(10L -> "a b", 11L -> "c c", 12L -> "d e", 13L -> "e")
    val train = trainRows.toDF("lab", "text")
    val counts = Text.classCounts(train, "lab")
    val got = Text.naiveBayes(train, counts, testRows.toDF("doc_id", "text"), "lab", "pred")
      .as[(Long, String)].collect().toMap

    val c = trainRows.flatMap { case (l, t) => toks(t).map(l -> _) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val labels = trainRows.map(_._1).distinct.sorted
    val tl = labels.map(l => l -> c.collect { case ((`l`, _), n) => n }.sum).toMap
    val v = c.keys.map(_._2).toSet.size
    def score(l: String, t: String): java.math.BigDecimal =
      toks(t).map(w => frozen(StrictMath.log((c.getOrElse(l -> w, 0L) + 1).toDouble /
        (tl(l) + v)))).reduce(_ add _)
        .add(frozen(StrictMath.log(trainRows.count(_._1 == l).toDouble / trainRows.size)))
    val want = testRows.map { case (id, t) =>
      // max score, ties to the smallest label (labels are sorted)
      id -> labels.reduceLeft((a, b) => if (score(b, t).compareTo(score(a, t)) > 0) b else a)
    }.toMap
    assert(got == want)
    assert(score("x", "a b").compareTo(score("y", "a b")) == 0 && got(10L) == "x")
    assert(score("x", "e").compareTo(score("y", "e")) == 0 && got(13L) == "x")
    assert(got(11L) == "x" && got(12L) == "y")
  }

  test("the Dirichlet QL contribution equals the plain form, absent terms included") {
    import spark.implicits._
    val corpus = Seq(1L -> "a b a c", 2L -> "b c", 3L -> "a a a d b")
    val tf = IndexMaintain.postings(corpus.toDF("doc_id", "text"))
    val dl = Bm25.docLengths(tf)
    val tot = dl.agg(sum(col("dl")).as("t"))
    val cf = tf.groupBy(col("w")).agg(sum(col("tf")).as("cf"))
      .filter(col("w").isin("a", "d"))
    val contrib = dl.crossJoin(cf).crossJoin(tot)
      .join(tf, Seq("doc_id", "w"), "left")
      .select(col("doc_id"), col("w"), Text.dirichlet(100, col("t")).as("c"))
    val got = contrib.as[(Long, String, java.math.BigDecimal)].collect()
      .map { case (id, w, c) => (id, w) -> c }.toMap

    val ws = corpus.map { case (id, t) => id -> toks(t) }.toMap
    val t = ws.values.map(_.size).sum
    def plainCf(w: String): Long = ws.values.map(_.count(_ == w)).sum.toLong
    val want = for ((id, d) <- ws; w <- Seq("a", "d")) yield (id, w) ->
      frozen(StrictMath.log((d.count(_ == w) + 100 * (plainCf(w).toDouble / t)) /
        (d.size + 100)))
    assert(got.keySet == want.keySet)
    for ((k, c) <- want) assert(got(k).compareTo(c) == 0, s"$k: ${got(k)} vs $c")
    // doc 2 holds neither term and still scores the smoothed background
    assert(ws(2L).intersect(Seq("a", "d")).isEmpty && got(2L -> "a").signum < 0)
    val totals = Bm25.docScores(contrib, "ql").as[(Long, Double)].collect().toMap
    assert(totals == want.groupBy(_._1._1).map { case (id, cs) => id -> total(cs.values) })
  }

  private val main = Paths.get("src/main/scala/graft")

  private lazy val sources: Seq[Path] = {
    assert(Files.isDirectory(main), s"run from the repo root: ${main.toAbsolutePath}")
    Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  /** One entry per match of `regex`: the file it is in. */
  private def where(regex: String): Seq[String] = sources.flatMap { p =>
    Seq.fill(regex.r.findAllIn(Files.readString(p)).size)(main.relativize(p).toString)
  }.sorted

  private def literal(s: String): String = java.util.regex.Pattern.quote(s)

  test("each text operator is written once, in search/Text") {
    val kernel = Seq("search/Text.scala")
    // the tokenizer
    assert(where(literal("""split(col("text"), " ")""")) == kernel)
    // adjacent-pair bigrams
    assert(where("""sequence\(lit\(0\), size\([^()]*(\([^()]*\))?\) - 2\)""") == kernel)
    // distinct word-n-gram sets
    assert(where("""array_distinct\(\s*[\w.]*ngrams_native""") == kernel)
    // the bag-of-words key and the first-8-token fingerprint
    assert(where(literal("md5(array_join(array_sort(array_distinct(")) == kernel)
    assert(where("""slice\([^\n]*, 1, 8\), " "\)""") == kernel)
    // the Gopher alpha-word filter and rule
    assert(where(literal("""rlike("[A-Za-z]")""")) == kernel)
    assert(where(literal("""col("aw") * 10 >=""")) == kernel)
    // the add-one NB smoothing and the Dirichlet `+ mu *` term
    assert(where(literal("""coalesce(col("c"), lit(0L)) + 1""")) == kernel)
    assert(where("""coalesce\(col\("tf"\), lit\(0L?\)\) \+\s*lit\(\w+(\.0)?\) \*""") == kernel)
  }

  test("whitespace splits outside the kernel are the named non-document ones") {
    // Entity names (part names, cascade tokens, mandals, codes) are split
    // for blocking keys and overlaps, not tokenized as documents; their
    // columns are not `text` and their oracles split them the same way.
    val exceptions = Set("queries/AnnSearch.scala", "queries/Cascades.scala",
      "queries/Resolve.scala", "queries/TextOps.scala")
    val splits = where("""\bsplit\([^\n]*, " "\)""").filterNot(_ == "search/Text.scala")
    assert(splits.toSet == exceptions, splits)
    // dd31's positioned 8-grams are keyed on (g1, g2) by position, not a
    // set, and stay in DocPipeline
    assert(where(literal("""xxhash64(col("p.gs"))""")) == Seq("queries/DocPipeline.scala"))
  }

  test("search/ and the LSH admission maintainer never reach into graft.queries") {
    val searchAndLsh = sources.filter { p =>
      val rel = main.relativize(p).toString
      rel.startsWith("search/") || rel == "streaming/LshAdmitStream.scala"
    }
    assert(searchAndLsh.size >= 4)
    for (p <- searchAndLsh) {
      val src = Files.readString(p)
      assert(!src.contains("graft.queries") && !src.contains("import graft._"),
        s"${main.relativize(p)} references graft.queries")
    }
  }
}
