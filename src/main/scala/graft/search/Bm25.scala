package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 (k1 = 1.2, b = 0.75) over the (w, doc_id, tf) postings relation
  * that `IndexMaintain.postings` builds — the one home of the corpus
  * statistics and the scoring arithmetic every ranked-retrieval query
  * shares.
  *
  * Float discipline: each per-posting contribution rounds to 9 places
  * into DECIMAL(28,9), so a document's sum is order-free across
  * partitions and engines; the total casts back to double and rounds to
  * 6. Nothing here caches: each query keeps the cache placement its own
  * plan needs.
  */
object Bm25 {

  /** Document length: (doc_id, dl), the summed tf of each document. */
  def docLengths(postings: DataFrame): DataFrame =
    postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))

  /** The one-row corpus statistics (n, avgdl) over `docLengths`. */
  def corpusStats(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n"), avg(col("dl").cast("double")).as("avgdl"))

  /** Document frequency: (w, df). */
  def docFreqs(postings: DataFrame): DataFrame =
    postings.groupBy(col("w")).agg(count(lit(1)).as("df"))

  /** The k highest-df terms, ties broken on the term — the deterministic
    * query the retrieval queries ask of their own corpus. */
  def topTerms(df: DataFrame, k: Int): DataFrame =
    df.orderBy(col("df").desc, col("w")).limit(k)

  /** ln((N - df + 0.5) / (df + 0.5) + 1) over the `n` column. */
  def idf(df: Column): Column =
    log((col("n").cast("double") - df + 0.5) / (df + 0.5) + 1)

  /** The unrounded BM25 weight of one posting: idf times the saturated,
    * length-normalised tf, over the tf, dl and avgdl columns. */
  def weight(df: Column): Column =
    idf(df) * (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))

  /** A contribution frozen to DECIMAL(28,9), so sums are order-free. */
  def frozen(c: Column): Column = round(c, 9).cast("decimal(28,9)")

  /** The rounded double total of frozen contributions. */
  def total(c: Column): Column = round(sum(c).cast("double"), 6)

  /** The query's postings with their frozen contribution `name`:
    * postings ⋈ broadcast(q) on w ⋈ dl on doc_id × broadcast(corpusStats(dl)).
    * `q` carries (w, df) plus any columns `keys` select besides the
    * postings' own; `keys` are the columns kept next to the contribution. */
  def contributions(postings: DataFrame, q: DataFrame, dl: DataFrame,
      keys: Seq[Column] = Seq(col("doc_id")), name: String = "c"): DataFrame =
    postings.join(broadcast(q), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpusStats(dl)))
      .select(keys :+ frozen(weight(col("df"))).as(name): _*)

  /** Per-document score `name` over a contributions frame. */
  def docScores(contrib: DataFrame, name: String): DataFrame =
    contrib.groupBy(col("doc_id")).agg(total(col("c")).as(name))

  /** Ranks 1..k of the top k rows of `scored` by `score` desc, ties broken
    * on `key` ascending: (key, rnk). No global window — the cut is a
    * distributed TakeOrdered and each rank is 1 + the rows strictly ahead,
    * counted by a broadcast inequality self-join on the k-row cut. */
  def rankTop(scored: DataFrame, score: String, key: String, k: Int): DataFrame = {
    val top = scored.orderBy(col(score).desc, col(key)).limit(k)
    val ahead = top.as("b")
      .select(col(s"b.$score").as("bs"), col(s"b.$key").as("bid"))
    top.as("a").join(broadcast(ahead),
        col("bs") > col(score) ||
          (col("bs") === col(score) && col("bid") < col(key)), "left")
      .groupBy(col(key))
      .agg((lit(1) + count(col("bid"))).cast("int").as("rnk"))
  }
}
