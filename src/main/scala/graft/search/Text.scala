package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions.ngrams_native

/** The text operators the document-curation and retrieval queries share:
  * the whitespace tokenizer, token rows and arrays, adjacent-pair bigrams,
  * distinct word-3-gram shingle sets, the bag-of-words and first-8-token
  * keys, the Gopher shape signals and rule, the add-one multinomial naive
  * Bayes classifier and the Dirichlet query-likelihood contribution.
  *
  * Each function builds the Catalyst expression its callers used to spell
  * out, so their plans are unchanged. Output names are parameters wherever
  * the callers differ, since an alias shows in the plan. As in [[Bm25]],
  * nothing here caches: each query keeps the cache placement its own plan
  * needs.
  */
object Text {

  /** The tokens of the `text` column: split on single spaces. */
  def tokens: Column = split(col("text"), " ")

  /** The tokens of another string column, split the same way. */
  def tokens(c: Column): Column = split(c, " ")

  /** One row per token of each doc, `keys` kept beside the token `w`. */
  def tokenRows(docs: DataFrame, keys: Seq[Column], w: String = "w"): DataFrame =
    docs.select(keys :+ explode(tokens).as(w): _*)

  /** Docs of at least `minLen` tokens: `keys` beside the token array `as`. */
  def tokenArrays(docs: DataFrame, keys: Seq[Column], minLen: Int,
      as: String = "arr"): DataFrame =
    docs.select(keys :+ tokens.as(as): _*).filter(size(col(as)) >= minLen)

  /** The adjacent token pairs of the array `arr`, as structs (`first`,
    * `second`), by index rather than a lead() window, so the pass is
    * narrow. `arr` must hold at least 2 tokens (`tokenArrays(docs, keys,
    * 2)`): for one token the index sequence 0..-1 counts down. */
  def bigrams(arr: Column, first: String, second: String): Column =
    transform(sequence(lit(0), size(arr) - 2),
      i => struct(element_at(arr, i + 1).as(first),
        element_at(arr, i + 2).as(second)))

  /** The distinct word-n-gram shingles of the token array `arr`. */
  def shingleSet(arr: Column, n: Int = 3): Column = array_distinct(ngrams_native(arr, n))

  /** Per-doc distinct word-3-gram shingle array (doc_id, shArr) of the
    * docs of at least 3 tokens. Built by array index rather than a lead()
    * window and deduped with array_distinct rather than a global
    * distinct: both stay narrow, where the window and distinct forms each
    * shuffle every (doc, shingle) row. */
  def shingleArr(docs: DataFrame): DataFrame =
    tokenArrays(docs, Seq(col("doc_id")), 3)
      .select(col("doc_id"), shingleSet(col("arr")).as("shArr"))

  /** The (doc_id, sh) rows of a [[shingleArr]] frame: distinct within
    * each doc, so identical to a global distinct (doc_id is part of the
    * key). */
  def shingles(shArr: DataFrame): DataFrame =
    shArr.select(col("doc_id"), explode(col("shArr")).as("sh"))

  /** The bag-of-words key of the `text` column: md5 over the sorted
    * distinct tokens. */
  def bagKey: Column = bagKey(tokens)

  /** The bag-of-words key of a token array. */
  def bagKey(arr: Column): Column = md5(array_join(array_sort(array_distinct(arr)), " "))

  /** The first-8-token fingerprint. */
  def fingerprint: Column = array_join(slice(tokens, 1, 8), " ")

  /** The Gopher shape signals (Rae et al. 2021), all long: words `nw`,
    * non-space characters `nc`, words with a letter `aw` and all-digit
    * words `dw`. */
  def gopherSignals: Seq[Column] = Seq(
    size(tokens).cast("long").as("nw"),
    length(regexp_replace(col("text"), " ", "")).cast("long").as("nc"),
    size(filter(tokens, w => w.rlike("[A-Za-z]"))).cast("long").as("aw"),
    size(filter(tokens, w => w.rlike("^[0-9]+$"))).cast("long").as("dw"))

  /** The Gopher shape checks over the signals, ratios in integer
    * cross-multiplied form (10*aw >= 7*nw, not aw/nw >= 0.7) so a doc on a
    * boundary falls on the same side in every engine: 20-80 words, mean
    * word length 4-5 (lower and upper bound), >= 70% words with a letter,
    * <= 30% all-digit words. */
  private def gopherChecks: Seq[Column] = Seq(
    col("nw").between(20, 80),
    col("nc") >= col("nw") * 4, col("nc") <= col("nw") * 5,
    col("aw") * 10 >= col("nw") * 7,
    col("dw") * 10 <= col("nw") * 3)

  /** The four Gopher rules, each true when a doc passes it: word count,
    * mean word length, alpha ratio, numeric ratio. */
  def gopherRules: Seq[Column] = {
    val Seq(wc, lo, hi, alpha, num) = gopherChecks
    Seq(wc, lo && hi, alpha, num)
  }

  /** True when a doc passes all four Gopher rules. */
  def gopherPass: Column = gopherChecks.reduce(_ && _)

  /** The per-class token counts (`label`, w, c) of the labelled training
    * docs (`label`, text): the multinomial naive-Bayes model. */
  def classCounts(train: DataFrame, label: String): DataFrame =
    tokenRows(train, Seq(col(label)))
      .groupBy(col(label), col("w")).agg(count(lit(1)).as("c"))

  /** Add-one multinomial naive Bayes: each `test` doc (doc_id, text) gets
    * the class of `counts` (from [[classCounts]] over `train`) with the
    * highest log prior + summed log likelihood, ties to the smallest
    * label, as (doc_id, `predicted`). Each per-token log and the prior
    * round to 9 places into DECIMAL(28,9), so the sums are order-free.
    * The class totals and the vocabulary size broadcast; the test token
    * stream never shuffles until the (doc, class) rollup. */
  def naiveBayes(train: DataFrame, counts: DataFrame, test: DataFrame,
      label: String, predicted: String): DataFrame = {
    val tokl = counts.groupBy(col(label)).agg(sum(col("c")).as("tl"))
    val v = counts.agg(countDistinct(col("w")).as("v"))
    val nTrain = train.agg(count(lit(1)).as("td"))
    val pri = train.groupBy(col(label)).agg(count(lit(1)).as("dl"))
      .crossJoin(broadcast(nTrain))
      .select(col(label), Bm25.frozen(log(col("dl").cast("double") / col("td"))).as("lp"))
    val contrib = tokenRows(test, Seq(col("doc_id")))
      .crossJoin(broadcast(tokl))
      .crossJoin(broadcast(v))
      .join(broadcast(counts.select(col(label), col("w"), col("c"))),
        Seq(label, "w"), "left")
      .select(col("doc_id"), col(label),
        Bm25.frozen(log((coalesce(col("c"), lit(0L)) + 1) /
          (col("tl") + col("v")).cast("double"))).as("lc"))
    val scored = contrib.groupBy(col("doc_id"), col(label))
      .agg(sum(col("lc")).cast("decimal(28,9)").as("s0"))
      .join(broadcast(pri), Seq(label))
      .select(col("doc_id"), col(label), (col("s0") + col("lp")).as("score"))
    val wd = Window.partitionBy("doc_id").orderBy(col("score").desc, col(label))
    scored.withColumn("rn", row_number().over(wd)).filter(col("rn") === 1)
      .select(col("doc_id"), col(label).as(predicted))
  }

  /** The Dirichlet-smoothed query-likelihood contribution of one (doc,
    * query term), frozen like a BM25 contribution:
    * ln((tf + mu * (cf / total)) / (dl + mu)), over the tf, dl and cf
    * columns. A term absent from the doc (null tf) counts 0, so it still
    * contributes the smoothed background mass. */
  def dirichlet(mu: Int, total: Column): Column =
    Bm25.frozen(log((coalesce(col("tf"), lit(0L)) +
      lit(mu) * (col("cf") / total.cast("double"))) / (col("dl") + lit(mu))))
}
