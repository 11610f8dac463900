package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.streaming.{GoldMaintainer, IndexMaintainer, LshAdmitMaintainer}

import Workloads._

/** Micro-batch replay through the three versioned-state maintainers: the
  * stream step of each [[MasterRefresh]] cycle.
  *
  * A seeded schedule splits `lineitem` parents and `documents` into an
  * initial state (built in set-up) and many small batches. A round applies
  * one batch to each of the three maintainers (gold, index, LSH
  * admission), the three at once through `Par.run`:
  *   - gold: inserts of new parents, or (a seeded quarter) whole-parent
  *     updates that raise every child's quantity by one more;
  *   - index: inserts of new documents, or whole-document re-texts that
  *     append one more " refreshed";
  *   - LSH: new documents, or near-duplicate variants of admitted ones
  *     (the first three words dropped).
  * The final states are checked against DuckDB building them in one pass
  * over the final inputs, which the run writes out next to them.
  */
final class StreamReplay(ctx: Ctx) {
  import ctx._
  private val rnd = new Random(seed)
  private val GoldBatch = 400 // parents
  private val DocBatch = 60
  private val UpdateShare = 0.25
  private val VariantShare = 0.3

  private val work = s"$runDir/stream"
  private lazy val li = Tables(spark, data, "lineitem").select(
    col("l_orderkey"), col("l_quantity").cast("long").as("qty"),
    col("l_returnflag"), col("l_extendedprice"))
  private lazy val docs = Tables(spark, data, "documents").select(col("doc_id"), col("text"))

  private def buildGold(fact: DataFrame): DataFrame = fact.groupBy(col("l_orderkey"))
    .agg(count(lit(1)).as("n_items"),
      sum(col("qty")).cast("long").as("qty_tot"),
      sum(when(col("l_returnflag") === "R", 1).otherwise(0)).cast("long").as("n_returned"),
      floor(max(col("l_extendedprice"))).cast("long").as("max_price"))

  private lazy val gold = new GoldMaintainer(spark, "l_orderkey", s"$work/gold", buildGold)
  private lazy val index = new IndexMaintainer(spark, s"$work/index")
  private lazy val lsh = new LshAdmitMaintainer(spark, s"$work/lsh")

  // schedule state: pending keys, applied keys with their update count
  private var childRows: Map[Long, Long] = Map.empty
  private val goldPending = mutable.Queue[Long]()
  private val goldBump = mutable.LinkedHashMap[Long, Int]()
  private val idxPending = mutable.Queue[Long]()
  private val idxBump = mutable.LinkedHashMap[Long, Int]()
  private val lshPending = mutable.Queue[Long]()
  private val lshCorpus = mutable.ArrayBuffer[(Long, Long, Int)]() // (doc_id, source doc, batch)
  private val lshSources = mutable.ArrayBuffer[Long]()
  private val variants = mutable.Map[Long, Int]().withDefaultValue(0)
  private var lshBatch = 0

  private val applyS = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def keys(name: String, ks: Iterable[(Long, Int)]): DataFrame = {
    val s = spark
    import s.implicits._
    broadcast(ks.toSeq.toDF(name, "bump"))
  }

  private def goldRows(ks: Iterable[(Long, Int)]): DataFrame =
    li.join(keys("l_orderkey", ks), "l_orderkey")
      .select(col("l_orderkey"), (col("qty") + col("bump")).as("qty"),
        col("l_returnflag"), col("l_extendedprice"))

  private def docRows(ks: Iterable[(Long, Int)]): DataFrame =
    docs.join(keys("doc_id", ks), "doc_id")
      .select(col("doc_id"), concat(col("text"), repeat(lit(" refreshed"), col("bump"))).as("text"))

  private def lshRows(entries: Seq[(Long, Long, Int)]): DataFrame = {
    val s = spark
    import s.implicits._
    val m = broadcast(entries.map { case (id, src, _) => (id, src) }.toDF("doc_id", "src"))
    docs.join(m, docs("doc_id") === m("src"))
      .select(m("doc_id"),
        when(m("doc_id") === m("src"), docs("text"))
          .otherwise(regexp_replace(docs("text"), "^(\\w+ ){3}", "")).as("text"))
  }

  def setup(): Unit = {
    childRows = li.groupBy("l_orderkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // initial states: a tenth of the parents and documents
    val parents = rnd.shuffle(childRows.keys.toSeq.sorted)
    val (g0, gRest) = parents.splitAt(parents.size / 10)
    goldPending ++= gRest
    val docIds = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ds = rnd.shuffle(docIds)
    val (i0, iRest) = ds.splitAt(ds.size / 10)
    idxPending ++= iRest
    val ls = rnd.shuffle(docIds)
    val (l0, lRest) = ls.splitAt(ls.size / 10)
    lshPending ++= lRest
    g0.foreach(goldBump(_) = 0)
    i0.foreach(idxBump(_) = 0)
    l0.foreach { d => lshCorpus += ((d, d, 0)); lshSources += d }
    // the three maintainers are independent: build their states at once
    graft.core.Par.run(
      () => gold.init(goldRows(g0.map(_ -> 0))),
      () => index.init(docRows(i0.map(_ -> 0))),
      () => lsh.init(lshRows(lshCorpus.toSeq)))
    // warm-up: one round
    applyRound()
    applyS.clear()
  }

  /** Draw `n` distinct applied keys at random. */
  private def sample(from: Iterable[Long], n: Int): Seq[Long] =
    rnd.shuffle(from.toSeq).take(n)

  /** The next batch of maintainer `m`: (maintainer, rows, apply). Drawing
    * is sequential (it advances the seeded schedule); applying is not. */
  private def plan(m: Int): (String, Long, () => Unit) = m match {
    case 0 =>
      val update = goldPending.isEmpty || rnd.nextDouble() < UpdateShare
      val ks =
        if (update) sample(goldBump.keys, GoldBatch)
        else Seq.fill(math.min(GoldBatch, goldPending.size))(goldPending.dequeue())
      ks.foreach(k => goldBump(k) = goldBump.getOrElse(k, -1) + 1)
      val batch = goldRows(ks.map(k => k -> goldBump(k)))
      ("gold", ks.map(childRows).sum,
        () => tracer.span("streaming", "streaming.gold_apply")(gold.applyBatch(batch)))
    case 1 =>
      val update = idxPending.isEmpty || rnd.nextDouble() < UpdateShare
      val ks =
        if (update) sample(idxBump.keys, DocBatch)
        else Seq.fill(math.min(DocBatch, idxPending.size))(idxPending.dequeue())
      ks.foreach(k => idxBump(k) = idxBump.getOrElse(k, -1) + 1)
      val batch = docRows(ks.map(k => k -> idxBump(k)))
      ("index", ks.size.toLong,
        () => tracer.span("streaming", "streaming.index_apply")(index.applyBatch(batch)))
    case _ =>
      lshBatch += 1
      val variant = lshPending.isEmpty || rnd.nextDouble() < VariantShare
      val entries =
        if (variant) sample(lshSources, DocBatch).map { src =>
          variants(src) += 1
          (src + 10000L * variants(src), src, lshBatch)
        }
        else Seq.fill(math.min(DocBatch, lshPending.size))(lshPending.dequeue())
          .map(d => (d, d, lshBatch))
      lshCorpus ++= entries
      entries.foreach { case (id, src, _) => if (id == src) lshSources += id }
      val batch = lshRows(entries)
      ("lsh", entries.size.toLong,
        () => tracer.span("streaming", "streaming.lsh_apply")(lsh.applyBatch(batch)))
  }

  /** One batch per maintainer, drawn in order and applied at once;
    * returns the rows applied. */
  def applyRound(): Long = {
    val batches = (0 until 3).map(plan)
    graft.core.Par.run(batches.map { case (kind, _, apply) =>
      () => {
        val t0 = System.nanoTime()
        apply()
        val s = (System.nanoTime() - t0) / 1e9
        applyS.synchronized(applyS(kind) += s)
      }
    }: _*)
    batches.map(_._2).sum
  }

  def checks(): Seq[Check] = {
    val s = spark
    import s.implicits._
    val inputs = s"$runDir/stream_inputs"
    goldBump.toSeq.toDF("l_orderkey", "bump").repartition(1).write.mode("overwrite")
      .parquet(s"$inputs/gold_applied")
    idxBump.toSeq.toDF("doc_id", "bump").repartition(1).write.mode("overwrite")
      .parquet(s"$inputs/index_applied")
    lshRows(lshCorpus.toSeq)
      .join(lshCorpus.toSeq.map { case (id, _, b) => (id, b) }.toDF("doc_id", "b"), "doc_id")
      .repartition(1).write.mode("overwrite").parquet(s"$inputs/lsh_corpus")
    val abs = new File(inputs).getAbsolutePath
    def out(name: String, df: DataFrame) = {
      df.write.mode("overwrite").parquet(s"$runDir/stream_out/$name")
      s"$runDir/stream_out/$name"
    }
    Seq(
      Check("stream_gold", StreamReplay.goldOracle(s"$abs/gold_applied"), out("stream_gold", gold.gold)),
      Check("stream_index", StreamReplay.indexOracle(s"$abs/index_applied"), out("stream_index", index.index)),
      Check("stream_lsh", StreamReplay.lshOracle(s"$abs/lsh_corpus"), out("stream_lsh", lsh.decisions)))
  }

  private def dirStats(root: File): (Long, Long) = // (files, bytes)
    Option(root.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) dirStats(f) else (1L, f.length())
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def layerMetrics(opWallS: Double): Map[String, Double] = {
    // files of each state table's latest version
    val latest = Option(new File(work).listFiles()).toSeq.flatten.flatMap { m =>
      Option(m.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .groupBy(_.getName.replaceAll("_v\\d+$", ""))
        .values.map(_.maxBy(_.getName.replaceAll("^.*_v", "").toInt))
    }
    Map(
      "streaming.gold_apply.frac" -> share(applyS("gold"), opWallS),
      "streaming.index_apply.frac" -> share(applyS("index"), opWallS),
      "streaming.lsh_apply.frac" -> share(applyS("lsh"), opWallS),
      "streaming.state_files" -> latest.map(d => dirStats(d)._1.toDouble).sum,
      "streaming.state_mb" -> dirStats(new File(work))._2 / 1e6)
  }
}

object StreamReplay {
  def goldOracle(applied: String): String = s"""
    WITH fact AS (
      SELECT l.l_orderkey, CAST(l.l_quantity AS BIGINT) + a.bump AS qty,
             l.l_returnflag, l.l_extendedprice
      FROM lineitem l JOIN read_parquet('$applied/*.parquet') a
        ON l.l_orderkey = a.l_orderkey
    )
    SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(qty) AS BIGINT) AS qty_tot,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
           CAST(floor(max(l_extendedprice)) AS BIGINT) AS max_price
    FROM fact GROUP BY l_orderkey"""

  def indexOracle(applied: String): String = s"""
    WITH corpus AS (
      SELECT d.doc_id, d.text || repeat(' refreshed', CAST(a.bump AS INTEGER)) AS text
      FROM documents d JOIN read_parquet('$applied/*.parquet') a ON d.doc_id = a.doc_id
    ),
    post AS (
      SELECT w, doc_id, count(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
      GROUP BY w, doc_id
    ),
    rn AS (
      SELECT w, doc_id, tf,
             ROW_NUMBER() OVER (PARTITION BY w ORDER BY tf DESC, doc_id) AS rn
      FROM post
    )
    SELECT w AS term, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf,
           string_agg(CASE WHEN rn <= 3 THEN doc_id || ':' || tf END,
                      ',' ORDER BY rn) AS posting_head
    FROM rn GROUP BY w HAVING count(*) >= 2"""

  /** The LSH admission gate's stratified SQL over the replayed corpus:
    * a document's candidates are the documents of strictly earlier
    * batches (batch 0 is the initial state). */
  def lshOracle(corpus: String): String = {
    val base = oracle("st_lsh_admission_parity")
    val start = base.indexOf("corpus AS (")
    val end = base.indexOf("tok AS (")
    require(start >= 0 && end > start, "st_lsh_admission_parity oracle changed shape")
    base.substring(0, start) +
      s"corpus AS (SELECT doc_id, text, b FROM read_parquet('$corpus/*.parquet')),\n        " +
      base.substring(end)
  }
}
