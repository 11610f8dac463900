package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.CacheScope

/** Fault injection for the versioned-state store: one failing leg of a
  * commit must surface its exception and leave everything as it was —
  * the version, the rows every accessor returns, what a restarted
  * instance recovers, and the session's persisted RDDs (no per-batch
  * cache outlives a failed batch). One case drives the store directly,
  * one each fails a leg of the gold, index and LSH maintainers.
  */
class VersionedStateSpec extends SparkTestBase {
  import spark.implicits._
  import VersionedStateSpec._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-vs-$name").toString

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** Every message on `e`'s cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  /** Runs `failing`, expecting the injected failure to surface, and
    * checks that no persisted RDD was left behind. */
  private def assertInjectedFailure(failing: => Unit): Unit = {
    val before = persisted
    val e = intercept[Exception](failing)
    assert(messages(e).contains("injected"), messages(e))
    assert(persisted == before, s"leaked persisted RDDs: ${persisted -- before}")
  }

  /** documents(doc_id, text) read from parquet (a local relation would be
    * evaluated by the optimizer), with the text of the marker doc failing
    * whenever a job computes it. */
  private def docsFailingOnMarker(docs: Seq[(Long, String)]): DataFrame = {
    val dir = tmp("docs")
    docs.toDF("doc_id", "raw").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .select(col("doc_id"), failOnMarker(col("doc_id"), col("raw")).as("text"))
  }

  test("store: a failing leg keeps the version, the rows and the recovery point") {
    val work = tmp("store")
    val store = new VersionedState(spark, work, Seq("a", "b"))
    store.reset("a" -> (() => Seq(1L).toDF("v")), "b" -> (() => Seq(10L).toDF("v")))
    assert(store.commit("a" -> (() => Seq(1L, 2L).toDF("v")),
      "b" -> (() => Seq(10L, 20L).toDF("v"))) == 1)
    val (a1, b1) = (rows(store("a")), rows(store("b")))

    assertInjectedFailure(CacheScope { scope =>
      val extra = scope.cached(Seq(3L).toDF("v"))
      val prevA = store("a")
      store.commit(
        "a" -> (() => prevA.unionByName(extra)),
        "b" -> (() => throw new IllegalStateException("injected leg failure")))
    })
    assert(store.current == 1)
    assert(rows(store("a")) == a1 && rows(store("b")) == b1)
    // leg a committed a_v2, leg b did not: v2 is torn and recovery skips it
    assert(new java.io.File(work, "a_v2/_SUCCESS").exists)
    assert(new VersionedState(spark, work, Seq("a", "b")).recover() == 1)
    // the next commit takes the torn version's number
    assert(store.commit("a" -> (() => Seq(4L).toDF("v")),
      "b" -> (() => Seq(40L).toDF("v"))) == 2)
    assert(rows(store("a")) == Set(Row(4L)))
    assert(new VersionedState(spark, work, Seq("a", "b")).recover() == 2)
  }

  test("store: a commit must write every table") {
    val store = new VersionedState(spark, tmp("partial"), Seq("a", "b"))
    intercept[IllegalArgumentException] {
      store.reset("a" -> (() => Seq(1L).toDF("v")))
    }
  }

  test("gold: a failing gold leg leaves fact and gold on the previous version") {
    val work = tmp("gold")
    def buildGold(fact: DataFrame): DataFrame =
      fact.groupBy(col("k")).agg(sum(col("v")).as("total"))
        .select(failKey(col("k")).as("k"), col("total"))
    val m = new GoldMaintainer(spark, "k", work, buildGold)
    m.init(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    m.applyBatch(Seq((2L, 25L)).toDF("k", "v"))
    val (fact, gold) = (rows(m.fact), rows(m.gold))

    assertInjectedFailure(m.applyBatch(Seq((3L, 1L), (Marker, 5L)).toDF("k", "v")))
    assert(rows(m.fact) == fact && rows(m.gold) == gold)
    assert(new GoldMaintainer(spark, "k", work, buildGold).recover() == 1)
  }

  test("index: a batch whose text fails leaves postings and index on the previous version") {
    val work = tmp("index")
    val m = new IndexMaintainer(spark, work)
    m.init(Seq((1L, "spark index spark"), (2L, "index merge")).toDF("doc_id", "text"))
    m.applyBatch(Seq((3L, "merge spark state")).toDF("doc_id", "text"))
    val (postings, index) = (rows(m.postingsState), rows(m.index))

    assertInjectedFailure(m.applyBatch(
      docsFailingOnMarker(Seq((4L, "fresh words"), (Marker, "boom words")))))
    assert(rows(m.postingsState) == postings && rows(m.index) == index)
    assert(new IndexMaintainer(spark, work).recover() == 1)
  }

  test("lsh: a batch whose text fails leaves all four tables on the previous version") {
    val work = tmp("lsh")
    val text = "the quick brown fox jumps over the lazy dog again"
    val m = new LshAdmitMaintainer(spark, work)
    m.init(Seq((1L, text)).toDF("doc_id", "text"))
    m.applyBatch(Seq((2L, "completely different words about spark shuffles")).toDF("doc_id", "text"))
    def state = Seq(m.bands, m.shinglesState, m.sizes, m.decisions).map(rows)
    val before = state

    assertInjectedFailure(m.applyBatch(
      docsFailingOnMarker(Seq((3L, text), (Marker, text)))))
    assert(state == before)
    assert(new LshAdmitMaintainer(spark, work).recover() == 1)
  }

  test("an empty batch writes no version and leaves no cache") {
    val gold = new GoldMaintainer(spark, "k", tmp("empty-gold"),
      _.groupBy(col("k")).agg(sum(col("v")).as("total")))
    gold.init(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    val index = new IndexMaintainer(spark, tmp("empty-index"))
    index.init(Seq((1L, "spark index spark"), (2L, "index merge")).toDF("doc_id", "text"))
    val lsh = new LshAdmitMaintainer(spark, tmp("empty-lsh"))
    lsh.init(Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"))
    def state = (Seq(gold.fact, gold.gold, index.postingsState, index.index,
      lsh.bands, lsh.shinglesState, lsh.sizes, lsh.decisions).map(rows),
      Seq(gold.recover(), index.recover(), lsh.recover()))
    val before = state
    val held = persisted

    gold.applyBatch(Seq.empty[(Long, Long)].toDF("k", "v"))
    index.applyBatch(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    lsh.applyBatch(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(persisted == held, s"leaked persisted RDDs: ${persisted -- held}")
    assert(state == before)
    assert(before._2 == Seq(0, 0, 0))
  }

  test("the maintainers hold no state lifecycle of their own") {
    val main = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(main), s"run from the repo root: ${main.toAbsolutePath}")
    val maintainers = Seq("GoldStream", "IndexStream", "LshAdmitStream",
      "FunnelStream", "DriftStream", "ModelStream").map(n => main.resolve(s"streaming/$n.scala")) :+
      main.resolve("search/IndexMaintain.scala")
    def hits(p: Path, pattern: String): Int = pattern.r.findAllIn(Files.readString(p)).size
    for (p <- maintainers; pattern <- Seq("""\.cache\(\)""", """\.persist\(""",
        """\.unpersist\(""", "private var version"))
      assert(hits(p, pattern) == 0, s"$pattern in $p")
    val lifecycle = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => hits(p, "dropVersions|latestCommitted") > 0).toSeq
    assert(lifecycle.map(_.getFileName.toString) == Seq("VersionedState.scala"),
      lifecycle.mkString(", "))
  }
}

/** The failing UDFs live here, not in the suite: their closures must not
  * capture the (unserializable) suite instance. */
object VersionedStateSpec {
  val Marker = 999L

  val failOnMarker = udf { (id: Long, text: String) =>
    if (id == Marker) throw new IllegalStateException(s"injected failure on $id")
    text
  }

  val failKey = udf { (k: Long) =>
    if (k == Marker) throw new IllegalStateException(s"injected failure on key $k")
    k
  }
}
