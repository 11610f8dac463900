package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.CacheScope

/** Incremental index maintenance ≡ from-scratch rebuild, on a delta that
  * exercises every interesting transition: brand-new docs, replaced
  * docs, terms that vanish, terms whose df crosses the threshold in both
  * directions, and posting heads whose top-3 changes.
  */
class IndexMaintainSpec extends SparkTestBase {

  private def corpus: DataFrame =
    spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")

  test("incremental refresh equals full rebuild after a mixed new+update delta") {
    import spark.implicits._
    val base = corpus.cache()
    val basePostings = IndexMaintain.postings(base).cache()
    val baseIndex = IndexMaintain.buildIndex(basePostings).cache()

    // delta: 3 replaced docs (ids from the corpus, fresh text that removes
    // their old vocabulary) + 2 brand-new docs; 'zzqx' appears twice so it
    // crosses INTO df>=2, and replacing doc 0/3/6 shrinks common terms' df
    val delta = Seq(
      (0L, "zzqx alpha alpha beta"),
      (3L, "zzqx gamma"),
      (6L, "delta delta delta"),
      (900001L, "alpha beta gamma fresh"),
      (900002L, "fresh fresh epsilon")
    ).toDF("doc_id", "text").cache()

    val scope = new CacheScope
    val (newPostings, newIndex) = IndexMaintain.refresh(basePostings, baseIndex, delta, scope)

    // ground truth: rebuild everything from the post-delta corpus
    val ids = delta.select("doc_id")
    val afterCorpus = base.join(broadcast(ids), Seq("doc_id"), "left_anti")
      .unionByName(delta)
    val expectedPostings = IndexMaintain.postings(afterCorpus)
    val expectedIndex = IndexMaintain.buildIndex(expectedPostings)

    assert(sameRows(newPostings, expectedPostings), "postings state diverged")
    assert(sameRows(newIndex, expectedIndex), "index diverged from full rebuild")

    // the refresh actually changed things: the planted term is indexed now
    assert(newIndex.filter(col("term") === "zzqx").count() == 1)
    // and old rows for unaffected terms were kept verbatim (same multiset
    // row for any term absent from the delta's vocabulary union)
    val affectedTerms = IndexMaintain.postings(delta).select(col("w"))
      .unionByName(basePostings.join(broadcast(ids), Seq("doc_id"), "left_semi")
        .select(col("w"))).distinct()
    val untouchedOld = baseIndex.join(
      broadcast(affectedTerms.select(col("w").as("term"))), Seq("term"), "left_anti")
    assert(untouchedOld.exceptAll(newIndex).isEmpty,
      "an untouched term's index row was modified")
    scope.release()
    Seq(base, basePostings, baseIndex, delta).foreach(_.unpersist())
  }

  test("property: incremental refresh ≡ rebuild for random corpora and random deltas") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val genDoc: Gen[String] =
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
        .map(_.mkString(" "))
    val genCorpus: Gen[List[(Long, String)]] = for {
      n <- Gen.chooseNum(2, 8)
      texts <- Gen.listOfN(n, genDoc)
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // delta: a mix of replacements (ids from 0..7, may or may not exist)
    // and brand-new ids
    val genDelta: Gen[List[(Long, String)]] = for {
      n <- Gen.chooseNum(1, 5)
      ids <- Gen.listOfN(n, Gen.chooseNum(0L, 12L))
      texts <- Gen.listOfN(n, genDoc)
    } yield ids.distinct.zip(texts)
    val prop = Prop.forAll(genCorpus, genDelta) { (corpus, delta) =>
      val baseDf = corpus.toDF("doc_id", "text")
      val deltaDf = delta.toDF("doc_id", "text")
      val p0 = IndexMaintain.postings(baseDf)
      val i0 = IndexMaintain.buildIndex(p0)
      CacheScope { scope =>
        val (p1, i1) = IndexMaintain.refresh(p0, i0, deltaDf, scope)
        val deltaIds = delta.map(_._1).toSet
        val after = corpus.filterNot(d => deltaIds(d._1)).++(delta).toDF("doc_id", "text")
        sameRows(p1, IndexMaintain.postings(after)) &&
          sameRows(i1, IndexMaintain.buildIndex(IndexMaintain.postings(after)))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("df threshold crossings: a term can leave the index when its last-but-one doc is replaced") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "shared solo_a common"),
      (2L, "shared solo_b common"),
      (3L, "other words here")
    ).toDF("doc_id", "text").cache()
    val p0 = IndexMaintain.postings(tiny)
    val i0 = IndexMaintain.buildIndex(p0)
    assert(i0.filter(col("term") === "shared").count() == 1) // df=2 indexed
    // replace doc 2: 'shared' drops to df=1 → must LEAVE the index
    val delta = Seq((2L, "replacement text")).toDF("doc_id", "text")
    val scope = new CacheScope
    val (p1, i1) = IndexMaintain.refresh(p0, i0, delta, scope)
    assert(i1.filter(col("term") === "shared").count() == 0)
    // and equals the rebuild
    val after = tiny.filter(col("doc_id") =!= 2L).unionByName(delta)
    assert(sameRows(i1, IndexMaintain.buildIndex(IndexMaintain.postings(after))))
    assert(sameRows(p1, IndexMaintain.postings(after)))
    scope.release()
    tiny.unpersist()
  }
}
