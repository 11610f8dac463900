package graft.resolve

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

class DocClusterSpec extends SparkTestBase {
  import spark.implicits._

  /** Plain union-find: node → minimum node of its component. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(n => n -> find(n)).toMap
  }

  /** Runs `body` with `n` shuffle partitions and AQE coalescing off, so
    * the seed pass really splits the edges `n` ways. */
  private def withPartitions[A](n: Int)(body: => A): A = {
    val settings = Seq("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def assertMatchesReference(edges: Seq[(Long, Long)]): Unit = {
    val rows = DocCluster.connectedComponents(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == rows.map(_._1).distinct.length, "one row per node")
    assert(rows.toMap == reference(edges))
  }

  // ids spread over the long range, so a node-id truncation shows
  private val randomGraph: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 60)
    m <- Gen.choose(0, 80)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield es.map { case (a, b) => (a * 7919L * 1000003L, b * 7919L * 1000003L) }

  for (parts <- Seq(1, 8)) {
    test(s"seeded random graphs match a union-find reference ($parts shuffle partitions)") {
      withPartitions(parts) {
        (1L to 6L).foreach { s =>
          assertMatchesReference(randomGraph(Gen.Parameters.default, Seed(s)).get)
        }
      }
    }

    test(s"a chain spread over partitions converges to its minimum ($parts shuffle partitions)") {
      // the edges of consecutive links hash to different partitions, so
      // the seed's local roots conflict and the rounds must finish it
      val chain = new scala.util.Random(7)
        .shuffle((1L until 64L).map(i => if (i % 2 == 0) (i, i + 1) else (i + 1, i)))
      withPartitions(parts)(assertMatchesReference(chain))
    }
  }

  test("connected components: chains merge transitively, components stay separate") {
    // 1-2-3-4 chain, {10,11}, {20,21,22} via shared hub
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val cc = DocCluster.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
  }

  test("long chain converges within the iteration cap") {
    val edges = (1L until 15L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = DocCluster.connectedComponents(edges, maxIter = 20).collect()
    assert(cc.forall(_.getLong(1) == 1L))
  }

  test("star edges per dup-group are linear in group size and cluster identically") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // dd11's edge construction: node -> group-min, NOT all-pairs. A
    // 6-member group must emit exactly 5 edges (g-1), and the components
    // must equal the all-pairs clustering.
    val keyed = Seq(
      (1L, "k1"), (2L, "k1"), (3L, "k1"), (4L, "k1"), (5L, "k1"), (6L, "k1"),
      (10L, "k2"), (11L, "k2"), (20L, "k3")).toDF("doc_id", "k")
    val star = keyed
      .withColumn("root", min(col("doc_id")).over(Window.partitionBy("k")))
      .filter(col("doc_id") =!= col("root"))
      .select(col("root").as("a"), col("doc_id").as("b"))
    assert(star.count() == 5 + 1) // g-1 per group; singleton k3 emits none
    val cc = DocCluster.connectedComponents(star).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L).forall(cc(_) == 10L))
    assert(!cc.contains(20L)) // no edges -> not in any multi-node cluster
  }
}
