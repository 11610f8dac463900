package graft.resolve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive dedup clustering: pairwise near-dup edges → connected
  * components, so each duplicate group gets one canonical id (min doc id
  * in the component) — the step production dedup needs after MinHash/LSH
  * pair detection (dd2), and the Spark-iterative analog of a recursive
  * CTE.
  *
  * Seed pass first, all on executors, no driver-side graph: the edge list
  * is hash-partitioned on its first endpoint and a union-find runs inside
  * each partition, emitting (node, local root) where a local root is the
  * minimum of its partition-local component. Grouping those pairs by node
  * keeps min(root) as the label and max(root) beside it. When no node has
  * min ≠ max the labels are FINAL: every node shared between partitions
  * got the same root in each, so the local components of one global
  * component (chained through their shared nodes) all carry one root r;
  * r is the minimum of a set containing it and bounds every member from
  * below, so r is the component's minimum. Star edges (member → group
  * minimum) put a whole duplicate group in its minimum's partition, which
  * is why near-dup graphs usually finish after this one pass.
  *
  * Only on a conflict do pointer-jumping min-label rounds run, starting
  * from the seed labels (each ≤ its node and inside its component, so the
  * fixpoint is still the component minimum). Each round is one equi-join
  * + groupBy-min on the node key, O(log diameter) rounds; maxIter is a
  * backstop, not a tuning knob.
  */
object DocCluster {

  /** @param edges two-column frame (a, b) of integral node ids;
    *   undirected. Edges with a null endpoint are ignored.
    * @return (node, cluster) as BIGINT, cluster = min node id reachable. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val a = edges.columns(0); val b = edges.columns(1)
    val pairs = edges
      .select(col(a).cast("long").as("a"), col(b).cast("long").as("b"))
      .na.drop()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // localCheckpoint (not cache), NON-eager: the check aggregate below
    // both materializes the seed and checks it, in one action
    val seed = pairs.repartition(col("a")).as[(Long, Long)]
      .mapPartitions(localRoots).toDF("node", "root")
      .groupBy("node")
      .agg(min(col("root")).as("cluster"), max(col("root")).as("hi"))
      .localCheckpoint(false)
    val check = seed.agg(
        count(when(col("cluster") =!= col("hi"), 1)),
        sum(col("cluster").cast("decimal(38,0)")).cast("string"))
      .first()
    var labels = seed.select(col("node"), col("cluster"))
    // RDD ids of the previous round's localCheckpoint: Dataset.unpersist
    // is a CacheManager no-op for checkpointed datasets, so their pinned
    // blocks must be dropped through the SparkContext registry — leaking
    // one persisted RDD per round keeps O(iterations) copies of the label
    // table in executor memory for the rest of the application.
    var prevRoundIds: scala.collection.Set[Int] = sc.getPersistentRDDs.keySet.diff(before)
    if (check.getLong(0) > 0) {
      // repartition on the join key BEFORE caching: the cached relation
      // then carries hashpartitioning(src), so every round's edge⋈label
      // join reads it exchange-free instead of re-shuffling the edge
      // table once per iteration.
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        .distinct().repartition(col("src")).cache()
      var converged = false
      var i = 0
      // Convergence check without a per-round join: min-label propagation
      // only ever LOWERS a node's cluster id, so sum(cluster) strictly
      // decreases on any change and is stable exactly at the fixpoint. One
      // cheap aggregate over the freshly-checkpointed round replaces the
      // next-vs-previous anti-join. Seeded with the seed's own sum, taken
      // in the check job. DECIMAL(38,0) so a 100 TB node-id space cannot
      // overflow the sum.
      var prevSum: Option[String] = Some(check.getString(1))
      while (!converged && i < maxIter) {
        val propagated = sym.join(labels, col("src") === col("node"))
          .select(col("dst").as("node"), col("cluster"))
        // pointer jumping: also propagate each node's label THROUGH its
        // current cluster representative (label-of-label), so convergence
        // is O(log diameter) rounds, not O(diameter), and each saved round
        // saves a full fixed-cost join+checkpoint cycle.
        val jumped = labels.select(col("node").as("jn"), col("cluster").as("jc"))
          .join(labels, col("jc") === col("node"))
          .select(col("jn").as("node"), col("cluster"))
        // localCheckpoint (not cache): truncates the lineage each round —
        // otherwise the plan grows exponentially with iterations and the
        // optimizer itself OOMs on long chains. NON-eager: the convergence
        // aggregate below is the round's first action, so ONE job both
        // materializes the checkpoint and computes the sum. (The agg needs
        // every partition, so the take-style short-circuit cannot leave
        // the checkpoint partially materialized.)
        val roundBefore = sc.getPersistentRDDs.keySet
        val next = labels.unionByName(propagated).unionByName(jumped)
          .groupBy("node").agg(min(col("cluster")).as("cluster"))
          .localCheckpoint(false)
        // the marked RDD registers as persistent at mark time, before any job
        val thisRoundIds = sc.getPersistentRDDs.keySet.diff(roundBefore)
        val s = next.agg(sum(col("cluster").cast("decimal(38,0)")).cast("string"))
          .first().getString(0)
        converged = prevSum.contains(s)
        prevSum = Some(s)
        // `next` no longer depends on the previous round (or the seed)
        prevRoundIds.foreach(id =>
          sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
        prevRoundIds = thisRoundIds
        labels = next
        i += 1
      }
      sym.unpersist()
    }
    // the last checkpoint (seed or final round) stays pinned — it IS the
    // result; the caller (or Bench's between-query cleanup) releases it
    labels
  }

  /** Union-find over one partition's edges; emits (node, root) for every
    * node seen, root = minimum of the node's partition-local component.
    * Union by min keeps each set's root its minimum; path splitting keeps
    * finds near-constant. */
  private def localRoots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var n = x
      var p = parent.getOrElseUpdate(n, n)
      while (p != n) {
        val gp = parent(p)
        parent.update(n, gp)
        n = p
        p = gp
      }
      n
    }
    edges.foreach { case (x, y) =>
      val rx = find(x); val ry = find(y)
      if (rx < ry) parent.update(ry, rx) else if (ry < rx) parent.update(rx, ry)
    }
    parent.keysIterator.map(n => (n, find(n)))
  }
}
