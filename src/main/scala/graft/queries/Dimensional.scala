package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables.{apply => t}

/** Warehouse-dimensional operators the inventory lacked: recursive
  * hierarchy expansion with subtree rollups (the BOM-explosion /
  * org-chart family the reference's Postgres side would write as WITH
  * RECURSIVE), and slowly-changing-dimension type-2 history construction
  * from an event stream (the dimension-maintenance step above S6/S7's
  * row-level upserts — reference analog: the versioned master rows of
  * `etl_master/master_etl.py`).
  *
  * Scale notes: the hierarchy here has an ARITHMETIC parent function
  * (parent = key div 10), so the transitive closure is a generated
  * column — explode over the bounded depth, zero iterations, zero
  * shuffles until the rollup's one equi-join + groupBy. When the parent
  * is data-dependent the closure needs the iterative join pattern dd11
  * (connected components) and dd34 (PageRank) already pin; the rollup
  * shape below is unchanged either way. SCD2 is two same-partitioned
  * windows — one shuffle on the dimension key, any number of versions.
  */
object Dimensional {

  /** The SCD2 version table s13 materializes, as a reusable input for
    * point-in-time lookups (j17). One shuffle on the dimension key; all
    * three windows share the o_custkey hash partitioning. */
  private def scd2Versions(s: SparkSession, dir: String): DataFrame = {
    val wEv = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val ev = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderpriority"), col("o_orderkey"))
      .withColumn("rn", row_number().over(wEv))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(wEv))
    val changes = ev
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      .select(col("o_custkey"), col("o_orderdate").as("valid_from"),
        col("o_orderpriority"), col("rn"))
    val wV = Window.partitionBy(col("o_custkey")).orderBy(col("rn"))
    changes
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wV))
      .withColumn("version", row_number().over(wV).cast("long"))
      .select(col("o_custkey"), col("o_orderpriority"), col("valid_from"),
        col("valid_to"), col("version"), col("valid_to").isNull.as("is_current"))
  }

  /** The vers CTE of s13's oracle, shared with j17's. */
  private val scd2VersSql: String = """
        ev AS (
          SELECT o_custkey, o_orderdate, o_orderpriority,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
                 LAG(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
          FROM orders
        ),
        changes AS (
          SELECT o_custkey, o_orderdate AS valid_from, o_orderpriority, rn
          FROM ev WHERE prev IS NULL OR prev <> o_orderpriority
        ),
        vers AS (
          SELECT o_custkey, o_orderpriority, valid_from,
                 LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY rn) AS valid_to,
                 CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY rn) AS BIGINT) AS version
          FROM changes
        )"""

  val defs: Seq[QueryDef] = Seq(

    // ---- h1: recursive hierarchy expansion + subtree rollup -------------
    QueryDef(
      "h1_hierarchy_rollup",
      "BOM-style hierarchy over parts (parent = key div 10, a 10-ary forest): per node its root, depth, strict-descendant count, and DECIMAL-exact subtree retail rollup. The oracle states the closure as WITH RECURSIVE; the engine generates it as an explode over the bounded depth (arithmetic parent ⇒ no iteration), then one equi-join + one groupBy for the rollup — the plan a 100 TB hierarchy wants",
      Some("""
        WITH RECURSIVE anc(node, anc, dist) AS (
          SELECT p_partkey, p_partkey // 10, 1 FROM part WHERE p_partkey >= 10
          UNION ALL
          SELECT a.node, a.anc // 10, a.dist + 1 FROM anc a WHERE a.anc >= 10
        ),
        closure AS (
          SELECT a.node, a.anc, a.dist FROM anc a JOIN part x ON a.anc = x.p_partkey
        ),
        nd AS (
          SELECT node AS p_partkey, CAST(max(dist) AS INT) AS depth,
                 CAST(min(anc) AS BIGINT) AS root_key
          FROM closure GROUP BY node
        ),
        rollup AS (
          SELECT c.anc AS p_partkey, CAST(count(*) AS BIGINT) AS n_desc,
                 CAST(sum(CAST(x.p_retailprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS desc_retail
          FROM closure c JOIN part x ON c.node = x.p_partkey
          GROUP BY c.anc
        )
        SELECT p.p_partkey,
               COALESCE(nd.root_key, p.p_partkey) AS root_key,
               COALESCE(nd.depth, 0) AS depth,
               COALESCE(r.n_desc, 0) AS n_desc,
               CAST(CAST(COALESCE(r.desc_retail, 0) + CAST(p.p_retailprice AS DECIMAL(12,2)) AS DECIMAL(18,2)) AS DOUBLE) AS subtree_retail
        FROM part p LEFT JOIN nd ON p.p_partkey = nd.p_partkey
                    LEFT JOIN rollup r ON p.p_partkey = r.p_partkey
      """)) { (s, dir) =>
      val maxDepth = 7 // 10-ary: covers keys < 10^8, widen for more
      val parts = t(s, dir, "part").select(col("p_partkey"),
        col("p_retailprice").cast(DecimalType(12, 2)).as("retail"))
      // the closure is GENERATED, not iterated: ancestor at distance d is
      // node div 10^d, valid while it stays >= 1 (mirrors the recursion's
      // anc >= 10 continuation); existing-ancestor filter is an equi-join
      val divs = array((1 to maxDepth).map(d =>
        struct(lit(d).as("dist"), lit(math.pow(10, d).toLong).as("divi"))): _*)
      val closure = parts.select(col("p_partkey").as("node"), explode(divs).as("dd"))
        .select(col("node"), col("dd.dist").as("dist"),
          (col("node") / col("dd.divi")).cast("long").as("anc"))
        .filter(col("anc") >= 1)
        .join(parts.select(col("p_partkey").as("anc")), Seq("anc"))
      val nd = closure.groupBy(col("node").as("p_partkey"))
        .agg(max(col("dist")).cast("int").as("depth"),
          min(col("anc")).cast("long").as("root_key"))
      val rollup = closure
        .join(parts.select(col("p_partkey").as("node"), col("retail")), Seq("node"))
        .groupBy(col("anc").as("p_partkey"))
        .agg(count(lit(1)).as("n_desc"),
          sum(col("retail")).cast(DecimalType(18, 2)).as("desc_retail"))
      parts.join(nd, Seq("p_partkey"), "left").join(rollup, Seq("p_partkey"), "left")
        .select(col("p_partkey"),
          coalesce(col("root_key"), col("p_partkey")).as("root_key"),
          coalesce(col("depth"), lit(0)).as("depth"),
          coalesce(col("n_desc"), lit(0L)).as("n_desc"),
          // decimal-exact accumulation, double render: the hash compare
          // sees one deterministic conversion on both engines
          (coalesce(col("desc_retail"), lit(BigDecimal(0))) + col("retail"))
            .cast(DecimalType(18, 2)).cast("double").as("subtree_retail"))
    },

    // ---- s13: SCD type-2 history from an event stream --------------------
    QueryDef(
      "s13_scd2_history",
      "Slowly-changing-dimension type 2: per customer, consecutive orders with the same priority compress into one validity interval [valid_from, valid_to) with version numbers and an is_current flag — change detection (lag), interval close (lead), and versioning (row_number) all ride ONE hash partition on the dimension key",
      Some(s"""
        WITH $scd2VersSql
        SELECT o_custkey, o_orderpriority, valid_from, valid_to, version,
               valid_to IS NULL AS is_current
        FROM vers
      """)) { (s, dir) =>
      scd2Versions(s, dir)
    },

    // ---- j17: point-in-time (temporal) dimension lookup ------------------
    QueryDef(
      "j17_scd2_lookup",
      "Point-in-time dimension lookup: each lineitem ship event joins the SCD2 priority version valid AT its ship date — an equi-join on the dimension key carries the interval predicate as a residual (one shuffle, per-key fan-out bounded by versions-per-customer, never an inequality-only join), rolled up to (customer, version) ship stats",
      Some(s"""
        WITH $scd2VersSql,
        li AS (
          SELECT l.l_shipdate, o.o_custkey
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT v.o_custkey, v.version, v.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_ship_events,
               min(li.l_shipdate) AS first_ship, max(li.l_shipdate) AS last_ship
        FROM li JOIN vers v ON li.o_custkey = v.o_custkey
         AND li.l_shipdate >= v.valid_from AND (v.valid_to IS NULL OR li.l_shipdate < v.valid_to)
        GROUP BY 1,2,3
      """)) { (s, dir) =>
      // both sides derive from orders — alias to keep the self-join
      // references unambiguous
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_shipdate"))
      val vers = scd2Versions(s, dir)
        .select(col("o_custkey"), col("o_orderpriority"),
          col("valid_from"), col("valid_to"), col("version"))
      li.join(vers,
        col("ck") === col("o_custkey") &&
          col("l_shipdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
        .groupBy(col("o_custkey"), col("version"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_ship_events"),
          min(col("l_shipdate")).as("first_ship"),
          max(col("l_shipdate")).as("last_ship"))
    },

    // ---- A23: weight-of-evidence feature binning ---------------------------
    QueryDef(
      "a23_woe_binning",
      "Credit-scoring-style WoE/IV feature report: o_totalprice in fixed 50k-wide bins vs the target o_orderstatus='F' — per bin its counts, Laplace-smoothed (+0.5) weight of evidence ln((good_i/G)/(bad_i/B)) and information-value term. Fixed-width integer bins, NOT quantiles: a map-side key at any scale, no global sort; the 2-number class totals broadcast",
      Some("""
        WITH b AS (
          SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
          FROM orders
        ),
        agg AS (
          SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(bad) AS BIGINT) AS bad
          FROM b GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(n - bad) AS BIGINT) AS g, CAST(sum(bad) AS BIGINT) AS bd
                FROM agg)
        SELECT bin, n, bad, n - bad AS good,
               round(ln(((n - bad + 0.5) / CAST(g AS DOUBLE)) /
                        ((bad + 0.5) / CAST(bd AS DOUBLE))), 6) AS woe,
               round(((n - bad + 0.5) / CAST(g AS DOUBLE) -
                      (bad + 0.5) / CAST(bd AS DOUBLE)) *
                     ln(((n - bad + 0.5) / CAST(g AS DOUBLE)) /
                        ((bad + 0.5) / CAST(bd AS DOUBLE))), 6) AS iv_term
        FROM agg CROSS JOIN tot
      """)) { (s, dir) =>
      // The +0.5 smoothing keeps empty-class bins finite (a bin with zero
      // bads would otherwise emit +inf WoE and sink the IV sum). Operand
      // order in the double expressions mirrors the SQL text exactly.
      val b = t(s, dir, "orders").select(
        floor(col("o_totalprice") / 50000).cast("long").as("bin"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("bad"))
      val agg = b.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("bad")).as("bad")).cache()
      val tot = agg.agg(sum(col("n") - col("bad")).as("g"), sum(col("bad")).as("bd"))
      val goodShare = (col("n") - col("bad") + 0.5) / col("g").cast("double")
      val badShare = (col("bad") + 0.5) / col("bd").cast("double")
      agg.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("bad"), (col("n") - col("bad")).as("good"),
          round(log(goodShare / badShare), 6).as("woe"),
          round((goodShare - badShare) * log(goodShare / badShare), 6).as("iv_term"))
    })
}
