package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QueryDef
import graft.core.Parity
import graft.core.Tables.{apply => t}

/** Core relational operators from SURVEY.md §2: projection/filter (P*),
  * joins (J*), aggregations (A*), windows/sort/limit (W*) — all expressed
  * declaratively so Catalyst pushes filters/prunes columns and AQE picks
  * broadcast vs shuffle join.
  */
object Relational {

  val defs: Seq[QueryDef] = Seq(

    // ---- A1/A2: grouped aggregate with filtered counts (firs_mv counts) --
    QueryDef(
      "a1_agg_pricing",
      "Grouped sums/counts over lineitem (firs_mv.sql:40-86 count/sum shapes)",
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_cnt
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
      """)) { (s, dir) =>
      val one = lit(1).cast("decimal(18,4)")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-31 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Parity.dsum(col("l_quantity")).as("sum_qty"),
          Parity.dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(Parity.dec(col("l_extendedprice")) * (one - Parity.dec(col("l_discount"), 4)))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("returned_cnt"))
    },

    // ---- J1: star join with broadcast dims (crimes⋈hierarchy shape) ------
    QueryDef(
      "j1_star_join_revenue",
      "lineitem⋈orders⋈customer⋈nation⋈region revenue rollup; dims broadcast (firs_mv.sql:230)",
      Some("""
        SELECT r.r_name, n.n_name,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY r.r_name, n.n_name
        ORDER BY r.r_name, n.n_name
      """)) { (s, dir) =>
      val one = lit(1).cast("decimal(18,4)")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(Parity.dec(col("l_extendedprice")) * (one - Parity.dec(col("l_discount"), 4)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // ---- J5: correlated per-parent aggregates, decorrelated --------------
    QueryDef(
      "j5_corr_agg_order_rollup",
      "Per-order child aggregates pre-grouped then left-joined (decorrelation of firs_mv.sql:40-103)",
      Some("""
        SELECT o.o_orderkey, o.o_orderstatus,
               COALESCE(la.li_count, 0) AS li_count,
               COALESCE(la.sum_qty, CAST(0 AS DOUBLE)) AS sum_qty,
               la.last_ship_epoch AS last_ship_epoch
        FROM orders o
        LEFT JOIN (
          SELECT l_orderkey,
                 COUNT(*) AS li_count,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                 CAST(epoch(MAX(l_shipdate)) AS BIGINT) AS last_ship_epoch
          FROM lineitem GROUP BY l_orderkey
        ) la ON o.o_orderkey = la.l_orderkey
        ORDER BY o.o_orderkey
      """)) { (s, dir) =>
      val childAgg = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("li_count"),
          Parity.dsum(col("l_quantity")).as("sum_qty"),
          unix_timestamp(max(col("l_shipdate"))).as("last_ship_epoch"))
      t(s, dir, "orders")
        .join(childAgg, col("o_orderkey") === col("l_orderkey"), "left")
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          coalesce(col("li_count"), lit(0L)).as("li_count"),
          coalesce(col("sum_qty"), lit(0.0)).as("sum_qty"),
          col("last_ship_epoch"))
    },

    // ---- P7/J3: FK validation semi-join ----------------------------------
    QueryDef(
      "p7_fk_semi",
      "Referential-integrity semi-join: lineitems whose order exists and is finished (etl_crimes.py:661)",
      Some("""
        SELECT l_returnflag, COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        GROUP BY l_returnflag ORDER BY l_returnflag
      """)) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), Parity.dsum(col("l_quantity")).as("qty"))
    },

    // ---- P7/J3: pending-FK anti-join --------------------------------------
    QueryDef(
      "p7_fk_anti",
      "Pending-FK anti-join: orders with no lineitem yet (properties_pending_fk pattern, etl_properties.py:221)",
      Some("""
        SELECT o_orderkey, o_orderstatus, CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch
        FROM orders
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = orders.o_orderkey)
        ORDER BY o_orderkey
      """)) { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem").select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"),
          unix_timestamp(col("o_orderdate")).as("order_epoch"))
    },

    // ---- J7/W1: first-row-per-group (DISTINCT ON) --------------------------
    QueryDef(
      "j7_first_row_per_group",
      "DISTINCT ON rewrite: latest order per customer via row_number (criminal_profiles_mv.sql:56-70)",
      Some("""
        SELECT o_custkey, o_orderkey AS latest_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS latest_epoch
        FROM (
          SELECT o_custkey, o_orderkey, o_orderdate,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders
        ) WHERE rn = 1
        ORDER BY o_custkey
      """)) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("latest_orderkey"),
          unix_timestamp(col("o_orderdate")).as("latest_epoch"))
    },

    // ---- J6/W2: correlated LIMIT 1 → max_by --------------------------------
    QueryDef(
      "j6_latest_by_max_by",
      "Correlated LIMIT-1 rewrite: max_by with composite tiebreak (criminal_profiles_mv.sql:71-82)",
      Some("""
        SELECT o_custkey,
               MAX(o_orderdate_epoch) AS last_epoch,
               MAX(CASE WHEN rnk = 1 THEN o_orderkey END) AS last_orderkey
        FROM (
          SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch, o_orderkey,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rnk
          FROM orders
        ) GROUP BY o_custkey ORDER BY o_custkey
      """)) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          max(unix_timestamp(col("o_orderdate"))).as("last_epoch"),
          max_by(col("o_orderkey"),
            struct(col("o_orderdate"), col("o_orderkey"))).as("last_orderkey"))
    },

    // ---- A3: count distinct -------------------------------------------------
    QueryDef(
      "a3_count_distinct",
      "Exact distinct counts per group (accuseds_mv.sql:106; approx variant is a10 in Bench)",
      Some("""
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS n_custs,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
      """)) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
    },

    // ---- A5: ordered array rollup (jsonb_agg ORDER BY) ----------------------
    QueryDef(
      "a5_ordered_rollup",
      "Deterministic ordered rollup per parent: sort_array(collect_list) ≅ jsonb_agg(... ORDER BY) (firs_mv.sql:43-54)",
      Some("""
        SELECT l_orderkey,
               string_agg(lpad(CAST(l_linenumber AS VARCHAR), 2, '0') || ':' || CAST(l_partkey AS VARCHAR), ',' ORDER BY lpad(CAST(l_linenumber AS VARCHAR), 2, '0') || ':' || CAST(l_partkey AS VARCHAR)) AS items
        FROM lineitem
        GROUP BY l_orderkey ORDER BY l_orderkey
      """)) { (s, dir) =>
      val entry = concat_ws(":",
        lpad(col("l_linenumber").cast("string"), 2, "0"),
        col("l_partkey").cast("string"))
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_join(array_sort(collect_list(entry)), ",").as("items"))
    },

    // ---- A7: filtered distinct array agg -------------------------------------
    QueryDef(
      "a7_distinct_filtered_agg",
      "array_agg(DISTINCT ...) FILTER (WHERE ...) with empty-array coalesce (firs_mv.sql:55-57)",
      Some("""
        SELECT o_custkey,
               COALESCE(string_agg(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_orderpriority END, ',' ORDER BY CASE WHEN o_orderstatus = 'F' THEN o_orderpriority END), '') AS fin_priorities
        FROM orders GROUP BY o_custkey ORDER BY o_custkey
      """)) { (s, dir) =>
      val v = when(col("o_orderstatus") === "F", col("o_orderpriority"))
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(coalesce(
          array_join(array_sort(collect_set(v)), ","), lit("")).as("fin_priorities"))
    },

    // ---- A8: k→count map per parent (as sorted text for parity) ---------------
    QueryDef(
      "a8_map_agg",
      "jsonb_object_agg(k, count) per parent (firs_mv.sql:90-95), rendered as sorted k:v pairs",
      Some("""
        SELECT o_custkey, string_agg(kv, ',' ORDER BY kv) AS status_counts FROM (
          SELECT o_custkey, o_orderstatus || ':' || CAST(COUNT(*) AS VARCHAR) AS kv
          FROM orders GROUP BY o_custkey, o_orderstatus
        ) GROUP BY o_custkey ORDER BY o_custkey
      """)) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("o_custkey"),
          concat_ws(":", col("o_orderstatus"), col("cnt").cast("string")).as("kv"))
        .groupBy(col("o_custkey"))
        .agg(array_join(array_sort(collect_list(col("kv"))), ",").as("status_counts"))
    },

    // ---- W4: global sort + limit ------------------------------------------------
    QueryDef(
      "w4_global_topk",
      "Global ORDER BY + LIMIT → TakeOrderedAndProject (search_person_by_name, DB-schema.sql:478)",
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
      """)) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(25)
    },

    // ---- W5: union all ------------------------------------------------------------
    QueryDef(
      "w5_union_all",
      "UNION ALL of two branch queries (firs_mv.sql:132-143 combined docs)",
      Some("""
        SELECT src, k, CAST(epoch(d) AS BIGINT) AS epoch FROM (
          SELECT 'ord' AS src, o_orderkey AS k, o_orderdate AS d FROM orders WHERE o_orderstatus = 'P'
          UNION ALL
          SELECT 'li' AS src, l_orderkey AS k, l_shipdate AS d FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 49
        ) ORDER BY src, k, epoch
      """)) { (s, dir) =>
      val a = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
        .select(lit("ord").as("src"), col("o_orderkey").as("k"), col("o_orderdate").as("d"))
      val b = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") >= 49)
        .select(lit("li").as("src"), col("l_orderkey").as("k"), col("l_shipdate").as("d"))
      a.unionByName(b)
        .select(col("src"), col("k"), unix_timestamp(col("d")).as("epoch"))
    },

    // ---- T7: status bucketing CASE (shared MV expression) ---------------------------
    QueryDef(
      "t7_status_bucket",
      "ILIKE-prefix status bucketing shared by all 5 MVs (firs_mv.sql:44-52)",
      Some("""
        SELECT CASE WHEN o_orderstatus ILIKE 'F%' THEN 'Finished'
                    WHEN o_orderstatus ILIKE 'O%' THEN 'Open'
                    WHEN o_orderstatus ILIKE 'P%' THEN 'Pending'
                    ELSE 'Unknown' END AS status_bucket,
               COUNT(*) AS n
        FROM orders GROUP BY 1 ORDER BY 1
      """)) { (s, dir) =>
      val bucket = when(col("o_orderstatus").ilike("F%"), "Finished")
        .when(col("o_orderstatus").ilike("O%"), "Open")
        .when(col("o_orderstatus").ilike("P%"), "Pending")
        .otherwise("Unknown")
      t(s, dir, "orders")
        .groupBy(bucket.as("status_bucket"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- T19: address assembly via null-skipping concat_ws ---------------------------
    QueryDef(
      "t19_concat_ws_nullif",
      "concat_ws(', ', NULLIF(...)...) null-skipping assembly (accuseds_mv.sql:104)",
      Some("""
        SELECT c_custkey,
               concat_ws(', ', NULLIF(c_mktsegment, 'MACHINERY'), NULLIF(c_name, ''), CAST(c_nationkey AS VARCHAR)) AS assembled
        FROM customer ORDER BY c_custkey
      """)) { (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          concat_ws(", ",
            nullif(col("c_mktsegment"), lit("MACHINERY")),
            nullif(col("c_name"), lit("")),
            col("c_nationkey").cast("string")).as("assembled"))
    },

    // ---- A15: skew-salted two-phase aggregation ----------------------------
    // The hot-key mitigation for 100 TB groupBys: phase 1 aggregates on
    // (key, salt) — a deterministic per-row salt spreads any mega-key over
    // 16 reducers — phase 2 merges the partials on the key alone. Result
    // identical to a direct groupBy (counts and DECIMAL sums are
    // associative); what changes is the worst reducer's share, bounded at
    // 1/16 of the hottest key instead of all of it. The oracle is the
    // direct GROUP BY, proving the rewrite is semantics-preserving. (AQE
    // skew-join handles the join case at runtime; this is the explicit
    // agg-side pattern for engines/pipelines that pin their plans.)
    QueryDef(
      "a15_salted_agg",
      "Skew-salted two-phase aggregation: groupBy(key, salt16) partials merged on key — identical to direct groupBy, hot key bounded to 1/16 per reducer",
      Some("""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem GROUP BY 1, 2
      """)) { (s, dir) =>
      val partials = t(s, dir, "lineitem")
        .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(16)))
        .groupBy(col("l_returnflag"), col("l_linestatus"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(graft.core.Parity.dec(col("l_quantity"))).as("pq"),
          sum(graft.core.Parity.dec(col("l_extendedprice"))).as("pp"))
      partials
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pn")).as("n"),
          sum(col("pq")).cast("double").as("sum_qty"),
          sum(col("pp")).cast("double").as("sum_price"))
    },

    // ---- J14: salted skew join ≡ plain join --------------------------------
    QueryDef(
      "j14_salted_join",
      "Skew-salted join: fact rows salt 16 ways, the dim replicates per salt, equi-join on (key, salt) — result-identical to the plain join but a hot key spreads over 16 partitions instead of one",
      Some("""
        SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice, o.o_orderstatus
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
      """)) { (s, dir) =>
      val salts = 16
      val fact = t(s, dir, "lineitem")
        .withColumn("salt", pmod(hash(col("l_linenumber")), lit(salts)))
      val dim = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      fact.join(dim,
          col("l_orderkey") === col("o_orderkey") && fact("salt") === dim("salt"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("o_totalprice"), col("o_orderstatus"))
    },

    // ---- A14: row-count + referential validation report -------------------
    QueryDef(
      "a14_rowcount_validation",
      "Operational validation report: per-entity row counts vs expected minimums + FK orphan checks (validate_etl.py:29-135)",
      Some("""
        SELECT 'orders' AS entity, COUNT(*) AS n, COUNT(*) >= 1 AS ok FROM orders
        UNION ALL
        SELECT 'lineitem', COUNT(*), COUNT(*) >= 1 FROM lineitem
        UNION ALL
        SELECT 'customer', COUNT(*), COUNT(*) >= 1 FROM customer
        UNION ALL
        SELECT 'lineitem_orphans', COUNT(*), COUNT(*) = 0 FROM lineitem
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        UNION ALL
        SELECT 'orders_cust_orphans', COUNT(*), COUNT(*) = 0 FROM orders
        WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      """)) { (s, dir) =>
      // each check is a count-only aggregate (orphans via anti-join), so
      // at scale every branch is a partial-agg scan; no row data moves
      def row(entity: String, df: DataFrame, expectZero: Boolean): DataFrame =
        df.agg(count(lit(1)).as("n")).select(lit(entity).as("entity"), col("n"),
          (if (expectZero) col("n") === 0 else col("n") >= 1).as("ok"))
      val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      val c = t(s, dir, "customer")
      row("orders", o, expectZero = false)
        .unionByName(row("lineitem", l, expectZero = false))
        .unionByName(row("customer", c, expectZero = false))
        .unionByName(row("lineitem_orphans",
          l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti"),
          expectZero = true))
        .unionByName(row("orders_cust_orphans",
          o.join(c, col("o_custkey") === col("c_custkey"), "left_anti"),
          expectZero = true))
    })
}
