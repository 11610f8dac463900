package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Parity
import graft.core.Tables.{apply => t}

/** Gold materialized-view pipelines (SURVEY.md §3.2): the reference's 5 MVs
  * are one parent scan + ~20 correlated scalar subqueries each
  * (`firs_mv.sql:40-119`). The Spark-first rewrite pre-groups every child
  * aggregate once and left-joins on the parent key — no per-row
  * subqueries; Catalyst/AQE picks broadcast vs shuffle joins.
  *
  * Scale: each child aggregate shuffles once on the parent FK (map-side
  * partial aggregation first); the final assembly is a sequence of joins
  * on the same key, so AQE coalesces them into one exchange per side.
  * Dims (customer⋈nation) are broadcast.
  */
object GoldMv {

  /** A9: grouped sum → unit-formatted display string (firs_mv.sql:58-71).
    * Exact decimal division by 1000 (3 digits, never rounds). */
  private[queries] def qtyDisplay(qtyTot: Column): Column =
    when(qtyTot >= 100,
      concat((qtyTot.cast("decimal(15,2)") / 100).cast("decimal(18,2)").cast("string"),
        lit(" H units")))
      .when(qtyTot > 0, concat(qtyTot.cast("string"), lit(" units")))
      .otherwise("N/A")

  val defs: Seq[QueryDef] = Seq(

    // ---- firs_mv-shaped wide gold row ------------------------------------
    QueryDef(
      "mv_firs_slice",
      "Wide gold row: 5 pre-grouped child aggregates + broadcast dims, decorrelated firs_mv (firs_mv.sql:40-119)",
      Some("""
        WITH li_agg AS (
          SELECT l_orderkey,
                 COUNT(*) AS li_count,
                 CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_cnt,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_tot,
                 '[' || COALESCE(string_agg('{"ln":' || l_linenumber || ',"partkey":' || l_partkey || '}',
                                            ',' ORDER BY l_linenumber, l_partkey), '') || ']' AS items_json,
                 COALESCE(string_agg(DISTINCT CASE WHEN l_quantity >= 25 THEN l_returnflag END,
                                     ',' ORDER BY CASE WHEN l_quantity >= 25 THEN l_returnflag END), '') AS bulk_flags
          FROM lineitem GROUP BY l_orderkey
        ),
        status_map AS (
          SELECT l_orderkey,
                 '{' || string_agg('"' || l_linestatus || '":' || n, ',' ORDER BY l_linestatus) || '}' AS status_counts
          FROM (SELECT l_orderkey, l_linestatus, COUNT(*) AS n
                FROM lineitem GROUP BY l_orderkey, l_linestatus)
          GROUP BY l_orderkey
        )
        SELECT o.o_orderkey, o.o_orderstatus, c.c_name, n.n_name AS nation,
               COALESCE(a.li_count, 0) AS li_count,
               COALESCE(a.returned_cnt, 0) AS returned_cnt,
               COALESCE(a.items_json, '[]') AS items_json,
               COALESCE(a.bulk_flags, '') AS bulk_flags,
               COALESCE(m.status_counts, '{}') AS status_counts,
               CASE WHEN COALESCE(a.qty_tot, 0) >= 100
                      THEN CAST(CAST(CAST(a.qty_tot AS DECIMAL(15,2)) / 100 AS DECIMAL(18,2)) AS VARCHAR) || ' H units'
                    WHEN COALESCE(a.qty_tot, 0) > 0 THEN CAST(a.qty_tot AS VARCHAR) || ' units'
                    ELSE 'N/A' END AS qty_display
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN li_agg a ON o.o_orderkey = a.l_orderkey
        LEFT JOIN status_map m ON o.o_orderkey = m.l_orderkey
      """)) { (s, dir) =>
      // size-gated fan-outs (optimization round, no-ops at scale): the
      // one-row-group lineitem scan ran the whole collect_list partial on
      // ONE task (profiled 1.13 s max vs 11 ms median in a 3-task stage),
      // and the final broadcast-join + JSON render ran at the 1-task
      // orders scan's parallelism (0.5 s serial save stage)
      // keyed fan-out (round-12, was round-robin bySize): repartitioning
      // on the GROUP key makes the groupBy reuse the exchange, so the
      // collect_list runs as ONE complete aggregate — the round-robin
      // variant paid a partial ObjectHashAggregate that repacked every
      // row into array buffers, serialized them through a SECOND
      // exchange, and merged (profiled: 32 uniform 350 ms tasks in the
      // partial stage alone)
      val li = graft.core.Fanout.keyed(s, t(s, dir, "lineitem"), dir,
        Seq(col("l_orderkey")), "lineitem")
      val bulkFlag = when(col("l_quantity") >= 25, col("l_returnflag"))
      val liAgg = li.groupBy(col("l_orderkey")).agg(
        count(lit(1)).as("li_count"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("returned_cnt"),
        sum(col("l_quantity").cast("long")).as("qty_tot"),
        // ordered JSON-array rollup (A5): struct sort keeps (ln, partkey)
        // numeric order — matching the oracle's ORDER BY ln, partkey —
        // where a rendered-string sort would not for variable-width numbers
        to_json(array_sort(collect_list(struct(
          col("l_linenumber").as("ln"), col("l_partkey").as("partkey")))))
          .as("items_json2"),
        coalesce(array_join(array_sort(collect_set(bulkFlag)), ","), lit(""))
          .as("bulk_flags"),
        // k→count map folded into the same aggregate pass: one lineitem
        // scan instead of two (the dominant cost at 100 TB; statuses are
        // 1-char so the extra shuffle bytes are negligible). Locally this
        // trades ~0.3s of expression CPU for the saved scan — measured
        // 2.4→2.9s at sf0.1 local[8], a wash within run noise, but the
        // scan count is what survives a 1000-executor scale-up.
        collect_list(col("l_linestatus")).as("statuses"))
      val statusCounts = concat(lit("{"),
        array_join(transform(array_sort(array_distinct(col("statuses"))),
          st => concat(lit("\""), st, lit("\":"),
            size(filter(col("statuses"), x => x === st)))), ","),
        lit("}"))
      graft.core.Fanout.bySize(s, t(s, dir, "orders"), dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(liAgg, col("o_orderkey") === liAgg("l_orderkey"), "left")
        .select(
          col("o_orderkey"), col("o_orderstatus"), col("c_name"),
          col("n_name").as("nation"),
          coalesce(col("li_count"), lit(0L)).as("li_count"),
          coalesce(col("returned_cnt"), lit(0L)).as("returned_cnt"),
          coalesce(col("items_json2"), lit("[]")).as("items_json"),
          coalesce(col("bulk_flags"), lit("")).as("bulk_flags"),
          when(col("statuses").isNotNull, statusCounts).otherwise("{}")
            .as("status_counts"),
          qtyDisplay(coalesce(col("qty_tot"), lit(0L))).as("qty_display"))
    },

    // ---- advanced_search-shaped flat search surface ----------------------
    QueryDef(
      "mv_advanced_search",
      "Search-optimized denormalized row: 4-way chain with optional dims, lowered search keys, status buckets, date buckets, assembled display (advanced_search_accuseds_mv.sql:141-146)",
      Some("""
        SELECT l.l_orderkey, l.l_linenumber,
               lower(c.c_name) AS search_name,
               COALESCE(lower(n.n_name), 'unknown') AS search_nation,
               CASE WHEN o.o_orderstatus ILIKE 'F%' THEN 'Finished'
                    WHEN o.o_orderstatus ILIKE 'O%' THEN 'Open'
                    ELSE 'Pending' END AS status_bucket,
               CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
               strftime(o.o_orderdate, '%Y-%m') AS order_month,
               concat_ws(' | ', NULLIF(c.c_mktsegment, ''), NULLIF(o.o_orderpriority, ''),
                         CAST(l.l_partkey AS VARCHAR)) AS display_line,
               l.l_quantity >= 40 AS is_bulk
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey AND n.n_regionkey < 3
        WHERE l.l_orderkey % 40 = 0
      """)) { (s, dir) =>
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 40 === 0)
      li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation").filter(col("n_regionkey") < 3)),
          col("c_nationkey") === col("n_nationkey"), "left")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          lower(col("c_name")).as("search_name"),
          coalesce(lower(col("n_name")), lit("unknown")).as("search_nation"),
          when(col("o_orderstatus").ilike("F%"), "Finished")
            .when(col("o_orderstatus").ilike("O%"), "Open")
            .otherwise("Pending").as("status_bucket"),
          year(col("o_orderdate")).as("order_year"),
          date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
          concat_ws(" | ", nullif(col("c_mktsegment"), lit("")),
            nullif(col("o_orderpriority"), lit("")),
            col("l_partkey").cast("string")).as("display_line"),
          (col("l_quantity") >= 40).as("is_bulk"))
    },

    // ---- criminal_profiles-shaped per-entity rollup ----------------------
    QueryDef(
      "mv_profiles",
      "Per-customer profile: latest/first docs (J6/J7), distinct counts, formatted totals (criminal_profiles_mv.sql:56-110)",
      Some("""
        WITH ord AS (
          SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate, o_orderpriority, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_last,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn_first
          FROM orders
        ),
        agg AS (
          SELECT o_custkey,
                 COUNT(*) AS n_orders,
                 COUNT(DISTINCT o_orderpriority) AS n_priorities,
                 CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
                 CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) || ' total' AS spend_display,
                 string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
          FROM orders GROUP BY o_custkey
        )
        SELECT c.c_custkey, c.c_name,
               a.n_orders, a.n_priorities, a.n_open, a.spend_display, a.priorities,
               lst.o_orderkey AS last_orderkey,
               '{"o_orderkey":' || fst.o_orderkey || ',"status":"' || fst.o_orderstatus || '"}' AS first_doc
        FROM customer c
        JOIN agg a ON c.c_custkey = a.o_custkey
        JOIN ord lst ON lst.o_custkey = c.c_custkey AND lst.rn_last = 1
        JOIN ord fst ON fst.o_custkey = c.c_custkey AND fst.rn_first = 1
      """)) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val agg = orders.groupBy(col("o_custkey")).agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        concat(sum(Parity.dec(col("o_totalprice"))).cast("decimal(18,2)").cast("string"),
          lit(" total")).as("spend_display"),
        array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("priorities"),
        // J6: correlated LIMIT 1 → max_by with composite tiebreak
        max_by(col("o_orderkey"), struct(col("o_orderdate"), col("o_orderkey")))
          .as("last_orderkey"),
        // J7: DISTINCT ON first row → min_by, rendered as a canonical doc
        min_by(
          concat(lit("{\"o_orderkey\":"), col("o_orderkey"),
            lit(",\"status\":\""), col("o_orderstatus"), lit("\"}")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("first_doc"))
      // J8: EXISTS gate is the inner join on the agg (profiles only for
      // customers that actually appear in orders)
      t(s, dir, "customer")
        .join(agg, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n_orders"),
          col("n_priorities"), col("n_open"), col("spend_display"),
          col("priorities"), col("last_orderkey"), col("first_doc"))
    })
}
