package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}

/** Deterministic post-processing operators around the reference's LLM
  * extraction pipeline (SURVEY.md §2.9 L4–L8 / A10–A12): role keyword
  * classification, unit standardization with sanity reclassification,
  * group-threshold commercial checks with flag propagation, proportional
  * worth allocation, and collapse/cap. The LLM itself stays external —
  * these are the engine-relevant kernels.
  */
object LlmOps {

  val defs: Seq[QueryDef] = Seq(

    // ---- L4: role keyword classifier -------------------------------------
    QueryDef(
      "l4_role_classifier",
      "Role text → enum via keyword rule blocks with priority order (extractor_accused.py:300-445)",
      Some("""
        WITH raw AS (
          SELECT event_id,
                 event_type ||
                 CASE user_id % 4 WHEN 0 THEN ' sells and supplies material'
                      WHEN 1 THEN ' transports the goods'
                      WHEN 2 THEN ' daily consumer use' ELSE ' unrelated' END AS role_text
          FROM events WHERE event_id % 9 = 0
        )
        SELECT CASE WHEN regexp_matches(role_text, 'sell|supply|suppli') THEN 'supplier'
                    WHEN regexp_matches(role_text, 'transport|carri') THEN 'carrier'
                    WHEN regexp_matches(role_text, 'consum|use') THEN 'consumer'
                    ELSE 'other' END AS role,
               COUNT(*) AS n
        FROM raw GROUP BY 1
      """)) { (s, dir) =>
      val raw = t(s, dir, "events").filter(col("event_id") % 9 === 0)
        .select(concat(col("event_type"),
          when(col("user_id") % 4 === 0, " sells and supplies material")
            .when(col("user_id") % 4 === 1, " transports the goods")
            .when(col("user_id") % 4 === 2, " daily consumer use")
            .otherwise(" unrelated")).as("role_text"))
      raw.groupBy(
        when(col("role_text").rlike("sell|supply|suppli"), "supplier")
          .when(col("role_text").rlike("transport|carri"), "carrier")
          .when(col("role_text").rlike("consum|use"), "consumer")
          .otherwise("other").as("role"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- L5: unit standardization cascade --------------------------------
    QueryDef(
      "l5_unit_standardization",
      "Unit-string table → kg conversion cascade + price-per-gram sanity reclass (extractor_drugs.py:692-830)",
      Some("""
        WITH raw AS (
          SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
                 CASE l_linenumber % 5 WHEN 0 THEN 'g' WHEN 1 THEN 'kg' WHEN 2 THEN 'mg'
                      WHEN 3 THEN 'l' ELSE 'count' END AS unit
          FROM lineitem WHERE l_orderkey % 25 = 0
        ),
        std AS (
          SELECT *,
                 CASE WHEN unit = 'kg' AND l_extendedprice / (l_quantity * 1000.0) > 30
                      THEN 'g' ELSE unit END AS unit_fixed
          FROM raw
        )
        SELECT l_orderkey, l_linenumber, l_partkey, unit, unit_fixed,
               unit <> unit_fixed AS was_reclassified,
               CASE unit_fixed WHEN 'kg' THEN l_quantity
                    WHEN 'g' THEN l_quantity / 1000.0
                    WHEN 'mg' THEN l_quantity / 1000000.0
                    WHEN 'l' THEN l_quantity * 1.0
                    ELSE NULL END AS qty_kg
        FROM std
      """)) { (s, dir) =>
      val raw = t(s, dir, "lineitem").filter(col("l_orderkey") % 25 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_extendedprice"),
          when(col("l_linenumber") % 5 === 0, "g").when(col("l_linenumber") % 5 === 1, "kg")
            .when(col("l_linenumber") % 5 === 2, "mg").when(col("l_linenumber") % 5 === 3, "l")
            .otherwise("count").as("unit"))
      // kg-vs-g sanity: implausible price per gram → the API meant grams
      val unitFixed = when(col("unit") === "kg" &&
        col("l_extendedprice") / (col("l_quantity") * 1000.0) > 30, "g")
        .otherwise(col("unit"))
      raw.withColumn("unit_fixed", unitFixed)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("unit"), col("unit_fixed"),
          (col("unit") =!= col("unit_fixed")).as("was_reclassified"),
          when(col("unit_fixed") === "kg", col("l_quantity"))
            .when(col("unit_fixed") === "g", col("l_quantity") / 1000.0)
            .when(col("unit_fixed") === "mg", col("l_quantity") / 1000000.0)
            .when(col("unit_fixed") === "l", col("l_quantity") * 1.0)
            .otherwise(lit(null)).as("qty_kg"))
    },

    // ---- L6/A10: group-threshold classifier + flag propagation ------------
    QueryDef(
      "l6_commercial_check",
      "Per-group total vs broadcast threshold dim; any-flag propagates to all rows (extractor_drugs.py:876-936)",
      Some("""
        WITH thresholds(p_type, thresh) AS (VALUES
          ('ECONOMY', 900), ('SMALL', 700), ('STANDARD', 800), ('LARGE', 650), ('PROMO', 1000)
        ),
        joined AS (
          SELECT l.l_partkey, l.l_orderkey, l.l_linenumber, l.l_quantity, p.p_type,
                 COALESCE(t.thresh, 850) AS thresh
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          LEFT JOIN thresholds t ON p.p_type = t.p_type
          WHERE l.l_partkey % 40 = 0
        ),
        grouped AS (
          SELECT *,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey) AS BIGINT)
                   AS group_total
          FROM joined
        )
        SELECT l_partkey, l_orderkey, l_linenumber, p_type, group_total, thresh,
               group_total >= thresh AS is_commercial
        FROM grouped
      """)) { (s, dir) =>
      import s.implicits._
      val thresholds = Seq(("ECONOMY", 900), ("SMALL", 700), ("STANDARD", 800),
        ("LARGE", 650), ("PROMO", 1000)).toDF("t_type", "thresh")
      val joined = t(s, dir, "lineitem").filter(col("l_partkey") % 40 === 0)
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(thresholds), col("p_type") === col("t_type"), "left")
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("p_type"),
          coalesce(col("thresh"), lit(850)).as("thresh"))
      val w = Window.partitionBy("l_partkey")
      joined
        .withColumn("group_total", sum(col("l_quantity").cast("long")).over(w))
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          col("p_type"), col("group_total"), col("thresh"),
          (col("group_total") >= col("thresh")).as("is_commercial"))
    },

    // ---- L7/A11: proportional allocation -----------------------------------
    QueryDef(
      "l7_worth_allocation",
      "Distribute parent worth across children by quantity share, two scopes (extractor_drugs.py:939-1038)",
      Some("""
        WITH base AS (
          SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
                 CAST(l.l_quantity AS BIGINT) AS qty, o.o_totalprice
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_orderkey % 30 = 0
        ),
        tot AS (
          SELECT *,
                 CAST(SUM(qty) OVER (PARTITION BY l_orderkey) AS BIGINT) AS order_qty,
                 CAST(SUM(qty) OVER () AS BIGINT) AS global_qty
          FROM base
        )
        SELECT l_orderkey, l_linenumber, l_partkey,
               (o_totalprice * qty) / order_qty AS order_share,
               CAST(qty AS DOUBLE) / global_qty AS global_share
        FROM tot
      """)) { (s, dir) =>
      val base = t(s, dir, "lineitem").filter(col("l_orderkey") % 30 === 0)
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"), col("o_totalprice"))
      val wOrder = Window.partitionBy("l_orderkey")
      // Global denominator as a 1-row aggregate broadcast back — NOT
      // `sum over ()`, which compiles to Exchange SinglePartition and
      // funnels the whole input through one task at scale.
      val globalQty = base.agg(sum(col("qty")).as("global_qty"))
      base
        .withColumn("order_qty", sum(col("qty")).over(wOrder))
        .crossJoin(broadcast(globalQty))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          ((col("o_totalprice") * col("qty")) / col("order_qty")).as("order_share"),
          (col("qty").cast("double") / col("global_qty")).as("global_share"))
    },

    // ---- L10: crime-level branch router + processing ledger ----------------
    QueryDef(
      "l10_branch_router",
      "Route each parent to processing branch A/B/C by child evidence; emit a run ledger row (brief_facts_ai/main.py:841,1228,1494)",
      Some("""
        WITH evidence AS (
          SELECT o.o_orderkey,
                 COALESCE(l.n_children, 0) AS n_children,
                 COALESCE(l.n_returned, 0) AS n_returned
          FROM orders o
          LEFT JOIN (
            SELECT l_orderkey, COUNT(*) AS n_children,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
            FROM lineitem GROUP BY l_orderkey
          ) l ON o.o_orderkey = l.l_orderkey
          WHERE o.o_orderkey % 7 = 0
        )
        SELECT CASE WHEN n_returned > 0 THEN 'A_full'
                    WHEN n_children > 0 THEN 'B_partial'
                    ELSE 'C_none' END AS branch,
               COUNT(*) AS n,
               md5('run-2024-01-01') AS run_id,
               'routed' AS status
        FROM evidence GROUP BY 1
      """)) { (s, dir) =>
      val childAgg = t(s, dir, "lineitem").groupBy(col("l_orderkey")).agg(
        count(lit(1)).as("n_children"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"))
      t(s, dir, "orders").filter(col("o_orderkey") % 7 === 0)
        .join(childAgg, col("o_orderkey") === col("l_orderkey"), "left")
        .select(
          when(coalesce(col("n_returned"), lit(0L)) > 0, "A_full")
            .when(coalesce(col("n_children"), lit(0L)) > 0, "B_partial")
            .otherwise("C_none").as("branch"))
        .groupBy(col("branch"))
        .agg(count(lit(1)).as("n"),
          md5(lit("run-2024-01-01")).as("run_id"),
          lit("routed").as("status"))
    },

    // ---- L11: shared-role computation broadcast back to rows ---------------
    QueryDef(
      "l11_shared_role",
      "Group-level shared value when per-row attribution is ambiguous, joined back to all rows (brief_facts_ai/main.py:564-584)",
      Some("""
        WITH roles AS (
          SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS n_roles,
                 MIN(l_returnflag) AS only_role
          FROM lineitem WHERE l_orderkey % 21 = 0
          GROUP BY l_orderkey
        )
        SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
               CASE WHEN r.n_roles = 1 THEN r.only_role ELSE 'SHARED' END AS effective_role,
               r.n_roles > 1 AS was_shared
        FROM lineitem l JOIN roles r ON l.l_orderkey = r.l_orderkey
        WHERE l.l_orderkey % 21 = 0
      """)) { (s, dir) =>
      // role codes are single chars — min/countDistinct over their ascii
      // codes (long buffers) keep the rollup on codegen'd HashAggregate;
      // a fused min(string) would demote the whole aggregate (Expand
      // included) to SortAggregate. chr() restores the code after.
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 21 === 0)
      val roles = li.groupBy(col("l_orderkey").as("r_orderkey")).agg(
        countDistinct(ascii(col("l_returnflag"))).as("n_roles"),
        expr("char(min(ascii(l_returnflag)))").as("only_role"))
      li.join(roles, col("l_orderkey") === col("r_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          when(col("n_roles") === 1, col("only_role")).otherwise("SHARED")
            .as("effective_role"),
          (col("n_roles") > 1).as("was_shared"))
    },

    // ---- L8/A12: collapse collective rows + cap per parent -----------------
    QueryDef(
      "l8_collapse_cap",
      "Merge duplicate (parent, key) rows, then cap children per parent (extractor_drugs.py:1039-1082)",
      Some("""
        WITH collapsed AS (
          SELECT l_orderkey, l_partkey,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
                 COUNT(*) AS merged_rows
          FROM lineitem WHERE l_orderkey % 18 = 0
          GROUP BY l_orderkey, l_partkey
        )
        SELECT l_orderkey, l_partkey, qty, merged_rows FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                       ORDER BY qty DESC, l_partkey) AS rn
          FROM collapsed
        ) WHERE rn <= 3
      """)) { (s, dir) =>
      val collapsed = t(s, dir, "lineitem").filter(col("l_orderkey") % 18 === 0)
        .groupBy(col("l_orderkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"),
          count(lit(1)).as("merged_rows"))
      val w = Window.partitionBy("l_orderkey").orderBy(col("qty").desc, col("l_partkey"))
      collapsed.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("l_orderkey"), col("l_partkey"), col("qty"), col("merged_rows"))
    })
}
