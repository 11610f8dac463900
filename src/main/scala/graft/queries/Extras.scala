package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** Remaining SURVEY.md §2 operators: name-part repair (T18), keep-one
  * cascade repair (W6), keyset pagination (W7), incremental discovery
  * join (J4), cross-table update join (J11), lookup-or-create (J12),
  * history-lookup API shape (E6), relevance-scored section selection
  * (L1), and schema-validated extraction with quarantine (L2).
  */
object Extras {

  val defs: Seq[QueryDef] = Seq(

    // ---- T18: name-part fixes (rebuild + conditional swap) ----------------
    QueryDef(
      "t18_name_part_fixes",
      "Rebuild full_name from parts; swap obviously-reversed fields (fix_fullname/fix_person_names.py)",
      Some("""
        WITH raw AS (
          SELECT c_custkey,
                 CASE WHEN c_custkey % 4 = 0 THEN c_mktsegment ELSE c_name END AS name_field,
                 CASE WHEN c_custkey % 4 = 0 THEN c_name ELSE c_mktsegment END AS surname_field
          FROM customer
        ),
        fixed AS (
          -- a Customer# value in the surname slot means the fields are swapped
          SELECT c_custkey,
                 CASE WHEN surname_field LIKE 'Customer#%' THEN surname_field ELSE name_field END AS name_fixed,
                 CASE WHEN surname_field LIKE 'Customer#%' THEN name_field ELSE surname_field END AS surname_fixed,
                 surname_field LIKE 'Customer#%' AS was_swapped
          FROM raw
        )
        SELECT c_custkey, was_swapped,
               concat_ws(' ', NULLIF(name_fixed, ''), NULLIF(surname_fixed, '')) AS full_name
        FROM fixed
      """)) { (s, dir) =>
      val raw = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 4 === 0, col("c_mktsegment")).otherwise(col("c_name"))
          .as("name_field"),
        when(col("c_custkey") % 4 === 0, col("c_name")).otherwise(col("c_mktsegment"))
          .as("surname_field"))
      val swapped = col("surname_field").startsWith("Customer#")
      raw.select(col("c_custkey"), swapped.as("was_swapped"),
        concat_ws(" ",
          nullif(when(swapped, col("surname_field")).otherwise(col("name_field")), lit("")),
          nullif(when(swapped, col("name_field")).otherwise(col("surname_field")), lit("")))
          .as("full_name"))
    },

    // ---- W6: dedup keep-one cascade repair --------------------------------
    QueryDef(
      "w6_keep_one_repair",
      "Keep one parent per group, cascade the cut to children via semi-join (Keep-1-record.sql)",
      Some("""
        WITH keep AS (
          SELECT o_orderkey FROM (
            SELECT o_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
            FROM orders
          ) WHERE rn = 1
        )
        SELECT l.l_orderkey, COUNT(*) AS n_children,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l
        WHERE EXISTS (SELECT 1 FROM keep k WHERE k.o_orderkey = l.l_orderkey)
        GROUP BY l.l_orderkey
      """)) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val keep = t(s, dir, "orders")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_orderkey"))
      t(s, dir, "lineitem")
        .join(keep, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_children"),
          sum(col("l_quantity").cast("long")).as("qty"))
    },

    // ---- W7: keyset pagination (no OFFSET) --------------------------------
    QueryDef(
      "w7_keyset_pagination",
      "Keyset range scan: WHERE pk > cursor ORDER BY pk LIMIT n — the offset-free batch reader (PERFORMANCE_AUDIT_REPORT.md:264)",
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders WHERE o_orderkey > 7500
        ORDER BY o_orderkey LIMIT 50
      """)) { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") > 7500)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
        .orderBy("o_orderkey").limit(50)
    },

    // ---- J4: incremental discovery join -----------------------------------
    QueryDef(
      "j4_discovery_join",
      "Distinct FK values touched since the watermark and missing from the dim (etl_persons.py:893-954)",
      Some("""
        SELECT DISTINCT o.o_custkey AS discovered_key
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 3 <> 0)
      """)) { (s, dir) =>
      val dimSubset = t(s, dir, "customer").filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"))
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")))
        .select(col("o_custkey").as("discovered_key"))
        .join(dimSubset, col("discovered_key") === col("c_custkey"), "left_anti")
        .distinct()
    },

    // ---- J11: cross-table update join --------------------------------------
    QueryDef(
      "j11_update_join",
      "Routed update: derived status from one table overwrites matched rows in another (etl_accused.py:221-279)",
      Some("""
        WITH derived AS (
          SELECT l_orderkey,
                 CASE WHEN SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) > 0
                      THEN 'RETURNED' END AS new_status
          FROM lineitem GROUP BY l_orderkey
        )
        SELECT o.o_orderkey,
               COALESCE(d.new_status, o.o_orderstatus) AS status,
               d.new_status IS NOT NULL AS was_updated
        FROM orders o LEFT JOIN derived d ON o.o_orderkey = d.l_orderkey
        WHERE o.o_orderkey % 6 = 0
      """)) { (s, dir) =>
      val derived = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(when(sum(when(col("l_returnflag") === "R", 1).otherwise(0)) > 0,
          "RETURNED").as("new_status"))
      t(s, dir, "orders").filter(col("o_orderkey") % 6 === 0)
        .join(derived, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("new_status"), col("o_orderstatus")).as("status"),
          col("new_status").isNotNull.as("was_updated"))
    },

    // ---- J12: lookup-or-create ----------------------------------------------
    QueryDef(
      "j12_lookup_or_create",
      "Dim lookup with surrogate synthesis for misses (etl_migration.py:151-220)",
      Some("""
        WITH incoming AS (
          SELECT DISTINCT lower(n_name) ||
                 CASE WHEN n_nationkey % 3 = 0 THEN '_unknown' ELSE '' END AS geo_name
          FROM nation
        ),
        dim AS (SELECT lower(n_name) AS d_name, n_nationkey AS code FROM nation)
        SELECT i.geo_name,
               COALESCE(CAST(d.code AS VARCHAR),
                        'GEN-' || substr(md5(i.geo_name), 1, 8)) AS resolved_code,
               d.code IS NULL AS was_created
        FROM incoming i LEFT JOIN dim d ON i.geo_name = d.d_name
      """)) { (s, dir) =>
      val incoming = t(s, dir, "nation")
        .select(concat(lower(col("n_name")),
          when(col("n_nationkey") % 3 === 0, "_unknown").otherwise(""))
          .as("geo_name")).distinct()
      val dim = t(s, dir, "nation")
        .select(lower(col("n_name")).as("d_name"), col("n_nationkey").as("code"))
      incoming.join(broadcast(dim), col("geo_name") === col("d_name"), "left")
        .select(col("geo_name"),
          coalesce(col("code").cast("string"),
            concat(lit("GEN-"), substring(md5(col("geo_name")), 1, 8)))
            .as("resolved_code"),
          col("code").isNull.as("was_created"))
    },

    // ---- E6: history-lookup API shape ---------------------------------------
    QueryDef(
      "e6_history_lookup",
      "search_person_by_name: name-substring match + history counts, ranked (DB-schema.sql:377-492)",
      Some("""
        SELECT c.c_custkey, c.c_name,
               COUNT(o.o_orderkey) AS order_count,
               CAST(floor(epoch(MAX(o.o_orderdate))) AS BIGINT) AS last_order_epoch
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_name LIKE '%00001%'
        GROUP BY c.c_custkey, c.c_name
        ORDER BY order_count DESC, c.c_custkey LIMIT 20
      """)) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_name").contains("00001"))
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("order_count"),
          unix_timestamp(max(col("o_orderdate"))).as("last_order_epoch"))
        .orderBy(col("order_count").desc, col("c_custkey")).limit(20)
    },

    // ---- L1: relevance-scored section selection ------------------------------
    QueryDef(
      "l1_relevance_sections",
      "Split text into sections, keyword-score each, keep top-2 per doc within budget (extractor_drugs.py:159-304)",
      Some("""
        WITH tok AS (
          SELECT doc_id, generate_subscripts(arr, 1) - 1 AS pos, unnest(arr) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr
                FROM documents WHERE doc_id % 4 = 0)
        ),
        sections AS (
          SELECT doc_id, CAST(floor(pos / 20) AS BIGINT) AS section_id,
                 COUNT(*) AS n_tokens,
                 CAST(SUM(CASE WHEN w IN ('merge', 'join', 'filter') THEN 1 ELSE 0 END) AS BIGINT)
                   AS relevance
          FROM tok GROUP BY doc_id, CAST(floor(pos / 20) AS BIGINT)
        )
        SELECT doc_id, section_id, n_tokens, relevance FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY relevance DESC, section_id) AS rn
          FROM sections
        ) WHERE rn <= 2
      """)) { (s, dir) =>
      val tok = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), posexplode(Text.tokens).as(Seq("pos", "w")))
      val sections = tok
        .groupBy(col("doc_id"), floor(col("pos") / 20).as("section_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("w").isin("merge", "join", "filter"), 1).otherwise(0))
            .as("relevance"))
      val w = Window.partitionBy("doc_id").orderBy(col("relevance").desc, col("section_id"))
      sections.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .select(col("doc_id"), col("section_id"), col("n_tokens"), col("relevance"))
    },

    // ---- L2: schema-validated extraction with quarantine ---------------------
    QueryDef(
      "l2_schema_validation",
      "from_json schema validation; malformed payloads quarantined, valid rows typed (llm_service.py:253-292 boundary)",
      Some("""
        WITH raw AS (
          SELECT event_id,
                 CASE WHEN event_id % 13 = 0 THEN 'x' || props ELSE props END AS payload
          FROM events WHERE event_id % 3 = 0
        )
        SELECT json_valid(payload) AS is_valid,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN json_valid(payload)
                    THEN CAST(json_extract_string(payload, '$.k') AS BIGINT) ELSE 0 END) AS BIGINT)
                 AS k_sum
        FROM raw GROUP BY 1
      """)) { (s, dir) =>
      val raw = t(s, dir, "events").filter(col("event_id") % 3 === 0)
        .select(col("event_id"),
          when(col("event_id") % 13 === 0, concat(lit("x"), col("props")))
            .otherwise(col("props")).as("payload"))
      val parsed = from_json(col("payload"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))))
      // PERMISSIVE from_json yields an all-NULL struct for malformed input
      // (not a NULL struct): validity = the required field materialized.
      raw.select(parsed.as("parsed"))
        .groupBy(col("parsed.k").isNotNull.as("is_valid"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("parsed.k"), lit(0L))).as("k_sum"))
    },

    // ---- J13: as-of (point-in-time) join ----------------------------------
    // For every click, the latest purchase by the same user at-or-before
    // the click's timestamp — the point-in-time lookup feature pipelines
    // need (and the backward complement of the forward interval-join
    // attribution in EventsStream). The scalable formulation is NOT an
    // inequality join (quadratic per user): union both sides with a
    // marker, ONE shuffle on the user key, one sort by (ts, marker), and
    // a running last-non-null window carries each purchase forward to the
    // clicks after it. Purchases sort before clicks at equal ts, making
    // the bound inclusive exactly like the oracle's c.ts >= p.ts.
    QueryDef(
      "j13_asof_join",
      "As-of join: latest same-user purchase at-or-before each click via union + running last-non-null window (one shuffle, no inequality join)",
      Some("""
        WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        p AS (SELECT * FROM events WHERE event_type = 'purchase')
        SELECT c.event_id AS click_id,
               c.user_id,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
               COALESCE(p.event_id, -1) AS purchase_id,
               CAST(COALESCE(p.value, -1) AS DOUBLE) AS purchase_value,
               COALESCE(CAST(floor(epoch(c.ts)) AS BIGINT)
                        - CAST(floor(epoch(p.ts)) AS BIGINT), -1) AS gap_sec
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND c.ts >= p.ts
      """)) { (s, dir) =>
      val tagged = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          when(col("event_type") === "purchase", 0).otherwise(1).as("m"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("m"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def carried(c: Column) = last(when(col("m") === 0, c), ignoreNulls = true).over(w)
      tagged
        .withColumn("p_id", carried(col("event_id")))
        .withColumn("p_value", carried(col("value")))
        .withColumn("p_ts", carried(col("ts")))
        .filter(col("m") === 1)
        .select(
          col("event_id").as("click_id"),
          col("user_id"),
          unix_timestamp(col("ts")).as("click_epoch"),
          coalesce(col("p_id"), lit(-1L)).as("purchase_id"),
          coalesce(col("p_value"), lit(-1.0)).cast("double").as("purchase_value"),
          coalesce(unix_timestamp(col("ts")) - unix_timestamp(col("p_ts")), lit(-1L))
            .as("gap_sec"))
    },

    // ---- W8: grouped top-k via bounded typed Aggregator ---------------------
    QueryDef(
      "w8_grouped_topk_agg",
      "Per-customer top-3 order values via a k-bounded typed Aggregator (partial top-k merge: the shuffle carries <= k doubles per group per map task, vs a window's full per-group sort)",
      Some("""
        SELECT o_custkey,
               CAST(generate_subscripts(top3, 1) - 1 AS BIGINT) AS rank,
               unnest(top3) AS val
        FROM (
          SELECT o_custkey,
                 (list(o_totalprice ORDER BY o_totalprice DESC))[1:3] AS top3
          FROM orders GROUP BY o_custkey)
      """)) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKAggregator.top_k(col("o_totalprice"), 3).as("top3"))
        .select(col("o_custkey"), posexplode(col("top3")).as(Seq("rank", "val")))
        .withColumn("rank", col("rank").cast("long"))
    },

    // ---- W9: running cumulative total per key -------------------------------
    QueryDef(
      "w9_running_total",
      "Per-customer cumulative order value in date order (UNBOUNDED PRECEDING frame); one shuffle on the partition key, total order pinned by the key tie-break",
      Some("""
        SELECT o_orderkey, o_custkey,
               round(SUM(o_totalprice) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        FROM orders
      """)) { (s, dir) =>
      // round(2) on both sides: cumulative frames may aggregate in
      // different internal orders across engines (segment trees vs
      // straight accumulation); the ~1e-9 noise is far under a cent
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
    })
}
