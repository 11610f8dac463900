package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}

/** Silver-layer conform operators (SURVEY.md §2.2 P1–P12 + §2.4 J2 +
  * §2.1 S2): field-map projection with a canonical catch-all, blank and
  * type coercion with quarantine, multi-format timestamp parsing,
  * truncation, parent-value fallback, in-batch dedup, unit conversion,
  * optional-FK left-join chains, and the date-range chunk generator.
  */
object Conform {

  val defs: Seq[QueryDef] = Seq(

    // ---- P1: field-map projection + canonical catch-all ------------------
    QueryDef(
      "p1_field_map",
      "API-key projection with catch-all of unmapped fields as canonical JSON (etl_crimes.py:484-531)",
      Some("""
        SELECT event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS event_epoch,
               user_id,
               '{"event_type":"' || event_type || '","props":' || props || '}' AS additional_json
        FROM events WHERE event_id % 10 = 0
      """)) { (s, dir) =>
      t(s, dir, "events").filter(col("event_id") % 10 === 0)
        .select(col("event_id"),
          unix_timestamp(col("ts")).as("event_epoch"),
          col("user_id"),
          concat(lit("{\"event_type\":\""), col("event_type"),
            lit("\",\"props\":"), col("props"), lit("}")).as("additional_json"))
    },

    // ---- P2: blank/placeholder normalization ------------------------------
    QueryDef(
      "p2_blank_normalize",
      "''/'na'/'n/a'/'none'/'-' → NULL (etl_properties.py:617)",
      Some("""
        WITH raw AS (
          SELECT event_id,
                 CASE event_id % 7 WHEN 0 THEN '' WHEN 1 THEN 'na' WHEN 2 THEN ' N/A '
                      WHEN 3 THEN 'None' WHEN 4 THEN '-' ELSE event_type END AS v
          FROM events
        )
        SELECT CASE WHEN trim(lower(v)) IN ('', 'na', 'n/a', 'none', 'null', '-')
                    THEN NULL ELSE v END AS normalized,
               COUNT(*) AS n
        FROM raw GROUP BY 1
      """)) { (s, dir) =>
      val raw = t(s, dir, "events").select(col("event_id"),
        when(col("event_id") % 7 === 0, "")
          .when(col("event_id") % 7 === 1, "na")
          .when(col("event_id") % 7 === 2, " N/A ")
          .when(col("event_id") % 7 === 3, "None")
          .when(col("event_id") % 7 === 4, "-")
          .otherwise(col("event_type")).as("v"))
      raw.select(
        when(trim(lower(col("v"))).isin("", "na", "n/a", "none", "null", "-"), lit(null))
          .otherwise(col("v")).as("normalized"))
        .groupBy(col("normalized")).agg(count(lit(1)).as("n"))
    },

    // ---- P3/P4: numeric + boolean coercion with quarantine ----------------
    QueryDef(
      "p3_p4_coercion",
      "try_cast numeric coercion with quarantine flag + truthy-string bool parser (etl_properties.py:624,640)",
      Some("""
        WITH raw AS (
          SELECT event_id,
                 CASE event_id % 5 WHEN 0 THEN CAST(value AS VARCHAR) WHEN 1 THEN ''
                      WHEN 2 THEN 'abc' WHEN 3 THEN ' ' || CAST(event_id AS VARCHAR)
                      ELSE NULL END AS num_str,
                 CASE event_id % 6 WHEN 0 THEN 'true' WHEN 1 THEN 'YES' WHEN 2 THEN '1'
                      WHEN 3 THEN 'F' WHEN 4 THEN 'off' ELSE 'maybe' END AS bool_str
          FROM events
        )
        SELECT num_parsed IS NOT NULL AS num_ok,
               num_str IS NOT NULL AND trim(num_str) <> '' AND num_parsed IS NULL AS quarantined,
               COALESCE(CAST(bool_parsed AS VARCHAR), 'unparsed') AS bool_state, COUNT(*) AS n,
               CAST(SUM(COALESCE(num_parsed, 0)) AS DOUBLE) AS num_sum
        FROM (
          SELECT *,
                 TRY_CAST(num_str AS DECIMAL(18,2)) AS num_parsed,
                 CASE WHEN trim(lower(bool_str)) IN ('true','t','yes','y','1','on') THEN 'true'
                      WHEN trim(lower(bool_str)) IN ('false','f','no','n','0','off') THEN 'false'
                      END AS bool_parsed
          FROM raw
        ) GROUP BY 1, 2, 3
      """)) { (s, dir) =>
      val raw = t(s, dir, "events").select(col("event_id"),
        when(col("event_id") % 5 === 0, col("value").cast("string"))
          .when(col("event_id") % 5 === 1, lit(""))
          .when(col("event_id") % 5 === 2, lit("abc"))
          .when(col("event_id") % 5 === 3, concat(lit(" "), col("event_id").cast("string")))
          .otherwise(lit(null)).as("num_str"),
        when(col("event_id") % 6 === 0, "true").when(col("event_id") % 6 === 1, "YES")
          .when(col("event_id") % 6 === 2, "1").when(col("event_id") % 6 === 3, "F")
          .when(col("event_id") % 6 === 4, "off").otherwise("maybe").as("bool_str"))
      val typed = raw.select(col("num_str"),
        col("num_str").try_cast("decimal(18,2)").as("num_parsed"),
        when(trim(lower(col("bool_str"))).isin("true", "t", "yes", "y", "1", "on"), "true")
          .when(trim(lower(col("bool_str"))).isin("false", "f", "no", "n", "0", "off"), "false")
          .as("bool_parsed"))
      typed.groupBy(
        col("num_parsed").isNotNull.as("num_ok"),
        (col("num_str").isNotNull && trim(col("num_str")) =!= "" &&
          col("num_parsed").isNull).as("quarantined"),
        coalesce(col("bool_parsed"), lit("unparsed")).as("bool_state"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("num_parsed"), lit(0))).cast("double").as("num_sum"))
    },

    // ---- P5: multi-format timestamp parsing -------------------------------
    QueryDef(
      "p5_multiformat_ts",
      "coalesce of try-parses over several timestamp formats (etl_crimes.py:76-101)",
      Some("""
        WITH raw AS (
          SELECT event_id,
                 CASE event_id % 3
                   WHEN 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
                   WHEN 1 THEN strftime(ts, '%d/%m/%Y')
                   ELSE 'not-a-date' END AS s
          FROM events WHERE event_id % 4 = 0
        )
        SELECT event_id, s,
               CAST(floor(epoch(COALESCE(try_strptime(s, '%Y-%m-%d %H:%M:%S'),
                                         try_strptime(s, '%d/%m/%Y')))) AS BIGINT) AS parsed_epoch
        FROM raw
      """)) { (s, dir) =>
      val raw = t(s, dir, "events").filter(col("event_id") % 4 === 0)
        .select(col("event_id"),
          when(col("event_id") % 3 === 0, date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
            .when(col("event_id") % 3 === 1, date_format(col("ts"), "dd/MM/yyyy"))
            .otherwise("not-a-date").as("s"))
      raw.select(col("event_id"), col("s"),
        unix_timestamp(coalesce(
          try_to_timestamp(col("s"), lit("yyyy-MM-dd HH:mm:ss")),
          try_to_timestamp(col("s"), lit("dd/MM/yyyy")))).as("parsed_epoch"))
    },

    // ---- P6: string truncation to column width ----------------------------
    QueryDef(
      "p6_truncate",
      "Clamp to VARCHAR(n) with truncation flag (etl_persons.py:1043)",
      Some("""
        SELECT event_type,
               substr(event_type, 1, 4) AS clamped,
               length(event_type) > 4 AS was_truncated,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
      """)) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"),
          substring(col("event_type"), 1, 4).as("clamped"),
          (length(col("event_type")) > 4).as("was_truncated"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- P9: parent-value fallback ---------------------------------------
    QueryDef(
      "p9_parent_fallback",
      "Missing child dates inherit the parent's (etl_accused.py:1281-1300)",
      Some("""
        SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
               CAST(floor(epoch(COALESCE(
                 CASE WHEN l.l_partkey % 7 = 0 THEN NULL ELSE l.l_shipdate END,
                 o.o_orderdate))) AS BIGINT) AS effective_epoch,
               CASE WHEN l.l_partkey % 7 = 0 THEN 'parent' ELSE 'own' END AS date_source
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_orderkey % 15 = 0
      """)) { (s, dir) =>
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 15 === 0)
        .withColumn("ship",
          when(col("l_partkey") % 7 === 0, lit(null)).otherwise(col("l_shipdate")))
      li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          unix_timestamp(coalesce(col("ship"), col("o_orderdate"))).as("effective_epoch"),
          when(col("l_partkey") % 7 === 0, "parent").otherwise("own").as("date_source"))
    },

    // ---- P10: dedup-within-batch, last write wins -------------------------
    QueryDef(
      "p10_dedup_batch",
      "Duplicate PKs within a chunk: keep last by sequence, count dups (etl_crimes.py:853-870)",
      Some("""
        SELECT pk, event_id AS kept_seq, dup_count FROM (
          SELECT event_id % 1000 AS pk, event_id,
                 ROW_NUMBER() OVER (PARTITION BY event_id % 1000 ORDER BY event_id DESC) AS rn,
                 COUNT(*) OVER (PARTITION BY event_id % 1000) AS dup_count
          FROM events
        ) WHERE rn = 1
      """)) { (s, dir) =>
      val w = Window.partitionBy(col("pk")).orderBy(col("event_id").desc)
      val wc = Window.partitionBy(col("pk"))
      t(s, dir, "events")
        .select((col("event_id") % 1000).as("pk"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("dup_count", count(lit(1)).over(wc))
        .filter(col("rn") === 1)
        .select(col("pk"), col("event_id").as("kept_seq"), col("dup_count"))
    },

    // ---- P12: unit conversions --------------------------------------------
    QueryDef(
      "p12_unit_conversion",
      "cm→feet+inches display string; g→kg decimal (etl_migration.py:227-267)",
      Some("""
        SELECT p_partkey,
               CAST(floor(p_size / 12) AS BIGINT) || 'ft ' || (p_size % 12) || 'in' AS height_display,
               CAST(CAST(CAST(p_retailprice AS DECIMAL(18,2)) / 1000 AS DECIMAL(18,5)) AS DOUBLE) AS weight_kg
        FROM part WHERE p_partkey % 9 = 0
      """)) { (s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") % 9 === 0)
        .select(col("p_partkey"),
          concat(floor(col("p_size") / 12).cast("long"), lit("ft "),
            col("p_size") % 12, lit("in")).as("height_display"),
          (col("p_retailprice").cast("decimal(18,2)") / 1000)
            .cast("decimal(18,5)").cast("double").as("weight_kg"))
    },

    // ---- J2: 4-way chain with optional (left) joins ------------------------
    QueryDef(
      "j2_leftjoin_chain",
      "Fact ⋈ parent ⟕ optional dims; null-rate rollup (advanced_search_accuseds_mv.sql:141-146)",
      Some("""
        SELECT p.p_partkey IS NOT NULL AS part_matched,
               s.s_suppkey IS NOT NULL AS supp_matched,
               o.o_orderstatus,
               COUNT(*) AS n,
               COALESCE(CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS part_value
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN (SELECT * FROM part WHERE p_size > 25) p ON l.l_partkey = p.p_partkey
        LEFT JOIN (SELECT * FROM supplier WHERE s_acctbal > 0) s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2, 3
      """)) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "part").filter(col("p_size") > 25)),
          col("l_partkey") === col("p_partkey"), "left")
        .join(broadcast(t(s, dir, "supplier").filter(col("s_acctbal") > 0)),
          col("l_suppkey") === col("s_suppkey"), "left")
        .groupBy(
          col("p_partkey").isNotNull.as("part_matched"),
          col("s_suppkey").isNotNull.as("supp_matched"),
          col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double"), lit(0.0)).as("part_value"))
    },

    // ---- S2: date-range chunk generator ------------------------------------
    QueryDef(
      "s2_chunk_generator",
      "5-day chunks stepping 4 days (1-day overlap), driver-free (etl_crimes.py:354-379)",
      Some("""
        SELECT CAST(floor(epoch(chunk_start)) AS BIGINT) AS start_epoch,
               CAST(floor(epoch(chunk_start + INTERVAL 5 DAY)) AS BIGINT) AS end_epoch
        FROM (
          SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
                                        INTERVAL 4 DAY)) AS chunk_start
        )
      """)) { (s, dir) =>
      s.range(1)
        .select(explode(sequence(
          to_timestamp(lit("2024-01-01 00:00:00")),
          to_timestamp(lit("2024-01-30 00:00:00")),
          expr("interval 4 days"))).as("chunk_start"))
        .select(unix_timestamp(col("chunk_start")).as("start_epoch"),
          unix_timestamp(col("chunk_start") + expr("interval 5 days")).as("end_epoch"))
    })
}
