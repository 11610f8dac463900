package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QueryDef
import graft.core.Parity
import graft.core.Tables.{apply => t}
import graft.search.Text

/** JSON / array / map operators (SURVEY.md §2.7 N1–N8): the reference's
  * JSONB-heavy surface — array explode with ordinality, typed extraction
  * with cast+nullif, nested-struct flatten, array-of-struct child fan-out,
  * bottom-up JSON document assembly, mixed-type media normalization, and
  * canonical (key-sorted) JSON for change detection.
  */
object Nested {

  /** N4 at reference breadth: the reference fans one parent document into
    * ~24 child tables driven by a declarative child-spec list
    * (`etl-ir/ir_etl.py:918-1491` — one spec per child). Each spec here
    * contributes (a) one aggregate column to a single groupBy and (b) one
    * fan-out branch; the DuckDB oracle is GENERATED from the same spec
    * list, so adding a child is a one-line change on both sides.
    *
    * @param agg        array<string> aggregate — already sorted + rendered
    * @param sqlVal     DuckDB expression for the rendered value
    * @param numericOrder distinct children: order buckets numerically
    * @param orderedSql non-distinct children: explicit ORDER BY columns
    * @param sqlFrom    override for the oracle's distinct source subquery
    *                   (bare-string-array children unnest a per-row array)
    */
  private final case class ChildSpec(
      name: String,
      agg: Column,
      sqlVal: String,
      numericOrder: Boolean,
      orderedSql: Option[String] = None,
      sqlFrom: Option[String] = None)

  private def distinctChild(name: String, sparkExpr: Column, sqlVal: String,
      numeric: Boolean): ChildSpec =
    ChildSpec(name,
      transform(array_sort(collect_set(sparkExpr)), x => x.cast("string")),
      sqlVal, numeric)

  private val childSpecs: Seq[ChildSpec] = Seq(
    ChildSpec("items",
      transform(array_sort(collect_list(struct(
        col("l_linenumber").as("ln"), col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("q")))),
        x => x.getField("pk").cast("string")),
      "CAST(l_partkey AS VARCHAR)", numericOrder = false,
      orderedSql = Some("l_linenumber, l_partkey, CAST(l_quantity AS BIGINT)")),
    distinctChild("flags", col("l_returnflag"), "l_returnflag", numeric = false),
    distinctChild("statuses", col("l_linestatus"), "l_linestatus", numeric = false),
    distinctChild("suppliers", col("l_suppkey"),
      "CAST(l_suppkey AS VARCHAR)", numeric = true),
    distinctChild("parts", col("l_partkey"),
      "CAST(l_partkey AS VARCHAR)", numeric = true),
    distinctChild("quantities", col("l_quantity").cast("long"),
      "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)", numeric = true),
    distinctChild("ship_epochs", unix_timestamp(col("l_shipdate")),
      "CAST(CAST(floor(epoch(l_shipdate)) AS BIGINT) AS VARCHAR)", numeric = true),
    distinctChild("ship_years", year(col("l_shipdate")),
      "CAST(CAST(year(l_shipdate) AS INTEGER) AS VARCHAR)", numeric = true),
    distinctChild("ship_months", date_format(col("l_shipdate"), "yyyy-MM"),
      "strftime(l_shipdate, '%Y-%m')", numeric = false),
    distinctChild("discount_pct", round(col("l_discount") * 100).cast("long"),
      "CAST(CAST(round(l_discount * 100) AS BIGINT) AS VARCHAR)", numeric = true),
    distinctChild("tax_pct", round(col("l_tax") * 100).cast("long"),
      "CAST(CAST(round(l_tax * 100) AS BIGINT) AS VARCHAR)", numeric = true),
    distinctChild("price_k", floor(col("l_extendedprice") / 1000).cast("long"),
      "CAST(CAST(floor(l_extendedprice / 1000) AS BIGINT) AS VARCHAR)", numeric = true),
    distinctChild("flag_status",
      concat_ws("-", col("l_returnflag"), col("l_linestatus")),
      "l_returnflag || '-' || l_linestatus", numeric = false),
    // ---- round-5 additions: the 11 remaining child shapes ---------------
    // Bare-string-array child (REGULAR_HABITS pattern, ir_etl.py:918-1491):
    // each ROW carries a plain array<string>; the child is the flattened,
    // deduped union across the group — explode of a non-struct array.
    ChildSpec("habits",
      array_sort(array_distinct(flatten(collect_list(array(
        concat(lit("flag:"), col("l_returnflag")),
        concat(lit("status:"), col("l_linestatus")),
        concat(lit("qty:"), floor(col("l_quantity") / 10).cast("long").cast("string"))))))),
      "v", numericOrder = false,
      sqlFrom = Some("(SELECT DISTINCT l_orderkey, unnest([" +
        "'flag:' || l_returnflag, 'status:' || l_linestatus, " +
        "'qty:' || CAST(CAST(floor(l_quantity / 10) AS BIGINT) AS VARCHAR)]) AS v FROM li)")),
    distinctChild("line_numbers", col("l_linenumber"),
      "CAST(l_linenumber AS VARCHAR)", numeric = true),
    distinctChild("ship_days", dayofmonth(col("l_shipdate")),
      "CAST(CAST(day(l_shipdate) AS INTEGER) AS VARCHAR)", numeric = true),
    distinctChild("ship_dows", weekday(col("l_shipdate")),
      "CAST(CAST(isodow(l_shipdate) - 1 AS INTEGER) AS VARCHAR)", numeric = true),
    distinctChild("qty_buckets", floor(col("l_quantity") / 10).cast("long"),
      "CAST(CAST(floor(l_quantity / 10) AS BIGINT) AS VARCHAR)", numeric = true),
    distinctChild("price_units", floor(col("l_extendedprice")).cast("long"),
      "CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR)", numeric = true),
    distinctChild("revenue_k",
      floor(col("l_extendedprice") * (lit(1) - col("l_discount")) / 1000).cast("long"),
      "CAST(CAST(floor(l_extendedprice * (1 - l_discount) / 1000) AS BIGINT) AS VARCHAR)",
      numeric = true),
    distinctChild("ship_quarters",
      concat(year(col("l_shipdate")).cast("string"), lit("-Q"),
        quarter(col("l_shipdate")).cast("string")),
      "CAST(year(l_shipdate) AS VARCHAR) || '-Q' || CAST(quarter(l_shipdate) AS VARCHAR)",
      numeric = false),
    distinctChild("tax_disc_sum",
      round((col("l_tax") + col("l_discount")) * 100).cast("long"),
      "CAST(CAST(round((l_tax + l_discount) * 100) AS BIGINT) AS VARCHAR)",
      numeric = true),
    ChildSpec("qty_sequence",
      transform(array_sort(collect_list(struct(
        col("l_linenumber").as("ln"), col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("q")))),
        x => x.getField("q").cast("string")),
      "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)", numericOrder = false,
      orderedSql = Some("l_linenumber, l_partkey, CAST(l_quantity AS BIGINT)")),
    ChildSpec("supp_sequence",
      transform(array_sort(collect_list(struct(
        col("l_linenumber").as("ln"), col("l_suppkey").as("sk")))),
        x => x.getField("sk").cast("string")),
      "CAST(l_suppkey AS VARCHAR)", numericOrder = false,
      orderedSql = Some("l_linenumber, l_suppkey")))

  private def childSql(sp: ChildSpec): String = sp.orderedSql match {
    case Some(ord) =>
      s"SELECT '${sp.name}' AS child, l_orderkey, CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY $ord) - 1 AS INTEGER) AS ord, ${sp.sqlVal} AS v FROM li"
    case None =>
      val ordExpr = if (sp.numericOrder) "CAST(v AS BIGINT)" else "v"
      val src = sp.sqlFrom.getOrElse(s"(SELECT DISTINCT l_orderkey, ${sp.sqlVal} AS v FROM li)")
      s"SELECT '${sp.name}' AS child, l_orderkey, CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY $ordExpr) - 1 AS INTEGER) AS ord, v FROM $src"
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- N1: array explode WITH ORDINALITY ------------------------------
    QueryDef(
      "n1_explode_ordinality",
      "posexplode ≅ jsonb_array_elements WITH ORDINALITY (unified_brief_facts_etl.sql:100-101)",
      Some("""
        SELECT doc_id, generate_subscripts(arr, 1) - 1 AS pos, unnest(arr) AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS arr
              FROM documents WHERE doc_id < 100)
      """)) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), posexplode(Text.tokens).as(Seq("pos", "word")))
    },

    // ---- N2a: JSON scalar extraction + cast + nullif --------------------
    QueryDef(
      "n2_json_extract_cast",
      "(props->>'k')::int with NULLIF guard, grouped rollup (unified_brief_facts_etl.sql:78-97)",
      Some("""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE NULLIF(json_extract_string(props, '$.k'), '') IS NOT NULL
        GROUP BY 1
      """)) { (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", nullif(get_json_object(col("props"), "$.k"), lit("")))
        .filter(col("k").isNotNull)
        .groupBy((col("k").cast("long") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), Parity.dsum(col("value")).as("sum_value"))
    },

    // ---- N2b: JSON array round-trip: build → parse → explode → cast -----
    QueryDef(
      "n2_json_array_roundtrip",
      "JSON array column parsed back to typed rows: from_json + posexplode + cast (drugs JSONB flatten)",
      Some("""
        SELECT l_orderkey,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, CAST(l_quantity AS BIGINT)) - 1 AS ord,
               l_partkey AS partkey,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem WHERE l_orderkey % 20 = 0
      """)) { (s, dir) =>
      val itemSchema = ArrayType(StructType(Seq(
        StructField("ln", IntegerType), StructField("partkey", LongType),
        StructField("qty", LongType))))
      // build the JSONB-like array column, then genuinely re-parse it
      val built = t(s, dir, "lineitem").filter(col("l_orderkey") % 20 === 0)
        .groupBy(col("l_orderkey"))
        .agg(to_json(array_sort(collect_list(struct(
          col("l_linenumber").as("ln"), col("l_partkey").as("partkey"),
          col("l_quantity").cast("long").as("qty"))))).as("items_json"))
      built
        .select(col("l_orderkey"),
          posexplode(from_json(col("items_json"), itemSchema)).as(Seq("ord", "item")))
        .select(col("l_orderkey"), col("ord"),
          col("item.partkey").as("partkey"), col("item.qty").as("qty"))
    },

    // ---- N3: nested-struct flatten via dotted paths ---------------------
    QueryDef(
      "n3_nested_flatten",
      "PRESENT_WHEREABOUTS.IN_JAIL.IS_IN_JAIL-style dotted flatten (ir_etl.py:685-714)",
      Some("""
        SELECT c_custkey, c_nationkey AS nation, c_mktsegment AS segment, c_acctbal AS balance
        FROM customer
      """)) { (s, dir) =>
      val nested = t(s, dir, "customer").select(
        col("c_custkey"),
        struct(
          struct(col("c_nationkey").as("nation"), col("c_mktsegment").as("segment")).as("geo"),
          struct(col("c_acctbal").as("balance")).as("fin")).as("profile"))
      nested.select(
        col("c_custkey"),
        col("profile.geo.nation").as("nation"),
        col("profile.geo.segment").as("segment"),
        col("profile.fin.balance").as("balance"))
    },

    // ---- N4: array-of-struct fan-out to child tables (incl. empty) ------
    QueryDef(
      "n4_child_fanout",
      "Per-array child-table fan-out with explode_outer; childless parents produce a NULL row (ir_etl.py:918-1491)",
      Some("""
        WITH parents AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 7),
        items AS (
          SELECT p.o_orderkey,
                 CASE WHEN l.l_orderkey IS NULL THEN NULL
                      ELSE ROW_NUMBER() OVER (PARTITION BY p.o_orderkey, (l.l_orderkey IS NULL) ORDER BY l.l_linenumber, l.l_partkey) - 1 END AS ord,
                 l.l_partkey AS partkey
          FROM parents p LEFT JOIN lineitem l ON p.o_orderkey = l.l_orderkey
        ),
        flags AS (
          SELECT o_orderkey, fl, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY fl) - 1 AS ord FROM (
            SELECT DISTINCT p.o_orderkey, l.l_returnflag AS fl
            FROM parents p JOIN lineitem l ON p.o_orderkey = l.l_orderkey
          )
        )
        SELECT 'items' AS child, o_orderkey, ord, CAST(partkey AS VARCHAR) AS v FROM items
        UNION ALL
        SELECT 'flags' AS child, o_orderkey, ord, fl AS v FROM flags
      """)) { (s, dir) =>
      val parents = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 7)
        .select(col("o_orderkey"))
      val li = t(s, dir, "lineitem")
      // assemble the parent document: two array-of-struct child columns
      val doc = parents
        .join(li.groupBy(col("l_orderkey")).agg(
          array_sort(collect_list(struct(col("l_linenumber").as("ln"),
            col("l_partkey").as("partkey")))).as("items"),
          array_sort(collect_set(col("l_returnflag"))).as("flags")),
          col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), col("items"), col("flags"))
      // fan out each array into its own child table, keeping childless parents
      val itemsChild = doc
        .select(col("o_orderkey"), posexplode_outer(col("items")).as(Seq("ord", "item")))
        .select(lit("items").as("child"), col("o_orderkey"), col("ord"),
          col("item.partkey").cast("string").as("v"))
      val flagsChild = doc.filter(size(col("flags")) > 0)
        .select(col("o_orderkey"), posexplode(col("flags")).as(Seq("ord", "v")))
        .select(lit("flags").as("child"), col("o_orderkey"), col("ord"), col("v"))
      itemsChild.unionByName(flagsChild)
    },

    // ---- N4 at depth: one parent doc fanned into six child tables --------
    QueryDef(
      "n4_wide_fanout",
      "Assemble one parent doc with six array columns, fan each into its own child table in one pass (the 24-child IR pattern, ir_etl.py:918-1491)",
      Some("""
        WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 12 = 5),
        c_items AS (
          SELECT 'items' AS child, l_orderkey, ROW_NUMBER() OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, CAST(l_quantity AS BIGINT)) - 1 AS ord,
            CAST(l_partkey AS VARCHAR) AS v
          FROM li),
        c_flags AS (
          SELECT 'flags', l_orderkey, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY v) - 1, v
          FROM (SELECT DISTINCT l_orderkey, l_returnflag AS v FROM li)),
        c_statuses AS (
          SELECT 'statuses', l_orderkey, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY v) - 1, v
          FROM (SELECT DISTINCT l_orderkey, l_linestatus AS v FROM li)),
        c_suppliers AS (
          SELECT 'suppliers', l_orderkey, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY CAST(v AS BIGINT)) - 1, v
          FROM (SELECT DISTINCT l_orderkey, CAST(l_suppkey AS VARCHAR) AS v FROM li)),
        c_ship AS (
          SELECT 'ship_epochs', l_orderkey, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY CAST(v AS BIGINT)) - 1, v
          FROM (SELECT DISTINCT l_orderkey, CAST(CAST(floor(epoch(l_shipdate)) AS BIGINT) AS VARCHAR) AS v FROM li)),
        c_qty AS (
          SELECT 'quantities', l_orderkey, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY CAST(v AS BIGINT)) - 1, v
          FROM (SELECT DISTINCT l_orderkey, CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS v FROM li))
        SELECT * FROM c_items UNION ALL SELECT * FROM c_flags
        UNION ALL SELECT * FROM c_statuses UNION ALL SELECT * FROM c_suppliers
        UNION ALL SELECT * FROM c_ship UNION ALL SELECT * FROM c_qty
      """)) { (s, dir) =>
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 12 === 5)
      // single pass: assemble the parent document with all six child arrays
      val doc = li.groupBy(col("l_orderkey")).agg(
        array_sort(collect_list(struct(col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"), col("l_quantity").cast("long").as("q"))))
          .as("items"),
        array_sort(collect_set(col("l_returnflag"))).as("flags"),
        array_sort(collect_set(col("l_linestatus"))).as("statuses"),
        array_sort(collect_set(col("l_suppkey"))).as("suppliers"),
        array_sort(collect_set(unix_timestamp(col("l_shipdate")))).as("ship_epochs"),
        array_sort(collect_set(col("l_quantity").cast("long"))).as("quantities"))
      def childOf(name: String, arr: Column, render: Column => Column) =
        doc.select(lit(name).as("child"), col("l_orderkey"),
          posexplode(arr).as(Seq("ord", "x")))
          .select(col("child"), col("l_orderkey"), col("ord"),
            render(col("x")).as("v"))
      childOf("items", col("items"), _.getField("pk").cast("string"))
        .unionByName(childOf("flags", col("flags"), _.cast("string")))
        .unionByName(childOf("statuses", col("statuses"), _.cast("string")))
        .unionByName(childOf("suppliers", col("suppliers"), _.cast("string")))
        .unionByName(childOf("ship_epochs", col("ship_epochs"), _.cast("string")))
        .unionByName(childOf("quantities", col("quantities"), _.cast("string")))
    },

    // ---- N5/N6: bottom-up JSON document assembly ------------------------
    QueryDef(
      "n6_json_doc_assembly",
      "Nested JSON doc built bottom-up: child agg → struct → to_json (firs_mv.sql:96-103,171-174)",
      Some("""
        SELECT o.o_orderkey,
               '{"o_orderkey":' || o.o_orderkey || ',"status":"' || o.o_orderstatus ||
               '","items":[' || COALESCE(i.items, '') || ']}' AS doc
        FROM orders o
        LEFT JOIN (
          SELECT l_orderkey,
                 string_agg('{"ln":' || l_linenumber || ',"partkey":' || l_partkey || '}',
                            ',' ORDER BY l_linenumber, l_partkey) AS items
          FROM lineitem GROUP BY l_orderkey
        ) i ON o.o_orderkey = i.l_orderkey
        WHERE o.o_orderkey % 10 = 3
      """)) { (s, dir) =>
      val items = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(struct(
          col("l_linenumber").as("ln"), col("l_partkey").as("partkey")))).as("items"))
      t(s, dir, "orders").filter(col("o_orderkey") % 10 === 3)
        .join(items, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"),
          to_json(struct(
            col("o_orderkey"),
            col("o_orderstatus").as("status"),
            coalesce(col("items"), array().cast(
              "array<struct<ln:int,partkey:bigint>>")).as("items"))).as("doc"))
    },

    // ---- N7: media normalization with type dispatch ---------------------
    QueryDef(
      "n7_media_dispatch",
      "API media array/object/scalar → normalized child rows (etl_properties.py:706-749)",
      Some("""
        WITH ev AS (
          SELECT event_id, event_type,
                 CASE event_type
                   WHEN 'click' THEN '[{"u":"m0"},{"u":"m1"}]'
                   WHEN 'view'  THEN '{"u":"single"}'
                   ELSE 'raw-' || event_type END AS media
          FROM events WHERE event_id % 25 = 0
        )
        SELECT event_id, 'array' AS kind, u AS url FROM (
          SELECT event_id, unnest(['m0','m1']) AS u FROM ev WHERE event_type = 'click')
        UNION ALL
        SELECT event_id, 'object' AS kind, 'single' AS url FROM ev WHERE event_type = 'view'
        UNION ALL
        SELECT event_id, 'scalar' AS kind, media AS url FROM ev
        WHERE event_type NOT IN ('click','view')
      """)) { (s, dir) =>
      val arrSchema = ArrayType(StructType(Seq(StructField("u", StringType))))
      val objSchema = StructType(Seq(StructField("u", StringType)))
      val ev = t(s, dir, "events").filter(col("event_id") % 25 === 0)
        .withColumn("media",
          when(col("event_type") === "click", lit("""[{"u":"m0"},{"u":"m1"}]"""))
            .when(col("event_type") === "view", lit("""{"u":"single"}"""))
            .otherwise(concat(lit("raw-"), col("event_type"))))
      // genuine type dispatch on the JSON payload shape
      val kind = when(col("media").startsWith("["), "array")
        .when(col("media").startsWith("{"), "object")
        .otherwise("scalar")
      val urls = when(kind === "array",
          transform(from_json(col("media"), arrSchema), x => x.getField("u")))
        .when(kind === "object", array(from_json(col("media"), objSchema).getField("u")))
        .otherwise(array(col("media")))
      ev.select(col("event_id"), kind.as("kind"), explode(urls).as("url"))
    },

    // ---- N8: canonical (key-sorted) JSON for change detection -----------
    QueryDef(
      "n8_canonical_json",
      "Canonical key-sorted JSON object + md5, byte-stable across engines (etl_crimes.py:712 change detection)",
      Some("""
        SELECT user_id,
               '{' || string_agg('"' || event_type || '":' || n, ',' ORDER BY event_type) || '}' AS doc,
               md5('{' || string_agg('"' || event_type || '":' || n, ',' ORDER BY event_type) || '}') AS doc_md5
        FROM (SELECT user_id, event_type, COUNT(*) AS n
              FROM events GROUP BY user_id, event_type)
        GROUP BY user_id
      """)) { (s, dir) =>
      val doc = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(concat(lit("{"),
          array_join(array_sort(collect_list(
            concat(lit("\""), col("event_type"), lit("\":"), col("n")))), ","),
          lit("}")).as("doc"))
      doc.select(col("user_id"), col("doc"), md5(col("doc")).as("doc_md5"))
    },

    // ---- N4 data-driven: spec-table fan-out, 13 children, ONE pass ------
    QueryDef(
      "n4_spec_fanout",
      s"Data-driven child-spec fan-out: ${childSpecs.length} child tables from ONE parent scan + ONE groupBy via packed-array explode; the spec list drives both the aggregates and the generated oracle (ir_etl.py:918-1491)",
      Some(
        s"""WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 9 = 4)
           |${childSpecs.map(childSql).mkString("\nUNION ALL\n")}""".stripMargin)) { (s, dir) =>
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 9 === 4)
      // one scan, one shuffle: every child aggregate rides the same groupBy
      val doc = li.groupBy(col("l_orderkey"))
        .agg(childSpecs.head.agg.as(childSpecs.head.name),
          childSpecs.tail.map(sp => sp.agg.as(sp.name)): _*)
      // pack (child, arr) structs and explode twice — unlike a 13-way
      // union of selects, the groupBy subtree appears ONCE in the plan
      val packed = array(childSpecs.map(sp =>
        struct(lit(sp.name).as("child"), col(sp.name).as("arr"))): _*)
      doc.select(col("l_orderkey"), explode(packed).as("c"))
        .select(col("c.child").as("child"), col("l_orderkey"),
          posexplode(col("c.arr")).as(Seq("ord", "v")))
    })
}
