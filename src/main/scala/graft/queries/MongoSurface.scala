package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, size, split}

import graft.QueryDef
import graft.core.Tables
import graft.ql.{MongoQL, MongoRoute, Planner, QueryGuard}
import graft.search.Text

/** Driver-visible gates for the Mongo-style query surface (ql/MongoQL):
  * find filters, boolean/array/regex operators, a full aggregation
  * pipeline, and the validator's denial truth table. Each find/aggregate
  * entry runs the JSON surface end-to-end (parse → validate → compile →
  * execute) and is hash-compared against hand-written SQL, so a compiler
  * bug in any operator breaks CORRECTNESS, not just a spec.
  *
  * Reference surface: `chatbot/database/mongo_executor.py:56-145` (find/
  * aggregate with appended row cap), `chatbot/security/query_validator
  * .py:114-126,300-445` (blocklist + depth/stage caps).
  */
object MongoSurface {

  private def run(e: Either[MongoQL.Denied, DataFrame]): DataFrame =
    e.fold(d => throw new IllegalStateException(s"unexpected denial: $d"), identity)

  val defs: Seq[QueryDef] = Seq(

    // ---- QLM1: find with range filter + projection --------------------------
    QueryDef(
      "qlm_find_range",
      "Mongo-style find end-to-end: {lang:'en', n_chars:{$gte:400}} with a {doc_id,lang,n_chars} projection compiled to a Catalyst filter+project — predicate and column pruning reach the parquet scan exactly as a native DataFrame query; the row cap is sized above the match count so the gate stays deterministic",
      Some("""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE lang = 'en' AND n_chars >= 400
      """)) { (s, dir) =>
      run(MongoQL.findCollection(s, dir, "documents",
        """{"lang": "en", "n_chars": {"$gte": 400}}""",
        """{"doc_id": 1, "lang": 1, "n_chars": 1}""",
        maxRows = 1000000))
    },

    // ---- QLM2: find with $or / $in / $ne -----------------------------------
    QueryDef(
      "qlm_find_bool_in",
      "Mongo find with boolean composition: ($or of an $in priority list and a $gt price) AND an $ne status — null-SAFE semantics ($ne matches missing values, as the document model demands) compiled via <=> instead of ternary SQL equality",
      Some("""
        SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders
        WHERE (o_orderpriority IN ('1-URGENT', '2-HIGH') OR o_totalprice > 400000.0)
          AND o_orderstatus IS DISTINCT FROM 'F'
      """)) { (s, dir) =>
      run(MongoQL.findCollection(s, dir, "orders",
        """{"$or": [{"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}},
                    {"o_totalprice": {"$gt": 400000.0}}],
            "o_orderstatus": {"$ne": "F"}}""",
        """{"o_orderkey": 1, "o_orderstatus": 1, "o_orderpriority": 1, "o_totalprice": 1}""",
        maxRows = 1000000))
    },

    // ---- QLM3: find with $regex + $lt --------------------------------------
    QueryDef(
      "qlm_find_regex",
      "Mongo find with $regex (search semantics, anchors honored, length-capped against ReDoS) — an alternation + wildcard pattern over part names plus a $lt key bound, projected to two columns; rlike compiles into the scan filter, no UDF",
      Some("""
        SELECT p_partkey, p_name FROM part
        WHERE regexp_matches(p_name, '^(red|blue) .*(bolt|gear)$') AND p_partkey < 1500
      """)) { (s, dir) =>
      run(MongoQL.findCollection(s, dir, "part",
        """{"p_name": {"$regex": "^(red|blue) .*(bolt|gear)$"}, "p_partkey": {"$lt": 1500}}""",
        """{"p_partkey": 1, "p_name": 1}""",
        maxRows = 1000000))
    },

    // ---- QLM3b: $in/$nin with a null element --------------------------------
    QueryDef(
      "qlm_find_in_null",
      "Mongo $in/$nin null-element semantics: a null in the $in list makes it ALSO match missing fields (and $nin exclude them) — isin's ternary SQL logic would silently drop those rows. The corpus has no nulls, so the gate derives one (lang with 'de' nulled out) and runs both operators over it; the SQL oracle states the Mongo meaning explicitly",
      Some("""
        SELECT doc_id, lang2, n_chars FROM (
          SELECT doc_id, nullif(lang, 'de') AS lang2, n_chars FROM documents) t
        WHERE (lang2 = 'en' OR lang2 IS NULL) AND n_chars >= 200
      """)) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"),
          org.apache.spark.sql.functions.nullif(col("lang"), org.apache.spark.sql.functions.lit("de")).as("lang2"),
          col("n_chars"))
      run(MongoQL.find(docs,
        """{"lang2": {"$in": ["en", null]}, "n_chars": {"$gte": 200}}""",
        """{"doc_id": 1, "lang2": 1, "n_chars": 1}""",
        maxRows = 1000000))
    },

    // ---- QLM4: aggregation pipeline ----------------------------------------
    QueryDef(
      "qlm_agg_pipeline",
      "Mongo aggregation pipeline end-to-end: $match {l_returnflag:'R'} then $group {_id:'$l_linestatus'} with $sum:1, $sum:'$l_quantity', $avg (compiled as sum/count so integral-double folds agree bit-for-bit across engines), $min/$max, then $sort — compiled to ONE partial-aggregated groupBy; the appended row cap turns any terminal sort into TakeOrdered",
      Some("""
        SELECT l_linestatus AS _id,
               CAST(count(*) AS BIGINT) AS n,
               SUM(l_quantity) AS qty,
               SUM(l_quantity) / COUNT(l_quantity) AS avg_qty,
               MIN(l_quantity) AS min_qty,
               MAX(l_quantity) AS max_qty
        FROM lineitem WHERE l_returnflag = 'R'
        GROUP BY l_linestatus
      """)) { (s, dir) =>
      run(MongoQL.aggregate(Tables(s, dir, "lineitem"),
        """[{"$match": {"l_returnflag": "R"}},
            {"$group": {"_id": "$l_linestatus",
                        "n": {"$sum": 1},
                        "qty": {"$sum": "$l_quantity"},
                        "avg_qty": {"$avg": "$l_quantity"},
                        "min_qty": {"$min": "$l_quantity"},
                        "max_qty": {"$max": "$l_quantity"}}},
            {"$sort": {"_id": 1}}]""",
        maxRows = 1000))
    },

    // ---- QLM4b: $addFields with the expression compiler ---------------------
    QueryDef(
      "qlm_addfields_math",
      "Mongo $addFields end-to-end: gross = round(extendedprice * (1 - discount), 6) and a $concat/$toLower label, both compiled to codegen'd row-wise Catalyst scalars (bit-identical across engines — no aggregate fold order in play), then a $match on the COMPUTED field proving stage-ordered column visibility; expressions resolve against the stage input via one withColumns call, exactly Mongo's same-stage-isolation rule",
      Some("""
        SELECT l_orderkey, l_linenumber, gross, flagstat FROM (
          SELECT l_orderkey, l_linenumber,
                 round(l_extendedprice * (1 - l_discount), 6) AS gross,
                 lower(l_returnflag) || '-' || l_linestatus AS flagstat
          FROM lineitem WHERE l_returnflag = 'A') t
        WHERE gross > 90000.0
      """)) { (s, dir) =>
      run(MongoQL.aggregate(Tables(s, dir, "lineitem"),
        """[{"$match": {"l_returnflag": "A"}},
            {"$addFields": {
               "gross": {"$round": [{"$multiply": ["$l_extendedprice",
                                                   {"$subtract": [1, "$l_discount"]}]}, 6]},
               "flagstat": {"$concat": [{"$toLower": "$l_returnflag"}, "-", "$l_linestatus"]}}},
            {"$match": {"gross": {"$gt": 90000.0}}},
            {"$project": {"l_orderkey": 1, "l_linenumber": 1, "gross": 1, "flagstat": 1}}]""",
        maxRows = 10000000))
    },

    // ---- QLM4c: $bucket histogram --------------------------------------------
    QueryDef(
      "qlm_bucket",
      "Mongo $bucket end-to-end: order totals bucketed over strictly-increasing integer boundaries with a required default label (the compiler's total-function stance: Mongo's out-of-range RUNTIME error cannot exist in a compiled plan) — one partial-aggregated groupBy over a codegen'd CASE, no join, no sort; _id is the lower boundary rendered as a string so one column carries both bucket and default labels",
      Some("""
        SELECT CASE WHEN o_totalprice >= 0      AND o_totalprice < 100000 THEN '0'
                    WHEN o_totalprice >= 100000 AND o_totalprice < 200000 THEN '100000'
                    WHEN o_totalprice >= 200000 AND o_totalprice < 300000 THEN '200000'
                    WHEN o_totalprice >= 300000 AND o_totalprice < 600000 THEN '300000'
                    ELSE 'other' END AS _id,
               CAST(count(*) AS BIGINT) AS n,
               MAX(o_totalprice) AS max_price
        FROM orders GROUP BY 1
      """)) { (s, dir) =>
      run(MongoQL.aggregate(Tables(s, dir, "orders"),
        """[{"$bucket": {"groupBy": "$o_totalprice",
                         "boundaries": [0, 100000, 200000, 300000, 600000],
                         "default": "other",
                         "output": {"n": {"$sum": 1},
                                    "max_price": {"$max": "$o_totalprice"}}}}]""",
        maxRows = 1000))
    },

    // ---- QLM4d: $sort + $skip + $limit keyset page ---------------------------
    QueryDef(
      "qlm_skip_paging",
      "Mongo $skip end-to-end: open orders sorted by key, page [100, 110) — $skip compiles to Dataset.offset, which stays deterministic exactly when Mongo's does (under a preceding unique-key $sort); the appended row cap composes with the page limit instead of replacing it",
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'O'
        ORDER BY o_orderkey OFFSET 100 LIMIT 10
      """)) { (s, dir) =>
      run(MongoQL.aggregate(Tables(s, dir, "orders"),
        """[{"$match": {"o_orderstatus": "O"}},
            {"$sort": {"o_orderkey": 1}},
            {"$skip": 100},
            {"$limit": 10},
            {"$project": {"o_orderkey": 1, "o_custkey": 1, "o_totalprice": 1}}]""",
        maxRows = 1000))
    },

    // ---- QLM4e: $sortByCount -------------------------------------------------
    QueryDef(
      "qlm_sortbycount",
      "Mongo $sortByCount end-to-end: language frequency over documents — sugar for $group {$sum:1} + $sort {count:-1}, compiled to ONE partial-aggregated groupBy whose terminal sort the appended row cap turns into TakeOrdered; the oracle pins the (_id, count) pairs, the harness canon-sort makes tie order irrelevant",
      Some("""
        SELECT lang AS _id, CAST(count(*) AS BIGINT) AS "count"
        FROM documents GROUP BY lang
      """)) { (s, dir) =>
      run(MongoQL.aggregate(Tables(s, dir, "documents"),
        """[{"$sortByCount": "$lang"}]""",
        maxRows = 1000))
    },

    // ---- QLM4f: $lookup → $unwind → $replaceRoot ------------------------------
    QueryDef(
      "qlm_replaceroot",
      "Mongo $replaceRoot end-to-end in its native habitat ($lookup enrich, $unwind the matches, promote the joined document): high-value orders joined to customer, each match promoted to the root — multiset-identical to the SQL inner join the oracle states; the struct promotion is a zero-cost select of the struct's fields",
      Some("""
        SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
        FROM orders o JOIN customer c ON c.c_custkey IS NOT DISTINCT FROM o.o_custkey
        WHERE o.o_totalprice > 450000.0
      """)) { (s, dir) =>
      run(MongoQL.aggregateCollection(s, dir, "orders",
        """[{"$match": {"o_totalprice": {"$gt": 450000.0}}},
            {"$lookup": {"from": "customer", "localField": "o_custkey",
                         "foreignField": "c_custkey", "as": "cust"}},
            {"$unwind": "$cust"},
            {"$replaceRoot": {"newRoot": "$cust"}}]""",
        maxRows = 10000000))
    },

    // ---- QLM5: validator denial truth table --------------------------------
    QueryDef(
      "qlm_guard_denials",
      "Mongo-surface threat-policy truth table (the reference's blocklist plus the compiler's stricter allowlist): $where/$eval/$accumulator denied as dangerous wherever they nest, $out stages denied, depth-11 nesting denied, 21-stage pipelines denied, unknown operators/fields/collections denied, oversized $regex denied, malformed JSON/empty operator objects/mixed projections/non-±1 sort directions/overflowing limits/malformed unwind+lookup denied, and the round-11 stage batch's malformed forms ($-prefixed $addFields/$count names, unknown/misarity expression operators, unsorted or default-less $bucket boundaries, negative $skip, non-struct $replaceRoot, literal $sortByCount) denied — while the plain find, exclude-form projection, $options-flagged regex, $addFields, $count, and pipeline stay allowed. Any policy regression breaks the hash",
      Some("""
        SELECT * FROM (VALUES
          ('addfields_dollar_name','denied', 'bad_stage'),
          ('addfields_safe',      'allowed', ''),
          ('addfields_unknown_op','denied',  'unknown_operator'),
          ('agg_out_stage',       'denied',  'dangerous_stage'),
          ('agg_lookup_malformed','denied',  'bad_stage'),
          ('agg_too_long',        'denied',  'pipeline_too_long'),
          ('agg_where_op',        'denied',  'dangerous_operator'),
          ('bad_json',            'denied',  'parse_error'),
          ('bucket_no_default',   'denied',  'bad_stage'),
          ('bucket_unsorted',     'denied',  'bad_stage'),
          ('count_dollar_name',   'denied',  'bad_stage'),
          ('count_safe',          'allowed', ''),
          ('deep_nesting',        'denied',  'too_deep'),
          ('divide_arity',        'denied',  'bad_operand'),
          ('empty_operator',      'denied',  'bad_operand'),
          ('eval_nested',         'denied',  'dangerous_operator'),
          ('find_safe',           'allowed', ''),
          ('limit_overflow',      'denied',  'bad_stage'),
          ('lookup_as_collision', 'denied',  'bad_stage'),
          ('lookup_unknown_coll', 'denied',  'unknown_collection'),
          ('pipeline_safe',       'allowed', ''),
          ('options_sans_regex',  'denied',  'bad_operand'),
          ('projection_exclude',  'allowed', ''),
          ('projection_mixed',    'denied',  'bad_projection'),
          ('regex_options_i',     'allowed', ''),
          ('regex_too_long',      'denied',  'regex_too_long'),
          ('replaceroot_not_struct','denied','bad_stage'),
          ('round_places_expr',   'denied',  'bad_operand'),
          ('skip_negative',       'denied',  'bad_stage'),
          ('sort_dir_string',     'denied',  'bad_operand'),
          ('sortbycount_literal', 'denied',  'bad_stage'),
          ('sum_literal_2',       'denied',  'bad_operand'),
          ('unknown_collection',  'denied',  'unknown_collection'),
          ('unknown_field',       'denied',  'unknown_field'),
          ('unknown_op',          'denied',  'unknown_operator'),
          ('unwind_not_array',    'denied',  'bad_stage'),
          ('where_top_level',     'denied',  'dangerous_operator')
        ) AS t(case_name, outcome, code)
      """)) { (s, dir) =>
      import s.implicits._
      def outcome(e: Either[MongoQL.Denied, DataFrame]): (String, String) =
        e.fold(d => ("denied", d.code), _ => ("allowed", ""))
      // 11 nested $not levels around an $eq → nesting depth > 10
      val deepFilter =
        (1 to 11).foldLeft("""{"$eq": 1}""")((j, _) => s"""{"$$not": $j}""")
      val longRegex = "a" * 201
      val stage = """{"$match": {"lang": "en"}}"""
      val cases: Seq[(String, Either[MongoQL.Denied, DataFrame])] = Seq(
        "addfields_dollar_name" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$addFields": {"$x": 1}}]"""),
        "addfields_safe" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$addFields": {"x": {"$add": ["$n_chars", 1]}}}]"""),
        "addfields_unknown_op" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$addFields": {"x": {"$sqrt": ["$n_chars"]}}}]"""),
        "bucket_no_default" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$bucket": {"groupBy": "$n_chars", "boundaries": [0, 100, 200]}}]"""),
        "bucket_unsorted" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$bucket": {"groupBy": "$n_chars", "boundaries": [0, 200, 100],
                           "default": "other"}}]"""),
        "count_dollar_name" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$count": "$n"}]"""),
        "count_safe" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$count": "n"}]"""),
        "divide_arity" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$addFields": {"x": {"$divide": ["$n_chars"]}}}]"""),
        "replaceroot_not_struct" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$replaceRoot": {"newRoot": "$lang"}}]"""),
        "round_places_expr" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$addFields": {"x": {"$round": ["$n_chars", "$n_chars"]}}}]"""),
        "skip_negative" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$skip": -1}]"""),
        "sortbycount_literal" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$sortByCount": "lang"}]"""),
        "agg_out_stage" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$out": "evil"}]"""),
        // $lookup is a KNOWN stage now; a body missing its required keys is
        // a malformed-stage denial, not an unknown-stage one
        "agg_lookup_malformed" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$lookup": {"from": "orders"}}]"""),
        "agg_too_long" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          "[" + Seq.fill(21)(stage).mkString(",") + "]"),
        "agg_where_op" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$match": {"$where": "this.x == 1"}}]"""),
        "bad_json" -> MongoQL.findCollection(s, dir, "documents", """{"lang": """),
        "deep_nesting" -> MongoQL.findCollection(s, dir, "documents",
          s"""{"n_chars": $deepFilter}"""),
        "empty_operator" -> MongoQL.findCollection(s, dir, "documents",
          """{"n_chars": {}}"""),
        "eval_nested" -> MongoQL.findCollection(s, dir, "documents",
          """{"$or": [{"lang": "en"}, {"n_chars": {"$eval": "x"}}]}"""),
        "find_safe" -> MongoQL.findCollection(s, dir, "documents",
          """{"lang": "en"}""", """{"doc_id": 1}"""),
        "limit_overflow" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$limit": 2147483648}]"""),
        "lookup_as_collision" -> MongoQL.aggregateCollection(s, dir, "orders",
          """[{"$lookup": {"from": "customer", "localField": "o_custkey",
                           "foreignField": "c_custkey", "as": "o_orderkey"}}]"""),
        "lookup_unknown_coll" -> MongoQL.aggregateCollection(s, dir, "orders",
          """[{"$lookup": {"from": "secrets", "localField": "o_custkey",
                           "foreignField": "c_custkey", "as": "cust"}}]"""),
        "pipeline_safe" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$match": {"lang": "en"}}, {"$group": {"_id": "$source", "n": {"$sum": 1}}}]"""),
        "options_sans_regex" -> MongoQL.findCollection(s, dir, "documents",
          """{"text": {"$options": "i"}}"""),
        "projection_exclude" -> MongoQL.findCollection(s, dir, "documents",
          """{"lang": "en"}""", """{"text": 0}"""),
        "regex_options_i" -> MongoQL.findCollection(s, dir, "documents",
          """{"text": {"$regex": "vector", "$options": "i"}}"""),
        "projection_mixed" -> MongoQL.findCollection(s, dir, "documents",
          """{"lang": "en"}""", """{"doc_id": 1, "text": 0}"""),
        "regex_too_long" -> MongoQL.findCollection(s, dir, "documents",
          s"""{"text": {"$$regex": "$longRegex"}}"""),
        "sort_dir_string" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$sort": {"lang": "desc"}}]"""),
        "sum_literal_2" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$group": {"_id": "$lang", "n": {"$sum": 2}}}]"""),
        "unknown_collection" -> MongoQL.findCollection(s, dir, "secrets", """{}"""),
        "unknown_field" -> MongoQL.findCollection(s, dir, "documents",
          """{"password": "x"}"""),
        "unknown_op" -> MongoQL.findCollection(s, dir, "documents",
          """{"n_chars": {"$mod": [7, 0]}}"""),
        "unwind_not_array" -> MongoQL.aggregate(Tables(s, dir, "documents"),
          """[{"$unwind": "$lang"}]"""),
        "where_top_level" -> MongoQL.findCollection(s, dir, "documents",
          """{"$where": "sleep(1000)"}"""))
      cases.map { case (n, e) => val (o, c) = outcome(e); (n, o, c) }
        .toDF("case_name", "outcome", "code")
    },

    // ---- QLM6: $unwind end-to-end -------------------------------------------
    QueryDef(
      "qlm_unwind",
      "Mongo $unwind end-to-end: explode an array column (whitespace-split words of the English documents) then $group word counts and $match the frequent tail — compiled to ONE generate+partial-aggregated groupBy; the array never shuffles pre-explode and the exploded rows carry only the word column",
      Some("""
        SELECT w AS _id, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE lang = 'en') t
        GROUP BY w
        HAVING count(*) >= 25
      """)) { (s, dir) =>
      val docs = Tables(s, dir, "documents").withColumn("words", Text.tokens)
      run(MongoQL.aggregate(docs,
        """[{"$match": {"lang": "en"}},
            {"$unwind": "$words"},
            {"$group": {"_id": "$words", "n": {"$sum": 1}}},
            {"$match": {"n": {"$gte": 25}}}]""",
        maxRows = 10000000))
    },

    // ---- QLM7: $lookup end-to-end -------------------------------------------
    QueryDef(
      "qlm_lookup",
      "Mongo $lookup end-to-end: join high-value orders to customer with matches collected as a sorted struct array (Mongo's left-outer enrich); the foreign side pre-aggregates to one row per key so the join input is bounded by key cardinality and AQE can broadcast it. Gated on the match-count per order (size of the as-array), with zero-match orders yielding an empty array, not null",
      Some("""
        SELECT o_orderkey, o_custkey, CAST(n AS INT) AS n_cust
        FROM (SELECT o_orderkey, o_custkey,
                     (SELECT count(*) FROM customer c
                      WHERE c.c_custkey IS NOT DISTINCT FROM o.o_custkey) AS n
              FROM orders o WHERE o_totalprice > 450000.0) t
      """)) { (s, dir) =>
      val out = run(MongoQL.aggregateCollection(s, dir, "orders",
        """[{"$match": {"o_totalprice": {"$gt": 450000.0}}},
            {"$lookup": {"from": "customer", "localField": "o_custkey",
                         "foreignField": "c_custkey", "as": "cust"}}]""",
        maxRows = 10000000))
      out.select(col("o_orderkey"), col("o_custkey"), size(col("cust")).as("n_cust"))
    },

    // ---- QLM8-10: NL → Mongo routing (the reference planner's second
    //      executor: intelligent_query_planner.py dispatches a question to
    //      SQL or to mongo_executor.py; here the deterministic Planner's
    //      plan is compiled to find/aggregate JSON and run through the
    //      validated MongoQL surface) ----------------------------------------
    QueryDef(
      "qlm_nl_list",
      "NL question answered through the DOCUMENT surface: 'show open orders from 1995 to 1996' routed to db.orders.aggregate($match on status + timestamp year-range, $sort key, $limit) — the oracle states what the question means, so a routing bug (wrong filter, dropped year bound) fails the hash exactly like a planner bug would",
      Some("""
        SELECT * FROM orders
        WHERE year(o_orderdate) BETWEEN 1995 AND 1996 AND o_orderstatus = 'O'
        ORDER BY o_orderkey LIMIT 100
      """)) { (s, dir) =>
      val q = "show open orders from 1995 to 1996"
      val routed = MongoRoute.fromQuestion(q).getOrElse(
        throw new IllegalStateException(s"'$q' did not route to the Mongo surface"))
      MongoRoute.run(s, dir, routed)
        .fold(d => throw new IllegalStateException(s"denied: $d"), identity)
    },

    QueryDef(
      "qlm_nl_count",
      "NL negated count through the document surface: 'how many orders are not finished' → $match {status: {$ne: 'F'}} + $group {$sum: 1} — Mongo's null-safe $ne vs SQL's <> agree on the non-null status column, and the normalized output drops the synthetic _id so both surfaces answer with one n column",
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n FROM orders
        WHERE o_orderstatus <> 'F'
      """)) { (s, dir) =>
      val q = "how many orders are not finished"
      val routed = MongoRoute.fromQuestion(q).getOrElse(
        throw new IllegalStateException(s"'$q' did not route to the Mongo surface"))
      MongoRoute.run(s, dir, routed)
        .fold(d => throw new IllegalStateException(s"denied: $d"), identity)
    },

    QueryDef(
      "qlm_nl_search",
      "NL substring search through the document surface: 'find documents containing vector' → $match {text: {$regex: '(?i)vector'}} + key sort + limit, the case-insensitive-regex twin of the SQL surface's lower(col) LIKE '%term%'",
      Some("""
        SELECT * FROM documents
        WHERE regexp_matches(text, '(?i)vector')
        ORDER BY doc_id LIMIT 100
      """)) { (s, dir) =>
      val q = "find documents containing vector"
      val routed = MongoRoute.fromQuestion(q).getOrElse(
        throw new IllegalStateException(s"'$q' did not route to the Mongo surface"))
      MongoRoute.run(s, dir, routed)
        .fold(d => throw new IllegalStateException(s"denied: $d"), identity)
    },

    QueryDef(
      "qlm_nl_groupcount",
      "NL grouped count through the document surface (round-11, unlocked by the compiled $group): 'count of orders by priority' → $match {} + $group {_id: '$o_orderpriority', n: {$sum: 1}}, _id normalized back to the SQL surface's grp alias — the routing guard reconstructs the Planner's exact SQL first, so function dims (year(), date_format()) stay un-routed rather than mis-grouped",
      Some("""
        SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY o_orderpriority
      """)) { (s, dir) =>
      val q = "count of orders by priority"
      val routed = MongoRoute.fromQuestion(q).getOrElse(
        throw new IllegalStateException(s"'$q' did not route to the Mongo surface"))
      MongoRoute.run(s, dir, routed)
        .fold(d => throw new IllegalStateException(s"denied: $d"), identity)
    },

    // ---- QLM11: SQL-surface ≡ Mongo-surface parity truth table -------------
    QueryDef(
      "qlm_nl_parity",
      "Both-surfaces parity: each routable corpus question is answered via the SQL path (plan → guard → execute) AND the Mongo path (plan → find/aggregate JSON → MongoQL), and their row multisets must be IDENTICAL; non-routable plans (function-dim grouped counts like year(), day-precision ranges) must be refused by the router, not answered with a wider filter. Any divergence or mis-route breaks the hash",
      Some("""
        SELECT * FROM (VALUES
          ('count_english_docs',  true,  'equal'),
          ('count_not_finished',  true,  'equal'),
          ('count_open',          true,  'equal'),
          ('day_range_count',     false, 'sql_only'),
          ('grouped_count',       true,  'equal'),
          ('grouped_count_year',  false, 'sql_only'),
          ('list_open_years',     true,  'equal'),
          ('search_vector',       true,  'equal')
        ) AS t(case_name, routed, outcome)
      """)) { (s, dir) =>
      import s.implicits._
      val cases = Seq(
        "count_english_docs" -> "how many english documents",
        "count_not_finished" -> "how many orders are not finished",
        "count_open" -> "how many open orders",
        "day_range_count" -> "how many orders between 01-02-1995 and 15-02-1995",
        "grouped_count" -> "count of orders by priority",
        "grouped_count_year" -> "count of orders by year",
        "list_open_years" -> "show open orders from 1995 to 1996",
        "search_vector" -> "find documents containing vector")
      val rows = cases.map { case (name, q) =>
        MongoRoute.fromQuestion(q) match {
          case None => (name, false, "sql_only")
          case Some(r) =>
            val sqlRows = QueryGuard.execute(s, dir, Planner.plan(q).sql,
                maxRows = 1000000)
              .fold(d => throw new IllegalStateException(d.reason), identity)
              .collect().map(_.toString).sorted.toSeq
            val mongoRows = MongoRoute.run(s, dir, r)
              .fold(d => throw new IllegalStateException(d.toString), identity)
              .collect().map(_.toString).sorted.toSeq
            (name, true, if (sqlRows == mongoRows) "equal" else "DIVERGED")
        }
      }
      rows.toDF("case_name", "routed", "outcome")
    }
  )
}
