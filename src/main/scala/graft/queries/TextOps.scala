package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}

/** String/text operators (SURVEY.md §2.3 T1–T20): canonicalization,
  * validity classification, rule-map normalization with inference
  * fallback, multi-valued field splitting with ordered dedup, regex
  * status parsing, section extract/classify, lookup standardization,
  * similarity scores, trigram fuzzy geo matching, domicile rules, and
  * deterministic path generation.
  */
object TextOps {

  val defs: Seq[QueryDef] = Seq(

    // ---- T1+T2+T3: canonical name + validity classifier ------------------
    QueryDef(
      "t1_t3_name_validity",
      "Canonicalize (lower, strip non-alnum, collapse ws) + placeholder/alpha-ratio validity (etl_persons.py:139-181)",
      Some("""
        WITH raw AS (
          SELECT c_custkey,
                 CASE c_custkey % 7 WHEN 0 THEN '  unknown   person '
                      WHEN 1 THEN 'absconding  accused' WHEN 2 THEN '###'
                      WHEN 3 THEN '' ELSE c_name END AS raw_name
          FROM customer
        ), canon AS (
          SELECT c_custkey, raw_name,
                 trim(regexp_replace(regexp_replace(lower(raw_name), '[^a-z0-9 ]', ' ', 'g'),
                                     ' +', ' ', 'g')) AS canonical
          FROM raw
        )
        SELECT c_custkey, canonical,
               NOT (canonical IN ('unknown person', 'absconding accused', '')
                    OR length(regexp_replace(canonical, '[^a-z]', '', 'g')) < 2
                    OR CAST(length(regexp_replace(canonical, '[^a-z]', '', 'g')) AS DOUBLE)
                       / greatest(length(canonical), 1) < 0.35) AS is_valid
        FROM canon
      """)) { (s, dir) =>
      val raw = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, "  unknown   person ")
          .when(col("c_custkey") % 7 === 1, "absconding  accused")
          .when(col("c_custkey") % 7 === 2, "###")
          .when(col("c_custkey") % 7 === 3, "")
          .otherwise(col("c_name")).as("raw_name"))
      val canonical = trim(regexp_replace(
        regexp_replace(lower(col("raw_name")), "[^a-z0-9 ]", " "), " +", " "))
      val withCanon = raw.select(col("c_custkey"), canonical.as("canonical"))
      val alphaLen = length(regexp_replace(col("canonical"), "[^a-z]", ""))
      withCanon.select(col("c_custkey"), col("canonical"),
        (!(col("canonical").isin("unknown person", "absconding accused", "") ||
          alphaLen < 2 ||
          alphaLen.cast("double") / greatest(length(col("canonical")), lit(1)) < 0.35))
          .as("is_valid"))
    },

    // ---- T4: rule-map normalization + inference fallback -----------------
    QueryDef(
      "t4_rule_inference",
      "API value → canonical map; else infer from name with confidence + source tag (etl_persons.py:183-216)",
      Some("""
        WITH raw AS (
          SELECT c_custkey, c_name,
                 CASE c_custkey % 5 WHEN 0 THEN 'M' WHEN 1 THEN 'female'
                      WHEN 2 THEN 'MALE' WHEN 3 THEN NULL ELSE 'xx' END AS api_val
          FROM customer
        )
        SELECT c_custkey,
               CASE WHEN lower(COALESCE(api_val,'')) IN ('m','male') THEN 'M'
                    WHEN lower(COALESCE(api_val,'')) IN ('f','female') THEN 'F'
                    WHEN CAST(substr(c_name, length(c_name), 1) AS INTEGER) % 2 = 0 THEN 'F'
                    ELSE 'M' END AS resolved,
               CASE WHEN lower(COALESCE(api_val,'')) IN ('m','male','f','female') THEN 1.0
                    ELSE 0.8 END AS confidence,
               CASE WHEN lower(COALESCE(api_val,'')) IN ('m','male','f','female') THEN 'api'
                    ELSE 'inferred' END AS source
        FROM raw
      """)) { (s, dir) =>
      val raw = t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 5 === 0, "M").when(col("c_custkey") % 5 === 1, "female")
          .when(col("c_custkey") % 5 === 2, "MALE").when(col("c_custkey") % 5 === 3, lit(null))
          .otherwise("xx").as("api_val"))
      val apiNorm = lower(coalesce(col("api_val"), lit("")))
      val fromApi = apiNorm.isin("m", "male", "f", "female")
      val lastDigit = substring(col("c_name"), -1, 1).cast("int")
      raw.select(col("c_custkey"),
        when(apiNorm.isin("m", "male"), "M")
          .when(apiNorm.isin("f", "female"), "F")
          .when(lastDigit % 2 === 0, "F").otherwise("M").as("resolved"),
        when(fromApi, 1.0).otherwise(0.8).as("confidence"),
        when(fromApi, "api").otherwise("inferred").as("source"))
    },

    // ---- T5: multi-valued field split + ordered dedup --------------------
    QueryDef(
      "t5_phone_normalize",
      "Split on [;/|], drop invalid tokens, order-preserving dedup, reassemble (etl_persons.py:218-255)",
      Some("""
        WITH raw AS (
          SELECT c_custkey,
                 CAST(c_custkey AS VARCHAR) || ';' || CAST(c_nationkey AS VARCHAR)
                   || '/na|' || CAST(c_custkey AS VARCHAR) || '|' AS multi
          FROM customer WHERE c_custkey % 11 = 0
        ),
        toks AS (
          SELECT c_custkey, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
          FROM (SELECT c_custkey, string_split_regex(multi, '[;/|]') AS arr FROM raw)
        ),
        valid AS (
          SELECT c_custkey, pos, tok,
                 ROW_NUMBER() OVER (PARTITION BY c_custkey, tok ORDER BY pos) AS occurrence
          FROM toks
          WHERE trim(tok) NOT IN ('', 'na', 'n/a', 'invalid')
        )
        SELECT c_custkey,
               string_agg(tok, ',' ORDER BY pos) AS phones,
               COUNT(*) AS n_phones
        FROM valid WHERE occurrence = 1
        GROUP BY c_custkey
      """)) { (s, dir) =>
      val raw = t(s, dir, "customer").filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"),
          concat(col("c_custkey").cast("string"), lit(";"),
            col("c_nationkey").cast("string"), lit("/na|"),
            col("c_custkey").cast("string"), lit("|")).as("multi"))
      val toks = raw.select(col("c_custkey"),
        posexplode(split(col("multi"), "[;/|]")).as(Seq("pos", "tok")))
        .filter(!trim(col("tok")).isin("", "na", "n/a", "invalid"))
      val wOcc = Window.partitionBy("c_custkey", "tok").orderBy("pos")
      val first = toks.withColumn("occurrence", row_number().over(wOcc))
        .filter(col("occurrence") === 1)
      first.groupBy(col("c_custkey"))
        .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          p => p.getField("tok")), ",").as("phones"),
          count(lit(1)).as("n_phones"))
    },

    // ---- T6: status parser (regex flags + embedded date) -----------------
    QueryDef(
      "t6_status_parser",
      "Regex status parse: issued flag + dd/MM/yyyy date extraction (etl_accused.py:193-219)",
      Some("""
        WITH raw AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 3 = 0
                   THEN o_orderpriority || ' issued on ' || strftime(o_orderdate, '%d/%m/%Y')
                   ELSE o_orderpriority || ' pending arrest' END AS status_text
          FROM orders WHERE o_orderkey % 10 = 0
        )
        SELECT o_orderkey, status_text,
               status_text LIKE '%issued%' AS is_issued,
               status_text LIKE '%pending%' AS is_pending,
               CAST(floor(epoch(try_strptime(regexp_extract(status_text,
                 '([0-9]{2}/[0-9]{2}/[0-9]{4})', 1), '%d/%m/%Y'))) AS BIGINT) AS issued_epoch
        FROM raw
      """)) { (s, dir) =>
      val raw = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0,
            concat(col("o_orderpriority"), lit(" issued on "),
              date_format(col("o_orderdate"), "dd/MM/yyyy")))
            .otherwise(concat(col("o_orderpriority"), lit(" pending arrest")))
            .as("status_text"))
      raw.select(col("o_orderkey"), col("status_text"),
        col("status_text").contains("issued").as("is_issued"),
        col("status_text").contains("pending").as("is_pending"),
        unix_timestamp(try_to_timestamp(
          nullif(regexp_extract(col("status_text"), "([0-9]{2}/[0-9]{2}/[0-9]{4})", 1), lit("")),
          lit("dd/MM/yyyy"))).as("issued_epoch"))
    },

    // ---- T8+T9: section extract + classify + row-level max ----------------
    QueryDef(
      "t8_t9_section_classify",
      "Extract section entities, classify each by suffix rules, row-level max priority (process_sections.py:44-309)",
      Some("""
        WITH raw AS (
          SELECT p_partkey,
                 'sec ' || p_size ||
                   CASE p_partkey % 3 WHEN 0 THEN '(a)' WHEN 1 THEN '(b)' ELSE '(c)' END ||
                   ' and sec ' || (p_size + 7) ||
                   CASE p_partkey % 2 WHEN 0 THEN '(a)' ELSE '(c)' END AS sections_text
          FROM part WHERE p_partkey % 8 = 0
        ),
        extracted AS (
          SELECT p_partkey, sections_text,
                 regexp_extract_all(sections_text, '[0-9]+\([a-c]\)') AS entities
          FROM raw
        ),
        classified AS (
          SELECT p_partkey, sections_text, entities,
                 list_transform(entities,
                   x -> CASE WHEN x LIKE '%(a)' THEN 1 WHEN x LIKE '%(b)' THEN 2 ELSE 3 END)
                   AS priorities
          FROM extracted
        )
        SELECT p_partkey,
               array_to_string(entities, ',') AS entities,
               CASE list_max(priorities) WHEN 1 THEN 'small' WHEN 2 THEN 'intermediate'
                    ELSE 'commercial' END AS classification
        FROM classified
      """)) { (s, dir) =>
      val raw = t(s, dir, "part").filter(col("p_partkey") % 8 === 0)
        .select(col("p_partkey"),
          concat(lit("sec "), col("p_size"),
            when(col("p_partkey") % 3 === 0, "(a)").when(col("p_partkey") % 3 === 1, "(b)")
              .otherwise("(c)"),
            lit(" and sec "), col("p_size") + 7,
            when(col("p_partkey") % 2 === 0, "(a)").otherwise("(c)")).as("sections_text"))
      val entities = regexp_extract_all(col("sections_text"), lit("[0-9]+\\([a-c]\\)"), lit(0))
      val priorities = transform(entities, x =>
        when(x.endsWith("(a)"), 1).when(x.endsWith("(b)"), 2).otherwise(3))
      raw.select(col("p_partkey"),
        array_join(entities, ",").as("entities"),
        when(array_max(priorities) === 1, "small")
          .when(array_max(priorities) === 2, "intermediate")
          .otherwise("commercial").as("classification"))
    },

    // ---- T10+T11: broadcast lookup standardization with miss→raw ----------
    QueryDef(
      "t10_t11_standardize",
      "Alias → canonical broadcast lookup; unmapped values keep raw (drug_standardization.py:55-184)",
      Some("""
        WITH dict(alias, canon) AS (VALUES
          ('1-URGENT', 'P1'), ('2-HIGH', 'P2'), ('3-MEDIUM', 'P3')
        )
        SELECT o.o_orderpriority AS raw_value,
               COALESCE(d.canon, o.o_orderpriority) AS standardized,
               d.canon IS NOT NULL AS was_mapped,
               COUNT(*) AS n
        FROM orders o LEFT JOIN dict d ON o.o_orderpriority = d.alias
        GROUP BY 1, 2, 3
      """)) { (s, dir) =>
      import s.implicits._
      val dict = Seq(("1-URGENT", "P1"), ("2-HIGH", "P2"), ("3-MEDIUM", "P3"))
        .toDF("alias", "canon")
      t(s, dir, "orders")
        .join(broadcast(dict), col("o_orderpriority") === col("alias"), "left")
        .groupBy(col("o_orderpriority").as("raw_value"),
          coalesce(col("canon"), col("o_orderpriority")).as("standardized"),
          col("canon").isNotNull.as("was_mapped"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- T14: similarity score bundle -------------------------------------
    QueryDef(
      "t14_similarity_scores",
      "levenshtein ratio + token-overlap Jaccard between name pairs (fix_fullname dedup scores)",
      Some("""
        WITH pairs AS (
          SELECT a.n_name AS name_a, b.n_name AS name_b,
                 a.n_nationkey AS key_a, b.n_nationkey AS key_b
          FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
          WHERE a.n_nationkey < b.n_nationkey
        )
        SELECT key_a, key_b,
               levenshtein(name_a, name_b) AS lev,
               1.0 - CAST(levenshtein(name_a, name_b) AS DOUBLE)
                   / greatest(length(name_a), length(name_b), 1) AS lev_ratio,
               CAST(len(list_intersect(string_split(name_a, '_'), string_split(name_b, '_'))) AS DOUBLE)
                 / len(list_distinct(list_concat(string_split(name_a, '_'), string_split(name_b, '_'))))
                 AS token_jaccard
        FROM pairs
      """)) { (s, dir) =>
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("key_a"),
        col("n_name").as("name_a"), col("n_regionkey").as("rk"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("key_b"),
        col("n_name").as("name_b"), col("n_regionkey").as("rk"))
      val toksA = split(col("name_a"), "_")
      val toksB = split(col("name_b"), "_")
      n1.join(n2, Seq("rk")).filter(col("key_a") < col("key_b"))
        .select(col("key_a"), col("key_b"),
          levenshtein(col("name_a"), col("name_b")).as("lev"),
          (lit(1.0) - levenshtein(col("name_a"), col("name_b")).cast("double") /
            greatest(length(col("name_a")), length(col("name_b")), lit(1))).as("lev_ratio"),
          (size(array_intersect(toksA, toksB)).cast("double") /
            size(array_distinct(concat(toksA, toksB)))).as("token_jaccard"))
    },

    // ---- T13: soundex blocking (no DuckDB soundex → rows-only gate;
    //      exact values asserted in SoundexSpec) ---------------------------
    QueryDef(
      "t13_soundex_blocking",
      "Soundex phonetic codes as blocking keys; group sizes per code (brief_facts_ai/main.py:156-180)",
      // DuckDB 1.0 has no soundex builtin — the oracle re-implements it
      // with list comprehensions (letter→code map, adjacent-dup drop,
      // zero strip, pad). Verified equal to Spark's soundex over the
      // fixture vocabulary (pure-alpha first words; the H/W edge cases
      // that could diverge need non-alpha or H/W-separated codes).
      Some("""
        WITH w0 AS (
          SELECT p_name, upper(string_split(p_name, ' ')[1]) AS w FROM part
        ),
        codes AS (
          SELECT p_name, w,
                 [CASE WHEN w[i] IN ('B','F','P','V') THEN '1'
                       WHEN w[i] IN ('C','G','J','K','Q','S','X','Z') THEN '2'
                       WHEN w[i] IN ('D','T') THEN '3'
                       WHEN w[i] = 'L' THEN '4'
                       WHEN w[i] IN ('M','N') THEN '5'
                       WHEN w[i] = 'R' THEN '6'
                       ELSE '0' END for i in range(1, len(w)+1)] AS cd
          FROM w0
        ),
        sdx AS (
          SELECT p_name,
                 w[1] || substr(replace(array_to_string(
                   [cd[i] for i in range(2, len(cd)+1) if cd[i] <> cd[i-1]], ''), '0', '')
                   || '000', 1, 3) AS sdx
          FROM codes
        )
        SELECT sdx, COUNT(*) AS n, COUNT(DISTINCT p_name) AS distinct_names
        FROM sdx GROUP BY sdx
      """)) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_name"), soundex(split(col("p_name"), " ").getItem(0)).as("sdx"))
        .groupBy(col("sdx")).agg(count(lit(1)).as("n"),
          countDistinct(col("p_name")).as("distinct_names"))
    },

    // ---- T15/T16: trigram fuzzy geo match ---------------------------------
    QueryDef(
      "t15_trigram_geo",
      "Char-trigram Jaccard fuzzy match of noisy names vs geo dim, blocked + thresholded + top-1 (update-state-country.py:140-189)",
      Some("""
        WITH noisy AS (
          SELECT n_nationkey AS q_key, lower(n_name) || 'x' AS q_name
          FROM nation WHERE n_nationkey % 2 = 0
        ),
        dim AS (SELECT n_nationkey AS d_key, lower(n_name) AS d_name FROM nation),
        qg AS (
          SELECT DISTINCT q_key, substr(q_name, CAST(i AS INTEGER), 3) AS g
          FROM noisy, range(1, 40) t(i) WHERE i <= length(q_name) - 2
        ),
        dg AS (
          SELECT DISTINCT d_key, substr(d_name, CAST(i AS INTEGER), 3) AS g
          FROM dim, range(1, 40) t(i) WHERE i <= length(d_name) - 2
        ),
        qn AS (SELECT q_key, COUNT(*) AS nq FROM qg GROUP BY q_key),
        dn AS (SELECT d_key, COUNT(*) AS nd FROM dg GROUP BY d_key),
        com AS (
          SELECT qg.q_key, dg.d_key, COUNT(*) AS common
          FROM qg JOIN dg ON qg.g = dg.g
          GROUP BY qg.q_key, dg.d_key
        ),
        scored AS (
          SELECT c.q_key, c.d_key,
                 CAST(c.common AS DOUBLE) / (qn.nq + dn.nd - c.common) AS sim
          FROM com c JOIN qn ON qn.q_key = c.q_key JOIN dn ON dn.d_key = c.d_key
        )
        SELECT q_key, d_key, sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_key ORDER BY sim DESC, d_key) AS rn
          FROM scored WHERE sim >= 0.3
        ) WHERE rn = 1
      """)) { (s, dir) =>
      val nation = t(s, dir, "nation")
      val noisy = nation.filter(col("n_nationkey") % 2 === 0)
        .select(col("n_nationkey").as("q_key"),
          concat(lower(col("n_name")), lit("x")).as("q_name"))
      val dim = nation.select(col("n_nationkey").as("d_key"),
        lower(col("n_name")).as("d_name"))
      def grams(df: DataFrame, key: String, name: String): DataFrame =
        df.select(col(key), col(name),
          explode(sequence(lit(1), length(col(name)) - 2)).as("i"))
          .select(col(key), expr(s"substring($name, i, 3)").as("g"))
          .distinct()
      val qg = grams(noisy, "q_key", "q_name")
      val dg = grams(dim, "d_key", "d_name")
      val qn = qg.groupBy("q_key").agg(count(lit(1)).as("nq"))
      val dn = dg.groupBy("d_key").agg(count(lit(1)).as("nd"))
      val com = qg.join(dg, Seq("g")).groupBy(col("q_key"), col("d_key"))
        .agg(count(lit(1)).as("common"))
      val scored = com.join(qn, Seq("q_key")).join(dn, Seq("d_key"))
        .select(col("q_key"), col("d_key"),
          (col("common").cast("double") / (col("nq") + col("nd") - col("common")))
            .as("sim"))
        .filter(col("sim") >= 0.3)
      val w = Window.partitionBy("q_key").orderBy(col("sim").desc, col("d_key"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("q_key"), col("d_key"), col("sim"))
    },

    // ---- T17: domicile classifier -----------------------------------------
    QueryDef(
      "t17_domicile_classifier",
      "Rules over nation/region → Local/NonLocal/Foreigner (domicile_classifier.py:163-263)",
      Some("""
        SELECT CASE WHEN n.n_regionkey = 0 THEN 'Local'
                    WHEN n.n_regionkey IN (1, 2) THEN 'NonLocal'
                    ELSE 'Foreigner' END AS domicile,
               COUNT(*) AS n,
               COUNT(DISTINCT c.c_nationkey) AS nations
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
      """)) { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(
          when(col("n_regionkey") === 0, "Local")
            .when(col("n_regionkey").isin(1, 2), "NonLocal")
            .otherwise("Foreigner").as("domicile"))
        .agg(count(lit(1)).as("n"), countDistinct(col("c_nationkey")).as("nations"))
    },

    // ---- T20: deterministic file path/URL generation ----------------------
    QueryDef(
      "t20_path_generation",
      "Deterministic path from enum triple + content hash (DB-schema.sql:300-352)",
      Some("""
        SELECT event_id,
               '/files/' || event_type || '/' || (user_id % 16) || '/'
                 || substr(md5(CAST(event_id AS VARCHAR)), 1, 12) || '.bin' AS file_path
        FROM events WHERE event_id % 20 = 0
      """)) { (s, dir) =>
      t(s, dir, "events").filter(col("event_id") % 20 === 0)
        .select(col("event_id"),
          concat(lit("/files/"), col("event_type"), lit("/"),
            col("user_id") % 16, lit("/"),
            substring(md5(col("event_id").cast("string")), 1, 12),
            lit(".bin")).as("file_path"))
    },

    // ---- T12: Indic->Latin transliteration --------------------------------
    QueryDef(
      "t12_transliterate",
      "Deterministic Devanagari->Latin char-map transliteration (brief_facts_ai/main.py:101-135); oracle = the same map as a DuckDB replace chain over identical constructed input",
      Some("""
        SELECT n_nationkey,
               replace(replace(replace(replace(replace(replace(replace(replace(
               replace(replace(replace(replace(replace(replace(replace(replace(
                 (CASE WHEN n_nationkey % 4 = 0 THEN 'नमस्ते'
                       WHEN n_nationkey % 4 = 1 THEN 'क्रिकेट'
                       WHEN n_nationkey % 4 = 2 THEN 'भारत'
                       ELSE 'विद्यालय' END) || ' ' || n_name,
                 'न','n'),'म','m'),'स','s'),'्',''),'त','t'),'े','e'),
                 'क','k'),'र','r'),'ि','i'),'ट','t'),'भ','bh'),'ा','a'),
                 'व','v'),'द','d'),'य','y'),'ल','l') AS latin
        FROM nation
      """)) { (s, dir) =>
      // every Devanagari char in the four planted words is covered by the
      // oracle's replace chain; unknown chars (space, NATION_x) pass
      // through both engines unchanged
      val word = when(col("n_nationkey") % 4 === 0, "नमस्ते")
        .when(col("n_nationkey") % 4 === 1, "क्रिकेट")
        .when(col("n_nationkey") % 4 === 2, "भारत")
        .otherwise("विद्यालय")
      t(s, dir, "nation").select(col("n_nationkey"),
        graft.functions.Udfs.translit(concat(word, lit(" "), col("n_name")))
          .as("latin"))
    },

    // ---- T21: Unicode NFC normalization (beyond-reference) -----------------
    QueryDef(
      "t21_unicode_nfc",
      "NFC canonical composition before content hashing: combining-mark and precomposed spellings of the same text must dedup/join identically (oracle: DuckDB nfc_normalize)",
      Some("""
        SELECT n_nationkey,
               nfc_normalize('cafe' || chr(769) || ' ' || n_name) AS norm,
               length(nfc_normalize('cafe' || chr(769) || ' ' || n_name)) AS n_chars,
               md5(nfc_normalize('cafe' || chr(769) || ' ' || n_name)) AS content_key
        FROM nation
      """)) { (s, dir) =>
      // decomposed input planted from the data ('e' + U+0301 combining
      // acute); NFC composes it to the precomposed é so downstream md5
      // keys match however the source spelled it. Normalizer is JDK-
      // built-in — no UDF-side state, a pure narrow map.
      val nfc = udf((x: String) =>
        if (x == null) null
        else java.text.Normalizer.normalize(x, java.text.Normalizer.Form.NFC))
      // decomposed on purpose: "cafe" + combining acute U+0301 + space
      val raw = concat(lit("cafe\u0301 "), col("n_name"))
      t(s, dir, "nation").select(col("n_nationkey"),
        nfc(raw).as("norm"),
        length(nfc(raw)).cast("long").as("n_chars"),
        md5(nfc(raw)).as("content_key"))
    },

    // ---- T22: Jaro-Winkler similarity (native codegen expression) --------
    // Spark has no built-in Jaro-Winkler; the engine ships it as a
    // codegen'd Catalyst expression (functions/NativeExpressions.JaroWinkler)
    // with semantics pinned to DuckDB 1.0's jaro_winkler_similarity \u2014
    // which makes this the one custom function whose ORACLE can call the
    // real thing: every similarity below is computed by the native
    // expression in Spark and by DuckDB's builtin in the oracle, so the
    // hash compare IS the cross-engine parity proof (boost threshold 0.7,
    // prefix cap 4, both-empty \u2192 0, and the exact double arithmetic).
    // Two domains stress it: the 64-name part vocabulary (blocked
    // distinct-name pairs, e2's entity-bounded shape) and ~45k
    // same-nation customer-name pairs (long shared prefixes exercise the
    // Winkler boost and the float edge near the 0.8 threshold).
    QueryDef(
      "t22_jaro_winkler",
      "Jaro-Winkler >= 0.8 name pairs over two domains via the native codegen'd expression, hash-compared against DuckDB's built-in jaro_winkler_similarity \u2014 the oracle-gated \u00a72.12 custom function",
      Some("""
        WITH names AS (
          SELECT DISTINCT p_name, string_split(p_name, ' ')[1] AS block FROM part
        ),
        pp AS (
          SELECT 'part' AS domain, a.p_name AS name_a, b.p_name AS name_b,
                 jaro_winkler_similarity(a.p_name, b.p_name) AS jw
          FROM names a JOIN names b ON a.block = b.block AND a.p_name < b.p_name
        ),
        cp AS (
          SELECT 'customer' AS domain, q.c_name AS name_a, c.c_name AS name_b,
                 jaro_winkler_similarity(q.c_name, c.c_name) AS jw
          FROM (SELECT * FROM customer WHERE c_custkey % 200 = 0) q
          JOIN customer c ON q.c_nationkey = c.c_nationkey AND q.c_name < c.c_name
        )
        SELECT domain, name_a, name_b, round(jw, 6) AS jw
        FROM (SELECT * FROM pp UNION ALL SELECT * FROM cp)
        WHERE jw >= 0.8
      """)) { (s, dir) =>
      import graft.functions.NativeExpressions.jaro_winkler_native
      val names = t(s, dir, "part").select(col("p_name")).distinct()
        .withColumn("block", split(col("p_name"), " ").getItem(0))
      val partPairs = names.select(col("p_name").as("name_a"), col("block"))
        .join(broadcast(names.select(col("p_name").as("name_b"), col("block"))),
          Seq("block"))
        .filter(col("name_a") < col("name_b"))
        .select(lit("part").as("domain"), col("name_a"), col("name_b"),
          jaro_winkler_native(col("name_a"), col("name_b")).as("jw"))
      val cust = t(s, dir, "customer")
      val custPairs = cust.filter(col("c_custkey") % 200 === 0)
        .select(col("c_name").as("name_a"), col("c_nationkey").as("nk"))
        .join(cust.select(col("c_name").as("name_b"), col("c_nationkey").as("nk")),
          Seq("nk"))
        .filter(col("name_a") < col("name_b"))
        .select(lit("customer").as("domain"), col("name_a"), col("name_b"),
          jaro_winkler_native(col("name_a"), col("name_b")).as("jw"))
      partPairs.unionByName(custPairs)
        .filter(col("jw") >= 0.8)
        .select(col("domain"), col("name_a"), col("name_b"),
          round(col("jw"), 6).as("jw"))
    })
}
