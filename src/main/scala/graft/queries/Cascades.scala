package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QueryDef
import graft.core.Tables.{apply => t}

/** Match-cascade operators: the reference resolves fuzzy references by
  * trying strategies in confidence order and keeping the first/best hit.
  *
  *  - T16 mandal imputation: tokenize address text, scope candidates to
  *    the row's district (else state), score exact-substring →
  *    SequenceMatcher → token-overlap, keep top-1 above a per-scope
  *    threshold (`update-mandal/mandal_imputation_from_address.py:82-187,
  *    204-300`).
  *  - E4 extraction pairing: LLM-extracted accused codes paired to DB
  *    rows by exact code, then normalized code, then name containment
  *    (`brief_facts_ai/main.py:396-500`).
  *
  * Scale: every tier is an equi-join on a computed block key (district /
  * state / normalized code / first name token) — candidate sets are
  * bounded by the block, never all-pairs; the geo/code dims are
  * broadcast. Fall-through between tiers is a left-anti join, so each
  * tier touches only still-unmatched rows.
  */
object Cascades {

  /** `normalize_text` analog (mandal_imputation_from_address.py:204-224):
    * lowercase, collapse non-alphanumeric runs to single spaces, trim. */
  private def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  val defs: Seq[QueryDef] = Seq(

    // ---- T16: mandal imputation from address tokens ----------------------
    QueryDef(
      "t16_mandal_impute",
      "Impute missing mandal from address tokens: district-blocked (else state-blocked) candidates, exact-substring → SequenceMatcher(lev-ratio) → token-overlap cascade, per-scope threshold, top-1 (mandal_imputation_from_address.py:82-187)",
      Some("""
        WITH geo AS (
          SELECT r_name AS g_district, 'S' || (r_regionkey % 2) AS g_state,
                 trim(regexp_replace(lower(n_name), '[^a-z0-9]+', ' ', 'g')) AS mandal
          FROM nation JOIN region ON n_regionkey = r_regionkey
        ),
        tgt AS (
          SELECT c_custkey,
                 CASE c_custkey % 3
                   WHEN 0 THEN 'colony of ' || trim(regexp_replace(lower(n_name), '[^a-z0-9]+', ' ', 'g')) || ' ward 7'
                   WHEN 1 THEN CASE WHEN c_custkey % 6 = 1 THEN 'nation 9 road'
                                    ELSE 'road to 9 nation crossing' END
                   ELSE 'unknown village lane' END AS tokens,
                 CASE WHEN c_custkey % 2 = 0 THEN r_name END AS district,
                 'S' || (r_regionkey % 2) AS state
          FROM customer JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
          WHERE c_custkey % 10 < 3
        ),
        cand AS (
          SELECT t.c_custkey, t.tokens, t.district, t.state, g.mandal,
                 (contains(t.tokens, g.mandal) OR contains(g.mandal, t.tokens)) AS sub,
                 1.0 - CAST(levenshtein(t.tokens, g.mandal) AS DOUBLE)
                     / greatest(length(t.tokens), length(g.mandal), 1) AS levr,
                 CAST(len(list_intersect(string_split(t.tokens, ' '), string_split(g.mandal, ' '))) AS DOUBLE)
                   / greatest(len(list_distinct(string_split(t.tokens, ' '))),
                              len(list_distinct(string_split(g.mandal, ' ')))) AS tok
          FROM tgt t JOIN geo g
            ON (t.district = g.g_district) OR (t.district IS NULL AND t.state = g.g_state)
        ),
        scored AS (
          SELECT c_custkey, tokens, district, state, mandal,
                 CASE WHEN sub THEN 1.0
                      WHEN levr >= 0.5 THEN levr
                      ELSE greatest(levr, tok) END AS score,
                 CASE WHEN sub THEN 'exact_substring'
                      WHEN levr >= 0.5 OR levr >= tok THEN 'sequence_matcher'
                      ELSE 'token_overlap' END AS tier,
                 CASE WHEN district IS NULL THEN 0.45 ELSE 0.3 END AS thr
          FROM cand
        ),
        best AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY score DESC, mandal ASC) AS rn
            FROM scored WHERE score >= thr)
          WHERE rn = 1
        )
        SELECT t.c_custkey, t.tokens,
               COALESCE(t.district, '') AS district,
               CASE WHEN t.district IS NULL THEN 'state' ELSE 'district' END AS scope,
               COALESCE(b.mandal, '') AS imputed_mandal,
               COALESCE(b.tier, 'none') AS tier,
               COALESCE(b.score, -1.0) AS score
        FROM tgt t LEFT JOIN best b ON t.c_custkey = b.c_custkey
      """)) { (s, dir) =>
      // geo dim: (district, state, normalized mandal) — broadcast-sized,
      // like the reference's in-memory GeoReferenceCache.
      val geo = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("g_district"),
          concat(lit("S"), col("r_regionkey") % 2).as("g_state"),
          normText(col("n_name")).as("mandal"))

      val tgt = t(s, dir, "customer").filter(col("c_custkey") % 10 < 3)
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0,
            concat(lit("colony of "), normText(col("n_name")), lit(" ward 7")))
            // word-reordered variant: defeats the SequenceMatcher ratio
            // but not token overlap — exercises the third strategy
            .when(col("c_custkey") % 6 === 1, lit("nation 9 road"))
            .when(col("c_custkey") % 3 === 1, lit("road to 9 nation crossing"))
            .otherwise("unknown village lane").as("tokens"),
          when(col("c_custkey") % 2 === 0, col("r_name")).as("district"),
          concat(lit("S"), col("r_regionkey") % 2).as("state"))

      // district-blocked candidates for rows with a district, state-blocked
      // for the rest — two equi-joins, no cartesian
      // (mandal_imputation_from_address.py:124-130 find_mandal scoping).
      val distCand = tgt.filter(col("district").isNotNull)
        .join(broadcast(geo), col("district") === col("g_district"))
      val stateCand = tgt.filter(col("district").isNull)
        .join(broadcast(geo), col("state") === col("g_state"))
      val cand = distCand.unionByName(stateCand)

      val toksT = split(col("tokens"), " ")
      val toksM = split(col("mandal"), " ")
      val sub = col("tokens").contains(col("mandal")) ||
        col("mandal").contains(col("tokens"))
      val levr = lit(1.0) - levenshtein(col("tokens"), col("mandal")).cast("double") /
        greatest(length(col("tokens")), length(col("mandal")), lit(1))
      val tok = size(array_intersect(toksT, toksM)).cast("double") /
        greatest(size(array_distinct(toksT)), size(array_distinct(toksM)))
      // strategy precedence mirrors the reference exactly: substring wins
      // outright; SequenceMatcher keeps its score when >= 0.5; the
      // token-overlap fallback replaces only a strictly better score
      // (mandal_imputation_from_address.py:139-169).
      val scored = cand.select(
        col("c_custkey"), col("tokens"), col("district"), col("mandal"),
        when(sub, 1.0).when(levr >= 0.5, levr).otherwise(greatest(levr, tok)).as("score"),
        when(sub, "exact_substring")
          .when(levr >= 0.5 || levr >= tok, "sequence_matcher")
          .otherwise("token_overlap").as("tier"),
        when(col("district").isNull, 0.45).otherwise(0.3).as("thr"))

      val w = Window.partitionBy(col("c_custkey"))
        .orderBy(col("score").desc, col("mandal").asc)
      val best = scored.filter(col("score") >= col("thr"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("c_custkey").as("b_key"), col("mandal"), col("tier"), col("score"))

      tgt.join(best, col("c_custkey") === col("b_key"), "left")
        .select(col("c_custkey"), col("tokens"),
          coalesce(col("district"), lit("")).as("district"),
          when(col("district").isNull, "state").otherwise("district").as("scope"),
          coalesce(col("mandal"), lit("")).as("imputed_mandal"),
          coalesce(col("tier"), lit("none")).as("tier"),
          coalesce(col("score"), lit(-1.0)).as("score"))
    },

    // ---- E4: extracted↔DB pairing cascade --------------------------------
    QueryDef(
      "e4_extraction_pairing",
      "Pair LLM-extracted codes to DB rows: exact code, then normalized code, then first-token-blocked name containment; anti-join fall-through (brief_facts_ai/main.py:396-500)",
      Some("""
        WITH db AS (
          SELECT p_partkey, 'P-' || p_partkey AS db_code, p_name AS db_name,
                 upper(regexp_replace('P-' || p_partkey, '[^A-Za-z0-9]', '', 'g')) AS db_norm,
                 lower(string_split(p_name, ' ')[1]) AS db_block
          FROM part
        ),
        ex AS (
          SELECT DISTINCT
                 'X-' || l.l_orderkey || '-' || l.l_linenumber || '-' || l.l_partkey AS ex_id,
                 CASE l.l_linenumber % 4
                   WHEN 0 THEN 'P-' || l.l_partkey
                   WHEN 1 THEN 'p.' || l.l_partkey
                   WHEN 2 THEN string_split(p.p_name, ' ')[1]
                   ELSE 'Z-' || l.l_partkey END AS code
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_orderkey % 5 = 2
        ),
        t1 AS (
          SELECT e.ex_id, e.code, 'exact' AS tier, d.p_partkey, d.db_name
          FROM ex e JOIN db d ON e.code = d.db_code
        ),
        r1 AS (SELECT * FROM ex e WHERE NOT EXISTS (SELECT 1 FROM t1 WHERE t1.ex_id = e.ex_id AND t1.code = e.code)),
        t2 AS (
          SELECT e.ex_id, e.code, 'normalized' AS tier, d.p_partkey, d.db_name
          FROM r1 e JOIN db d
            ON upper(regexp_replace(e.code, '[^A-Za-z0-9]', '', 'g')) = d.db_norm
        ),
        r2 AS (SELECT * FROM r1 e WHERE NOT EXISTS (SELECT 1 FROM t2 WHERE t2.ex_id = e.ex_id AND t2.code = e.code)),
        t3 AS (
          SELECT * FROM (
            SELECT e.ex_id, e.code, 'name' AS tier, d.p_partkey, d.db_name,
                   row_number() OVER (PARTITION BY e.ex_id, e.code ORDER BY d.p_partkey) AS rn
            FROM r2 e JOIN db d ON lower(string_split(e.code, ' ')[1]) = d.db_block
            WHERE (contains(lower(d.db_name), lower(e.code)) OR contains(lower(e.code), lower(d.db_name)))
              AND length(e.code) > 3 AND length(d.db_name) > 3)
          WHERE rn = 1
        ),
        r3 AS (SELECT * FROM r2 e WHERE NOT EXISTS (SELECT 1 FROM t3 WHERE t3.ex_id = e.ex_id AND t3.code = e.code))
        SELECT ex_id, code, tier, p_partkey AS matched_key, db_name AS matched_name FROM t1
        UNION ALL SELECT ex_id, code, tier, p_partkey, db_name FROM t2
        UNION ALL SELECT ex_id, code, tier, p_partkey, db_name FROM t3
        UNION ALL SELECT ex_id, code, 'unmatched', -1, '' FROM r3
      """)) { (s, dir) =>
      val normCode = (c: Column) => upper(regexp_replace(c, "[^A-Za-z0-9]", ""))
      val db = t(s, dir, "part").select(
        col("p_partkey"),
        concat(lit("P-"), col("p_partkey")).as("db_code"),
        col("p_name").as("db_name"),
        normCode(concat(lit("P-"), col("p_partkey"))).as("db_norm"),
        lower(split(col("p_name"), " ").getItem(0)).as("db_block"))

      // fixture: extracted codes in the four shapes the LLM emits —
      // exact, decorated (normalizable), bare name, and garbage.
      // DISTINCT: ex_id is an identity, and lineitem's key triple is not
      // unique in the fixture — without the dedup, duplicate extraction
      // rows multiply through the mapping join while the oracle's tier-3
      // row_number collapses them (1-row divergence observed at sf0.1).
      val ex = t(s, dir, "lineitem").filter(col("l_orderkey") % 5 === 2)
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .select(
          concat(lit("X-"), col("l_orderkey"), lit("-"), col("l_linenumber"),
            lit("-"), col("l_partkey")).as("ex_id"),
          when(col("l_linenumber") % 4 === 0, concat(lit("P-"), col("l_partkey")))
            .when(col("l_linenumber") % 4 === 1, concat(lit("p."), col("l_partkey")))
            .when(col("l_linenumber") % 4 === 2, split(col("p_name"), " ").getItem(0))
            .otherwise(concat(lit("Z-"), col("l_partkey"))).as("code"))
        .distinct()

      // Single-pass cascade: three LEFT joins against broadcast dim slices
      // with CASE precedence — result-identical to the anti-join chain in
      // the oracle (a row matched at tier N ignores lower tiers), but the
      // ex subtree is computed ONCE in one linear plan. The anti-join
      // formulation re-derived ex for every tier branch and was ~10x
      // slower at sf0.1.
      val t1d = broadcast(db.select(col("db_code").as("t1_code"),
        col("p_partkey").as("t1_key"), col("db_name").as("t1_name")))
      val t2d = broadcast(db.select(col("db_norm").as("t2_norm"),
        col("p_partkey").as("t2_key"), col("db_name").as("t2_name")))
      val t3d = broadcast(db.select(col("db_block").as("t3_block"),
        col("p_partkey").as("t3_key"), col("db_name").as("t3_name")))
      // tier-3 containment rides the block-key equi-join as a residual
      // condition, so the candidate set stays bounded (main.py:423-433)
      // both sides lowered to mirror the oracle's contains(lower, lower)
      // exactly — p_name happens to be all-lowercase in the testdata, but
      // mixed-case name data must not diverge Spark from the oracle
      val contained3 = (lower(col("t3_name")).contains(lower(col("code"))) ||
        lower(col("code")).contains(lower(col("t3_name")))) &&
        length(col("code")) > 3 && length(col("t3_name")) > 3
      // dedupe-then-score: the match depends only on the code STRING, so
      // score each distinct code once (the reference builds one
      // roles_by_code dict, not one lookup per row), then join the
      // mapping back to the extracted rows. At scale this keeps the
      // containment tier's candidate blow-up bounded by |distinct codes|,
      // not |rows| — and duplicate extracted rows pair independently for
      // free, since the mapping join preserves multiplicity.
      val codes = ex.select(col("code")).distinct()
      val joinedC = codes
        .join(t1d, col("code") === col("t1_code"), "left")
        .join(t2d, normCode(col("code")) === col("t2_norm"), "left")
        .join(t3d,
          lower(split(col("code"), " ").getItem(0)) === col("t3_block") && contained3,
          "left")
      // top-1 name candidate per code (min t3 part key; codes with no t3
      // match keep their single null-extended copy). min_by over a hash
      // aggregate instead of a row_number window: same pick — only the
      // t3 fields vary within a code, t3_key cannot tie (one dim row per
      // part key), and nulls sort last via the MaxValue sentinel — but
      // no per-partition sort, which was the residual cost of this stage.
      val pickKey = coalesce(col("t3_key"), lit(Long.MaxValue))
      val mapping = joinedC
        .groupBy(col("code"))
        .agg(min_by(struct(col("t1_key"), col("t2_key"), col("t3_key"),
          col("t1_name"), col("t2_name"), col("t3_name")), pickKey).as("r"))
        .select(col("code").as("m_code"),
          when(col("r.t1_key").isNotNull, "exact")
            .when(col("r.t2_key").isNotNull, "normalized")
            .when(col("r.t3_key").isNotNull, "name")
            .otherwise("unmatched").as("tier"),
          coalesce(col("r.t1_key"), col("r.t2_key"), col("r.t3_key"), lit(-1L))
            .as("matched_key"),
          coalesce(col("r.t1_name"), col("r.t2_name"), col("r.t3_name"), lit(""))
            .as("matched_name"))
      ex.join(mapping, col("code") === col("m_code"))
        .select(col("ex_id"), col("code"), col("tier"),
          col("matched_key"), col("matched_name"))
    })
}
