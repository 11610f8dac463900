package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}

/** Entity resolution (SURVEY.md §2.8 E1–E3): tiered md5 fingerprint
  * dedup with fall-through, blocked fuzzy matching, and weighted
  * canonical-identity scoring. All joins are blocked equi-joins — an
  * all-pairs cross join never appears in any plan (mandatory at 100 TB:
  * the reference's own name-index blocking,
  * `create_person_deduplication_table.py:619-653`).
  */
object Resolve {

  val defs: Seq[QueryDef] = Seq(

    // ---- E1: hierarchical fingerprint dedup with tier fall-through ------
    QueryDef(
      "e1_fingerprint_dedup",
      "3-tier md5 fingerprint cascade over supplier: finest tier grouping ≥2 records wins; tier-weighted confidence; unmatched → NULL (create_person_deduplication_table.py:516-617)",
      Some("""
        WITH fp AS (
          SELECT s_suppkey,
                 md5(concat_ws('|', s_nationkey,
                               CAST(floor(s_acctbal / 100) AS BIGINT))) AS fp1,
                 md5(concat_ws('|', s_nationkey,
                               CAST(floor(s_acctbal / 2000) AS BIGINT))) AS fp2,
                 md5(concat_ws('|', s_nationkey)) AS fp3
          FROM supplier
        ), cnt AS (
          SELECT *,
                 COUNT(*) OVER (PARTITION BY fp1) AS n1,
                 COUNT(*) OVER (PARTITION BY fp2) AS n2,
                 COUNT(*) OVER (PARTITION BY fp3) AS n3
          FROM fp
        )
        SELECT s_suppkey,
               CASE WHEN n1 > 1 THEN 1 WHEN n2 > 1 THEN 2 WHEN n3 > 1 THEN 3 END AS match_tier,
               CASE WHEN n1 > 1 THEN fp1 WHEN n2 > 1 THEN fp2 WHEN n3 > 1 THEN fp3 END AS group_id,
               CASE WHEN n1 > 1 THEN CAST(n1 AS BIGINT) WHEN n2 > 1 THEN CAST(n2 AS BIGINT)
                    WHEN n3 > 1 THEN CAST(n3 AS BIGINT) END AS group_size,
               CASE WHEN n1 > 1 THEN 0.95 WHEN n2 > 1 THEN 0.80 WHEN n3 > 1 THEN 0.65 END AS confidence
        FROM cnt
      """)) { (s, dir) =>
      val fp = t(s, dir, "supplier").select(
        col("s_suppkey"),
        md5(concat_ws("|", col("s_nationkey"),
          floor(col("s_acctbal") / 100))).as("fp1"),
        md5(concat_ws("|", col("s_nationkey"),
          floor(col("s_acctbal") / 2000))).as("fp2"),
        md5(concat_ws("|", col("s_nationkey"))).as("fp3"))
      val cnt = fp
        .withColumn("n1", count(lit(1)).over(Window.partitionBy("fp1")))
        .withColumn("n2", count(lit(1)).over(Window.partitionBy("fp2")))
        .withColumn("n3", count(lit(1)).over(Window.partitionBy("fp3")))
      cnt.select(
        col("s_suppkey"),
        when(col("n1") > 1, 1).when(col("n2") > 1, 2).when(col("n3") > 1, 3)
          .as("match_tier"),
        when(col("n1") > 1, col("fp1")).when(col("n2") > 1, col("fp2"))
          .when(col("n3") > 1, col("fp3")).as("group_id"),
        when(col("n1") > 1, col("n1")).when(col("n2") > 1, col("n2"))
          .when(col("n3") > 1, col("n3")).as("group_size"),
        when(col("n1") > 1, 0.95).when(col("n2") > 1, 0.80)
          .when(col("n3") > 1, 0.65).as("confidence"))
    },

    // ---- E2: blocked fuzzy fallback match -------------------------------
    // Scale note (round-8 rewrite): the naive plan joined ROWS on the
    // first-token block; with a fixed name vocabulary the block count is
    // constant, block sizes grow linearly with data, and candidate pairs
    // grow quadratically (measured 9.5x wall-clock for 10x data). The
    // rewrite below is EXACTLY result-preserving (the DuckDB oracle is
    // unchanged and still hash-matches) but does all Levenshtein work on
    // the DISTINCT-NAME relation — entity-bounded, independent of row
    // count — and replaces the row-level candidate fan-out with per-name
    // extremal keys: the original (dist ASC, cand_key ASC) top-1 can only
    // ever select a candidate name's smallest partkey (or second-smallest
    // when the smallest IS the query row), so two tiny map-side-combined
    // aggregations carry all the information the window needs. Row-level
    // work is linear equi-joins against broadcast name relations.
    QueryDef(
      "e2_blocked_fuzzy",
      "Blocked levenshtein similarity join: block on first name token, top-1 candidate; pair generation on the distinct-name relation, never all-rows (create_person_deduplication_table.py:619-653)",
      Some("""
        WITH parts AS (
          SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS block
          FROM part
        ), pairs AS (
          SELECT q.p_partkey AS query_key, q.p_name AS query_name,
                 c.p_partkey AS cand_key, c.p_name AS cand_name,
                 levenshtein(q.p_name, c.p_name) AS dist
          FROM parts q JOIN parts c
            ON q.block = c.block AND q.p_partkey <> c.p_partkey
          WHERE q.p_partkey % 50 = 0 AND levenshtein(q.p_name, c.p_name) <= 4
        )
        SELECT query_key, query_name, cand_key, cand_name, dist FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_key
                                       ORDER BY dist, cand_key) AS rn
          FROM pairs
        ) WHERE rn = 1
      """)) { (s, dir) =>
      val parts = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      // Distinct-name relation: |names| = vocabulary size, not row count.
      val names = parts.select(col("p_name")).distinct()
        .withColumn("block", split(col("p_name"), " ").getItem(0))
      val namePairs = names.select(col("p_name").as("qn"), col("block"))
        .join(broadcast(names.select(col("p_name").as("cn"), col("block"))),
          Seq("block"))
        .withColumn("dist", levenshtein(col("qn"), col("cn")))
        .filter(col("dist") <= 4)
        .select("qn", "cn", "dist")
      // Per candidate name: smallest and second-smallest partkey — the only
      // two rows the (dist, cand_key) top-1 can ever pick. Both aggs
      // map-side combine down to |names| rows.
      val min1 = parts.groupBy(col("p_name").as("cn"))
        .agg(min("p_partkey").as("min1"))
      val min2 = parts
        .join(broadcast(min1), parts("p_name") === min1("cn")
          && col("p_partkey") > col("min1"))
        .groupBy(col("cn")).agg(min("p_partkey").as("min2"))
      val candStats = min1.join(min2, Seq("cn"), "left")
      val queries = parts.filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey").as("query_key"), col("p_name").as("query_name"))
      val cand = queries
        .join(broadcast(namePairs), col("query_name") === col("qn"))
        .join(broadcast(candStats), Seq("cn"))
        .withColumn("cand_key",
          when(col("min1") === col("query_key"), col("min2"))
            .otherwise(col("min1")))
        .filter(col("cand_key").isNotNull)
      // Window partitions = one query row each, a handful of name-pair rows
      // per partition: parallelism grows with data instead of being capped.
      val w = Window.partitionBy("query_key").orderBy(col("dist"), col("cand_key"))
      cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_key"), col("query_name"), col("cand_key"),
          col("cn").as("cand_name"), col("dist"))
    },

    // ---- E3: weighted canonical-identity scoring ------------------------
    // Scale note (round-8 rewrite): blocking on (nation, segment) alone is
    // 125 FIXED blocks — block sizes, and thus candidate pairs, grow
    // quadratically with data. The block key now includes a balance band
    // (width 1000) with ±1 multi-probe on the query side, aligning the
    // block with the score's balance-closeness term: candidates further
    // than one band from the query are low-value matches by construction
    // and are traded away for a block count that keeps per-block size
    // bounded (standard sorted-neighborhood / banding). The band width is
    // the precision/recall knob; the DuckDB oracle blocks identically, so
    // both engines agree on the banded semantics. A candidate lives in
    // exactly one band and the three probe bands are distinct, so no pair
    // is generated twice.
    QueryDef(
      "e3_weighted_identity",
      "Composite weighted score (name sim + balance closeness + segment) over (nation, segment, balance-band) blocks with ±1 multi-probe, best ≥ threshold (brief_facts_ai/main.py:260-376)",
      Some("""
        WITH b AS (
          SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
                 CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
          FROM customer
        ), qs AS (
          SELECT * FROM b WHERE c_custkey % 100 = 0
        ), qp AS (
          SELECT qs.*, qs.band + d.delta AS probe_band
          FROM qs CROSS JOIN (VALUES (-1), (0), (1)) AS d(delta)
        ), pairs AS (
          SELECT q.c_custkey AS query_key,
                 c.c_custkey AS cand_key,
                 (0.5 * (1.0 - CAST(levenshtein(q.c_name, c.c_name) AS DOUBLE)
                              / greatest(length(q.c_name), length(c.c_name), 1))
                  + 0.3 * (1.0 - abs(q.c_acctbal - c.c_acctbal)
                               / greatest(abs(q.c_acctbal), abs(c.c_acctbal), 1.0))
                  + 0.2) AS score
          FROM qp q JOIN b c
            ON q.c_nationkey = c.c_nationkey AND q.c_mktsegment = c.c_mktsegment
           AND q.probe_band = c.band
          WHERE q.c_custkey <> c.c_custkey
        )
        SELECT query_key, cand_key, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_key
                                       ORDER BY score DESC, cand_key) AS rn
          FROM pairs WHERE score >= 0.5
        ) WHERE rn = 1
      """)) { (s, dir) =>
      val banded = t(s, dir, "customer")
        .withColumn("band", floor(col("c_acctbal") / lit(1000.0)))
      val qs = banded.filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey").as("query_key"), col("c_name").as("q_name"),
          col("c_nationkey").as("q_nation"), col("c_mktsegment").as("q_seg"),
          col("c_acctbal").as("q_bal"),
          explode(array(col("band") - 1, col("band"), col("band") + 1))
            .as("probe_band"))
      val pairs = qs.join(banded,
          col("q_nation") === col("c_nationkey")
            && col("q_seg") === col("c_mktsegment")
            && col("probe_band") === col("band"))
        .filter(col("query_key") =!= col("c_custkey"))
        .select(col("query_key"), col("c_custkey").as("cand_key"),
          (lit(0.5) * (lit(1.0) - levenshtein(col("q_name"), col("c_name")).cast("double")
              / greatest(length(col("q_name")), length(col("c_name")), lit(1)))
            + lit(0.3) * (lit(1.0) - abs(col("q_bal") - col("c_acctbal"))
              / greatest(abs(col("q_bal")), abs(col("c_acctbal")), lit(1.0)))
            + lit(0.2)).as("score"))
      val w = Window.partitionBy("query_key").orderBy(col("score").desc, col("cand_key"))
      pairs.filter(col("score") >= 0.5)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_key"), col("cand_key"), col("score"))
    },

    // ---- E14: mutual-best-match 1:1 linkage -----------------------------
    // Beyond-reference ER completion step: the reference picks a best
    // candidate per QUERY row (`brief_facts_ai/main.py:260-376` row_number
    // top-1), which lets two queries claim the same target. The symmetric
    // "stable pairs" rule — keep (a, b) only when b is a's argmax AND a is
    // b's argmax — is the standard greedy-free 1:1 assignment a linkage
    // pipeline runs before survivorship (e7).
    QueryDef(
      "e14_mutual_best_match",
      "Mutual-best-match 1:1 linkage between two name domains (even/odd-length part names): Jaro-Winkler scored, blocked on first token, candidates generated on the DISTINCT-NAME relation (e2's discipline — vocabulary-sized, never row-fanout), and BOTH argmax windows partition per name so parallelism grows with data; ranking compares the 6-dp-rounded score (engine-independent order), mutual pairs survive an equi-join of the two argmax relations",
      Some("""
        WITH names AS (
          SELECT DISTINCT p_name, string_split(p_name, ' ')[1] AS block,
                 length(p_name) % 2 AS side
          FROM part
        ),
        pairs AS (
          SELECT a.p_name AS name_a, b.p_name AS name_b,
                 round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
          FROM names a JOIN names b ON a.block = b.block
          WHERE a.side = 0 AND b.side = 1
            AND jaro_winkler_similarity(a.p_name, b.p_name) >= 0.7
        ),
        ba AS (
          SELECT name_a, name_b, jw FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY name_a
                                         ORDER BY jw DESC, name_b) AS rn
            FROM pairs) WHERE rn = 1
        ),
        bb AS (
          SELECT name_a, name_b FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY name_b
                                         ORDER BY jw DESC, name_a) AS rn
            FROM pairs) WHERE rn = 1
        )
        SELECT ba.name_a, ba.name_b, ba.jw
        FROM ba JOIN bb ON ba.name_a = bb.name_a AND ba.name_b = bb.name_b
      """)) { (s, dir) =>
      import graft.functions.NativeExpressions.jaro_winkler_native
      val names = t(s, dir, "part").select(col("p_name")).distinct()
        .withColumn("block", split(col("p_name"), " ").getItem(0))
        .withColumn("side", length(col("p_name")) % 2)
        .cache()
      // candidate pairs on the distinct-name relation; the 6-dp round
      // BEFORE ranking makes the argmax order identical across engines
      // (raw jw doubles could differ in the last ulp)
      val pairs = names.filter(col("side") === 0)
        .select(col("p_name").as("name_a"), col("block"))
        .join(broadcast(names.filter(col("side") === 1)
          .select(col("p_name").as("name_b"), col("block"))), Seq("block"))
        .withColumn("jw0", jaro_winkler_native(col("name_a"), col("name_b")))
        .filter(col("jw0") >= 0.7)
        .select(col("name_a"), col("name_b"), round(col("jw0"), 6).as("jw"))
      val wa = Window.partitionBy("name_a").orderBy(col("jw").desc, col("name_b"))
      val wb = Window.partitionBy("name_b").orderBy(col("jw").desc, col("name_a"))
      val ba = pairs.withColumn("rn", row_number().over(wa))
        .filter(col("rn") === 1).select(col("name_a"), col("name_b"), col("jw"))
      val bb = pairs.withColumn("rn", row_number().over(wb))
        .filter(col("rn") === 1).select(col("name_a"), col("name_b"))
      ba.join(bb, Seq("name_a", "name_b"))
        .select(col("name_a"), col("name_b"), col("jw"))
    },

    // ---- E16: clerical-review queue -------------------------------------
    // The human-in-the-loop step every probabilistic linker ships
    // (Fellegi-Sunter's "possible link" region): pairs whose score lands
    // in the uncertain band go to reviewers, but reviewer time is the
    // budget — so the queue is a DETERMINISTIC per-block quota sample
    // (md5 order), not a top-N by score (which would only ever show
    // reviewers the same near-threshold shapes).
    QueryDef(
      "e16_review_queue",
      "Clerical-review queue: candidate pairs on the DISTINCT-NAME relation (e2's vocabulary-sized discipline), Jaro-Winkler uncertain band [0.75, 0.92), per-block quota of 3 picked by md5(name pair) — a deterministic stratified sample whose ranking window partitions per block (parallelism grows with data); raw-score band edges evaluated identically in both engines, emitted score rounded to 6 dp",
      Some("""
        WITH names AS (
          SELECT DISTINCT p_name, string_split(p_name, ' ')[1] AS block,
                 length(p_name) % 2 AS side
          FROM part
        ),
        pairs AS (
          SELECT a.block, a.p_name AS name_a, b.p_name AS name_b,
                 round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
          FROM names a JOIN names b ON a.block = b.block
          WHERE a.side = 0 AND b.side = 1
            AND jaro_winkler_similarity(a.p_name, b.p_name) >= 0.75
            AND jaro_winkler_similarity(a.p_name, b.p_name) < 0.92
        ),
        q AS (
          SELECT block, name_a, name_b, jw,
                 ROW_NUMBER() OVER (PARTITION BY block
                   ORDER BY md5(name_a || '|' || name_b), name_a, name_b) AS rk
          FROM pairs
        )
        SELECT block, name_a, name_b, jw, CAST(rk AS INT) AS rk
        FROM q WHERE rk <= 3
      """)) { (s, dir) =>
      import graft.functions.NativeExpressions.jaro_winkler_native
      val names = t(s, dir, "part").select(col("p_name")).distinct()
        .withColumn("block", split(col("p_name"), " ").getItem(0))
        .withColumn("side", length(col("p_name")) % 2)
        .cache()
      val pairs = names.filter(col("side") === 0)
        .select(col("p_name").as("name_a"), col("block"))
        .join(broadcast(names.filter(col("side") === 1)
          .select(col("p_name").as("name_b"), col("block"))), Seq("block"))
        .withColumn("jw0", jaro_winkler_native(col("name_a"), col("name_b")))
        .filter(col("jw0") >= 0.75 && col("jw0") < 0.92)
        .select(col("block"), col("name_a"), col("name_b"),
          round(col("jw0"), 6).as("jw"))
      val wq = Window.partitionBy("block")
        .orderBy(md5(concat(col("name_a"), lit("|"), col("name_b"))),
          col("name_a"), col("name_b"))
      pairs.withColumn("rk", row_number().over(wq)).filter(col("rk") <= 3)
        .select(col("block"), col("name_a"), col("name_b"), col("jw"), col("rk"))
    },

    // ---- E17: unsupervised Fellegi-Sunter EM ------------------------------
    // e11 computes m/u from LABELED truth; production linkers (Splink's
    // core loop) estimate them UNSUPERVISED by EM over the field-agreement
    // pattern counts. With 2 binary comparison fields the pattern space is
    // 4 rows, every pattern count folds from group sizes as C(c,2) (e8's
    // count-space discipline — no pair ever materializes), and 4 EM
    // iterations unroll as chained selects of pure arithmetic with
    // IDENTICAL expression text in both engines (the dd93 PcaSql
    // discipline), so the fixpoint is bit-identical.
    QueryDef(
      "e17_fs_em",
      "Unsupervised Fellegi-Sunter parameter estimation: agreement-pattern counts (lang x char-bucket) in count space — three C(c,2) groupBys, no pairs — then 4 unrolled EM iterations (E-step posterior per pattern, M-step closed-form lambda/m/u) as shared-text arithmetic on a 1-row relation; emits lambda, per-field m/u, and the log2 match weights a linkage cascade consumes",
      Some(EmSql.oracle)) { (s, dir) =>
      val keyed = t(s, dir, "documents")
        .select(col("lang"), (col("n_chars") / 100).cast("long").as("cb"))
        .cache()
      def cpairs(df: DataFrame, out: String): DataFrame =
        df.agg(sum(expr("c*(c-1) div 2")).as(out))
      val n = keyed.agg(count(lit(1)).as("n"))
      val al = cpairs(keyed.groupBy(col("lang")).agg(count(lit(1)).as("c")), "al")
      val ac = cpairs(keyed.groupBy(col("cb")).agg(count(lit(1)).as("c")), "ac")
      val alc = cpairs(keyed.groupBy(col("lang"), col("cb"))
        .agg(count(lit(1)).as("c")), "alc")
      var df = n.crossJoin(broadcast(al)).crossJoin(broadcast(ac))
        .crossJoin(broadcast(alc))
        .selectExpr(EmSql.baseExprs: _*)
        .selectExpr(EmSql.initExprs: _*)
      for (_ <- 1 to EmSql.Steps) {
        df = df.selectExpr(EmSql.wStep: _*).selectExpr(EmSql.mStep: _*)
      }
      df.selectExpr(EmSql.finalExprs: _*)
    })

  /** Shared EM expression generator — identical arithmetic text emitted
    * into both the Spark selectExpr chain and the DuckDB oracle, so the
    * unrolled iteration is bit-identical (the dd93 PcaSql discipline). */
  private[graft] object EmSql {
    val Steps = 4
    private val counts = Seq("n11", "n10", "n01", "n00", "t")
    val baseExprs: Seq[String] = Seq(
      "alc AS n11", "al - alc AS n10", "ac - alc AS n01",
      "n*(n-1) div 2 - al - ac + alc AS n00", "n*(n-1) div 2 AS t")
    // CAST(... AS DOUBLE): a bare 0.9 parses as DECIMAL in BOTH engines
    // and the first iteration's decimal/double promotion rules differ —
    // the a26 literal-type lesson, applied to shared text
    val initExprs: Seq[String] = counts ++ Seq(
      "CAST(0.01 AS DOUBLE) AS lam", "CAST(0.9 AS DOUBLE) AS ml",
      "CAST(0.9 AS DOUBLE) AS mc", "CAST(0.1 AS DOUBLE) AS ul",
      "CAST(0.1 AS DOUBLE) AS uc")
    private def pm(a: Int, b: Int): String =
      s"${if (a == 1) "ml" else "(1.0-ml)"}*${if (b == 1) "mc" else "(1.0-mc)"}"
    private def pu(a: Int, b: Int): String =
      s"${if (a == 1) "ul" else "(1.0-ul)"}*${if (b == 1) "uc" else "(1.0-uc)"}"
    private def w(a: Int, b: Int): String =
      s"lam*${pm(a, b)} / (lam*${pm(a, b)} + (1.0-lam)*${pu(a, b)})"
    val wStep: Seq[String] = counts ++ Seq("lam", "ml", "mc", "ul", "uc") ++ Seq(
      s"${w(1, 1)} AS w11", s"${w(1, 0)} AS w10",
      s"${w(0, 1)} AS w01", s"${w(0, 0)} AS w00")
    private val sw = "(n11*w11 + n10*w10 + n01*w01 + n00*w00)"
    val mStep: Seq[String] = counts ++ Seq(
      s"$sw / t AS lam",
      s"(n11*w11 + n10*w10) / $sw AS ml",
      s"(n11*w11 + n01*w01) / $sw AS mc",
      s"(n11*(1.0-w11) + n10*(1.0-w10)) / (t - $sw) AS ul",
      s"(n11*(1.0-w11) + n01*(1.0-w01)) / (t - $sw) AS uc")
    val finalExprs: Seq[String] = Seq(
      "t AS total_pairs", "n11", "n10", "n01", "n00",
      "round(lam, 6) AS lambda", "round(ml, 6) AS m_lang",
      "round(mc, 6) AS m_cb", "round(ul, 6) AS u_lang",
      "round(uc, 6) AS u_cb",
      "round(log2(ml/ul), 6) AS w_lang", "round(log2(mc/uc), 6) AS w_cb")
    val oracle: String = {
      val sb = new StringBuilder
      sb ++= """WITH keyed AS (
        SELECT lang, CAST(n_chars // 100 AS BIGINT) AS cb FROM documents),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keyed),
      pal AS (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) AS al
              FROM (SELECT lang, CAST(count(*) AS BIGINT) c FROM keyed GROUP BY 1)),
      pac AS (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) AS ac
              FROM (SELECT cb, CAST(count(*) AS BIGINT) c FROM keyed GROUP BY 1)),
      palc AS (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) AS alc
               FROM (SELECT lang, cb, CAST(count(*) AS BIGINT) c FROM keyed GROUP BY 1,2)),
      """
      // DuckDB uses // for integer division where Spark SQL uses div
      def dd(e: String): String = e.replace(" div ", " // ")
      sb ++= s"base AS (SELECT ${baseExprs.map(dd).mkString(", ")} FROM nn, pal, pac, palc),\n"
      sb ++= s"it0 AS (SELECT ${initExprs.mkString(", ")} FROM base)"
      var prev = "it0"
      for (k <- 1 to Steps) {
        sb ++= s",\nsw$k AS (SELECT ${wStep.mkString(", ")} FROM $prev)"
        sb ++= s",\nsm$k AS (SELECT ${mStep.mkString(", ")} FROM sw$k)"
        prev = s"sm$k"
      }
      sb ++= s"\nSELECT ${finalExprs.mkString(", ")} FROM $prev"
      sb.toString
    }
  }
}
