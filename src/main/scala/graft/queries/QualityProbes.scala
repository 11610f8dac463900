package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** Distribution-health probes: PSI drift between two time windows of the
  * order fact (the model-monitoring twin of dd43's corpus-level JS
  * divergence) and a gaps-and-islands repeated-token run detector (the
  * classic degenerate-generation / boilerplate filter a pre-training
  * curation pass runs per document).
  */
object QualityProbes {

  val defs: Seq[QueryDef] = Seq(

    // ---- DD53: population stability index between two year windows ------
    QueryDef(
      "dd53_psi_drift",
      "PSI drift of the order-value distribution, 1995 reference vs 1997 current: fixed-width value buckets, Laplace-smoothed (+1/k=10) shares, per-bucket (cur-ref)*ln(cur/ref) terms — BOTH windows' counts come from ONE conditional-aggregation groupBy over one scan, the year totals broadcast back, and every double expression is written operand-for-operand identically in both engines",
      Some("""
        WITH b AS (
          SELECT CAST(LEAST(floor(o_totalprice / 50000), 9) AS INT) AS bucket,
                 CAST(SUM(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
                 CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
          FROM orders
          WHERE year(o_orderdate) IN (1995, 1997)
          GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(ref_n) AS BIGINT) AS ref_t, CAST(SUM(cur_n) AS BIGINT) AS cur_t
          FROM b
        )
        SELECT bucket, ref_n, cur_n,
               round((ref_n + 1.0) / (ref_t + 10), 9) AS ref_p,
               round((cur_n + 1.0) / (cur_t + 10), 9) AS cur_p,
               round(((cur_n + 1.0) / (cur_t + 10) - (ref_n + 1.0) / (ref_t + 10))
                     * ln(((cur_n + 1.0) / (cur_t + 10)) / ((ref_n + 1.0) / (ref_t + 10))), 9)
                 AS psi_term
        FROM b, tot
      """)) { (s, dir) =>
      // Model-monitoring shape at 100 TB: the fact table is scanned ONCE
      // with both windows' counts as conditional partial aggregates (no
      // self-join of two filtered scans), the bucket relation is k=10
      // rows, and the year totals are a broadcast 1-row aggregate.
      // Laplace +1 smoothing keeps ln() finite when a bucket empties in
      // one window — the standard PSI guard.
      val b = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1997))
        .select(
          least(floor(col("o_totalprice") / 50000), lit(9)).cast("int").as("bucket"),
          year(col("o_orderdate")).as("y"))
        .groupBy(col("bucket"))
        .agg(sum(when(col("y") === 1995, 1L).otherwise(0L)).as("ref_n"),
          sum(when(col("y") === 1997, 1L).otherwise(0L)).as("cur_n"))
      val tot = b.agg(sum(col("ref_n")).cast("long").as("ref_t"),
        sum(col("cur_n")).cast("long").as("cur_t"))
      val refP = (col("ref_n") + 1.0) / (col("ref_t") + 10)
      val curP = (col("cur_n") + 1.0) / (col("cur_t") + 10)
      b.crossJoin(broadcast(tot))
        .select(col("bucket"), col("ref_n"), col("cur_n"),
          round(refP, 9).as("ref_p"),
          round(curP, 9).as("cur_p"),
          round((curP - refP) * log(curP / refP), 9).as("psi_term"))
    },

    // ---- DD54: repeated-token run detection (gaps and islands) -----------
    QueryDef(
      "dd54_token_runs",
      "Degenerate-repetition detector: longest consecutive same-token run per document via gaps-and-islands (position minus per-token row_number is constant within a run) — the run grouping, the island rollup, and the per-doc maximum all ride ONE doc-keyed exchange; position base (0 vs 1) cancels out of the island key",
      Some("""
        WITH pos AS (
          SELECT doc_id, i.g AS p, arr[i.g] AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
               LATERAL unnest(generate_series(1, len(arr))) AS i(g)
        ),
        runs AS (
          SELECT doc_id, w,
                 p - row_number() OVER (PARTITION BY doc_id, w ORDER BY p) AS island
          FROM pos
        ),
        rl AS (
          SELECT doc_id, w, CAST(count(*) AS BIGINT) AS run_len
          FROM runs GROUP BY doc_id, w, island
        )
        SELECT doc_id,
               MAX(run_len) AS max_run,
               CAST(SUM(CASE WHEN run_len >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_runs,
               MAX(run_len) >= 3 AS is_loopy
        FROM rl GROUP BY doc_id
      """)) { (s, dir) =>
      // The gaps-and-islands identity makes run detection embarrassingly
      // parallel: island = position - rank_within(doc, token) is constant
      // exactly along a consecutive run, so one doc-keyed window plus two
      // doc-keyed groupBys find every run without any self-join or
      // sequential scan. Spark reuses the doc_id hash partitioning across
      // all three steps — one exchange total. posexplode is 0-based and
      // DuckDB's generate_series 1-based; the shift is absorbed by the
      // subtraction.
      val pos = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(Text.tokens).as(Seq("p", "w")))
      val w = Window.partitionBy("doc_id", "w").orderBy("p")
      val rl = pos
        .withColumn("island", col("p") - row_number().over(w))
        .groupBy(col("doc_id"), col("w"), col("island"))
        .agg(count(lit(1)).as("run_len"))
      rl.groupBy(col("doc_id"))
        .agg(max(col("run_len")).as("max_run"),
          sum(when(col("run_len") >= 2, 1L).otherwise(0L)).as("n_repeat_runs"),
          (max(col("run_len")) >= 3).as("is_loopy"))
    },

    // ---- DD57: Count-Min sketch calibration --------------------------------
    QueryDef(
      "dd57_cms_calibration",
      "Count-Min sketch point queries gated against exact counts for the 20 heaviest users (eps=0.001, conf=0.99, fixed seed, mergeable per-partition build): DuckDB has no CMS, but the sketch's CONTRACT is SQL-expressible — the oracle pins the exact top-20 counts and asserts the never-underestimate flag and the eps·N overestimate budget as booleans (dd27's sketch-gate pattern)",
      Some("""
        WITH counts AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
          FROM events GROUP BY user_id
        )
        SELECT user_id, exact_n,
               TRUE AS cms_never_under, TRUE AS cms_within_budget
        FROM counts ORDER BY exact_n DESC, user_id LIMIT 20
      """)) { (s, dir) =>
      // Distributed build: df.stat.countMinSketch tree-aggregates
      // per-partition sketches (element-wise addition is commutative, so
      // partition order cannot change the result; the seed pins the hash
      // functions). Only the fixed-size sketch and 20 probe rows ever
      // reach the driver — the same shape at 100 TB. The booleans are the
      // CMS guarantee: estimates never undercount, and overshoot at most
      // eps·N (probed on the heaviest keys, where collisions hurt most);
      // a sketch drifting out of contract fails CORRECTNESS.
      val ev = t(s, dir, "events")
      val cms = ev.stat.countMinSketch(
        "user_id", eps = 0.001, confidence = 0.99, seed = 42)
      val budget = 0.001 * ev.count()
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(20)
        .collect()
      val rows = top.map { r =>
        val est = cms.estimateCount(r.getLong(0))
        (r.getLong(0), r.getLong(1), est >= r.getLong(1),
          (est - r.getLong(1)).toDouble <= budget)
      }.toSeq
      import s.implicits._
      rows.toDF("user_id", "exact_n", "cms_never_under", "cms_within_budget")
    },

    // ---- DD66: BLEU-2 n-gram support scoring -------------------------------
    QueryDef(
      "dd66_bleu_pairs",
      "BLEU-2 core as a scalable pair metric: each doc scored against its tail-trimmed variant (the dd31 planted pair) — CLIPPED unigram/bigram precisions via per-gram min(cand_count, ref_count), geometric mean, brevity penalty. The gram-count joins are pair-bounded (grams of ONE doc pair, never cross-pair); this is the summary-support / eval-contamination overlap scorer a data pipeline runs at corpus scale",
      Some("""
        WITH pairs AS (
          SELECT doc_id AS pair_id, text AS cand,
                 regexp_replace(text, '^(\w+ ){3}', '') AS ref
          FROM documents WHERE doc_id % 5 = 0
        ),
        g1c AS (
          SELECT pair_id, g, CAST(count(*) AS BIGINT) AS cn
          FROM (SELECT pair_id, unnest(string_split(cand, ' ')) AS g FROM pairs)
          GROUP BY 1, 2
        ),
        g1r AS (
          SELECT pair_id, g, CAST(count(*) AS BIGINT) AS rn
          FROM (SELECT pair_id, unnest(string_split(ref, ' ')) AS g FROM pairs)
          GROUP BY 1, 2
        ),
        g2c AS (
          SELECT pair_id, g, CAST(count(*) AS BIGINT) AS cn
          FROM (SELECT pair_id, unnest(list_transform(
                   generate_series(1, len(string_split(cand, ' ')) - 1),
                   i -> string_split(cand, ' ')[i] || ' ' || string_split(cand, ' ')[i+1])) AS g
                FROM pairs)
          GROUP BY 1, 2
        ),
        g2r AS (
          SELECT pair_id, g, CAST(count(*) AS BIGINT) AS rn
          FROM (SELECT pair_id, unnest(list_transform(
                   generate_series(1, len(string_split(ref, ' ')) - 1),
                   i -> string_split(ref, ' ')[i] || ' ' || string_split(ref, ' ')[i+1])) AS g
                FROM pairs)
          GROUP BY 1, 2
        ),
        m1 AS (
          SELECT g1c.pair_id,
                 CAST(SUM(LEAST(cn, COALESCE(rn, 0))) AS BIGINT) AS match1,
                 CAST(SUM(cn) AS BIGINT) AS total1
          FROM g1c LEFT JOIN g1r ON g1c.pair_id = g1r.pair_id AND g1c.g = g1r.g
          GROUP BY 1
        ),
        m2 AS (
          SELECT g2c.pair_id,
                 CAST(SUM(LEAST(cn, COALESCE(rn, 0))) AS BIGINT) AS match2,
                 CAST(SUM(cn) AS BIGINT) AS total2
          FROM g2c LEFT JOIN g2r ON g2c.pair_id = g2r.pair_id AND g2c.g = g2r.g
          GROUP BY 1
        ),
        lens AS (
          SELECT pair_id, CAST(len(string_split(cand, ' ')) AS BIGINT) AS lc,
                 CAST(len(string_split(ref, ' ')) AS BIGINT) AS lr
          FROM pairs
        )
        SELECT m1.pair_id,
               round(match1 / CAST(total1 AS DOUBLE), 6) AS p1,
               round(match2 / CAST(total2 AS DOUBLE), 6) AS p2,
               round((CASE WHEN lc > lr THEN 1.0
                           ELSE exp(1 - lr / CAST(lc AS DOUBLE)) END)
                 * exp((ln(match1 / CAST(total1 AS DOUBLE)) +
                        ln(match2 / CAST(total2 AS DOUBLE))) / 2), 6) AS bleu2
        FROM m1 JOIN m2 ON m1.pair_id = m2.pair_id
        JOIN lens ON m1.pair_id = lens.pair_id
      """)) { (s, dir) =>
      // Scoring direction: the FULL doc is the candidate, the trimmed
      // variant the reference, so clipping actually bites (the dropped
      // head's grams find no support) and the score discriminates by doc
      // length and repetition. All gram relations key on (pair_id, gram) —
      // one exchange each, pair-bounded joins, no cross-pair work; the
      // native ngrams expression builds bigrams without a lambda.
      import graft.functions.NativeExpressions.ngrams_native
      val pairs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("pair_id"), Text.tokens.as("candArr"),
          Text.tokens(regexp_replace(col("text"), "^(\\w+ ){3}", "")).as("refArr"))
        .cache()
      def grams(arr: Column, k: Int): Column =
        if (k == 1) arr else ngrams_native(arr, k)
      def counts(side: String, k: Int, cnt: String): DataFrame =
        pairs.select(col("pair_id"), explode(grams(col(side), k)).as("g"))
          .groupBy(col("pair_id"), col("g")).agg(count(lit(1)).as(cnt))
      def matched(k: Int, out: (String, String)): DataFrame =
        counts("candArr", k, "cn")
          .join(counts("refArr", k, "rn"), Seq("pair_id", "g"), "left")
          .groupBy(col("pair_id"))
          .agg(sum(least(col("cn"), coalesce(col("rn"), lit(0L)))).as(out._1),
            sum(col("cn")).as(out._2))
      val m1 = matched(1, ("match1", "total1"))
      val m2 = matched(2, ("match2", "total2"))
      val lens = pairs.select(col("pair_id"),
        size(col("candArr")).cast("long").as("lc"),
        size(col("refArr")).cast("long").as("lr"))
      val p1 = col("match1") / col("total1").cast("double")
      val p2 = col("match2") / col("total2").cast("double")
      m1.join(m2, Seq("pair_id")).join(lens, Seq("pair_id"))
        .select(col("pair_id"),
          round(p1, 6).as("p1"), round(p2, 6).as("p2"),
          round(when(col("lc") > col("lr"), lit(1.0))
            .otherwise(exp(lit(1) - col("lr") / col("lc").cast("double")))
            * exp((log(p1) + log(p2)) / 2), 6).as("bleu2"))
    },

    // ---- DD100: per-doc unigram entropy, per-source rollup ----------------
    // Low token entropy = templated / repetitive / machine-looped text —
    // the information-theoretic completion of the Gopher battery (dd16
    // counts repetition shapes; entropy prices them in one number).
    // H(d) = ln(n_d) - (sum_w tf ln tf) / n_d: both pieces fold from the
    // (doc, token) count relation, so the corpus shuffles ONCE on tokens
    // and once on doc_id — no per-doc sort, no window.
    QueryDef(
      "dd100_token_entropy",
      "Per-document unigram entropy rolled up per source: token counts in ONE map-side-combined groupBy, per-doc sum of tf*ln(tf) with each term rounded into DECIMAL (order-free), entropy derived in identical double arithmetic both engines, per-doc H rounded to DECIMAL(18,8) before the source-grain mean so the rollup is order-free too; emits mean/min/max entropy and the low-entropy (H<1.5) doc count per source",
      Some("""
        WITH tf AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        cnt AS (
          SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM tf GROUP BY 1, 2
        ),
        ent AS (
          SELECT doc_id,
                 CAST(round(ln(CAST(SUM(c) AS DOUBLE))
                   - CAST(CAST(SUM(CAST(round(c * ln(CAST(c AS DOUBLE)), 8)
                                        AS DECIMAL(24,8))) AS DECIMAL(38,8))
                          AS DOUBLE) / SUM(c), 8) AS DECIMAL(18,8)) AS h
          FROM cnt GROUP BY 1
        )
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
               round(CAST(SUM(e.h) AS DOUBLE) / count(*), 6) AS mean_entropy,
               round(CAST(MIN(e.h) AS DOUBLE), 6) AS min_entropy,
               round(CAST(MAX(e.h) AS DOUBLE), 6) AS max_entropy,
               CAST(SUM(CASE WHEN CAST(e.h AS DOUBLE) < 1.5 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_low_entropy
        FROM ent e JOIN documents d ON e.doc_id = d.doc_id
        GROUP BY 1
      """)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val cnt = Text.tokenRows(t(s, dir, "documents"), Seq(col("doc_id")))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      val ent = cnt.groupBy(col("doc_id"))
        .agg(round(log(sum(col("c")).cast("double"))
          - sum(round(col("c") * log(col("c").cast("double")), 8)
              .cast(DecimalType(24, 8))).cast(DecimalType(38, 8)).cast("double")
            / sum(col("c")), 8).cast(DecimalType(18, 8)).as("h"))
      ent.join(t(s, dir, "documents").select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("h")).cast("double") / count(lit(1)), 6).as("mean_entropy"),
          round(min(col("h")).cast("double"), 6).as("min_entropy"),
          round(max(col("h")).cast("double"), 6).as("max_entropy"),
          sum(when(col("h").cast("double") < 1.5, 1).otherwise(0))
            .cast("long").as("n_low_entropy"))
    })
}
