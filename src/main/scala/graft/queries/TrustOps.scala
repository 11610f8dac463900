package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.functions.NativeExpressions.dot_native
import graft.search.Text

/** Data-trust operators: the audit moves a training-data platform runs
  * AFTER curation decides what to keep — per-example valuation (exact
  * KNN-Shapley), privacy-release auditing (t-closeness, completing the
  * dd61 k-anonymity / dd69 l-diversity family), membership-inference
  * contamination scoring (Min-K% prob, the LM-based complement to dd15's
  * n-gram decontamination), distribution-free uncertainty calibration
  * (split conformal), and clustering quality (simplified silhouette,
  * the eval for dd23/dd65's cluster-driven selection).
  *
  * House float discipline: cross-row sums freeze to DECIMAL on
  * round(9–12) terms (order-free under any partitioning), orderings tie
  * on ids, dot products go through the sequential-fold native expression
  * that is bit-exact with DuckDB's list_dot_product, output doubles
  * round(6). Scores that can round to zero from below add +0.0 on both
  * sides: DuckDB's round keeps IEEE −0.0, Spark's BigDecimal round
  * doesn't, and the driver hashes the repr.
  */
object TrustOps {

  /** Exact KNN-Shapley data valuation (Jia et al., VLDB'19, Theorem 1):
    * for each test point, sort the train set by distance ascending and
    * apply the closed-form recurrence
    * s_N = 1[y_N = y]/N; s_i = s_{i+1} + (1[y_i=y] − 1[y_{i+1}=y])/K · min(K,i)/i,
    * then average per train point over the test panel. The O(N·T) exact
    * answer to "which rows helped" — no Monte-Carlo over coalitions.
    *
    * Engine shape: the recurrence is a reverse cumulative sum, computed
    * as total − forward-prefix + term (one O(n) window pass; see the
    * inline note on Spark's O(n²) UnboundedFollowing frames) —
    * terms freeze to DECIMAL(38,12) so the frame sum is order-free, and
    * the rank orders by the bit-identical d2 double (sequential-fold dot
    * products both sides) with vec_id ties.
    *
    * @param emb (vec_id, label, embedding); panel = vec_id % panelMod == 0
    *   within the fixed audit id range [0, panelCap). The cap is the scale
    *   contract: the panel is a FIXED audit set, so total work stays
    *   panel x corpus (linear) as the corpus grows — an uncapped residue
    *   class would grow the panel with the data and square the work.
    */
  def knnShapley(emb: DataFrame, k: Int, panelMod: Int,
                 panelCap: Long = 1000000L): DataFrame = {
    val vecs = emb.select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("aa", dot_native(col("v"), col("v")))
    val isPanel = col("vec_id") % panelMod === 0 && col("vec_id") < panelCap
    val q = vecs.filter(isPanel)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("aa").as("qq"))
    val tr = vecs.filter(!isPanel)
    // panel broadcast (bounded: |panel|×(dim+2)×8B); the train side never
    // shuffles until the per-test rank — T parallel sorts, each the
    // classic range-partitionable top-to-bottom order
    val scored = tr.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"), col("label"),
        (col("aa") - lit(2) * dot_native(col("v"), col("qv")) + col("qq")).as("d2"),
        when(col("label") === col("q_label"), 1).otherwise(0).as("ind"))
    val wo = Window.partitionBy("q_id").orderBy(col("d2"), col("vec_id"))
    val wp = Window.partitionBy("q_id")
    val ranked = scored
      .select(col("q_id"), col("vec_id"), col("label"), col("ind"),
        row_number().over(wo).as("i"),
        count(lit(1)).over(wp).as("n"),
        lead(col("ind"), 1).over(wo).as("ind_next"))
    val terms = ranked.select(col("q_id"), col("vec_id"), col("label"), col("i"),
      round(
        when(col("i") === col("n"), col("ind") / col("n"))
          .otherwise((col("ind") - col("ind_next")) / lit(k.toDouble) *
            least(lit(k), col("i")) / col("i")), 12)
        // (26,12), not (38,12): terms are <= 1, and the downstream
        // total-minus-prefix subtraction must keep scale 12 — Spark
        // truncates the SCALE of +/- once natural precision passes 38
        // (DecimalScaleSpec pins this inventory-wide)
        .cast("decimal(26,12)").as("term"))
    // s_i = sum_{j>=i} t_j, computed as total - prefix_i + t_i: Spark
    // evaluates an UnboundedFollowing frame O(n^2) per partition (the
    // tail is re-summed for every row), while the forward running frame
    // and the whole-partition total are both O(n); DECIMAL terms make the
    // algebraic rewrite exact. Measured: the reverse frame took dd107's
    // 10x canary from seconds to minutes.
    val wcum = Window.partitionBy("q_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy("q_id")
    val sv = terms.select(col("q_id"), col("vec_id"), col("label"),
      (sum(col("term")).over(wall) - sum(col("term")).over(wcum) + col("term"))
        .as("s"))
    val tq = q.agg(count(lit(1)).as("tq"))
    sv.groupBy("vec_id", "label")
      .agg(sum(col("s")).as("sdec"))
      .crossJoin(broadcast(tq))
      .select(col("vec_id"), col("label"),
        (round(col("sdec").cast("double") / col("tq"), 6) + lit(0.0)).as("shapley"))
  }

  /** t-closeness audit (Li/Li/Venkatasubramanian ICDE'07): per
    * quasi-identifier group, the ordered-attribute Earth Mover's Distance
    * between the group's sensitive-value distribution and the global one,
    * EMD = (1/(m−1)) Σ_i |CumP_i − CumQ_i|. Completes the privacy family:
    * k-anonymity bounds group SIZE, l-diversity bounds sensitive
    * DIVERSITY, t-closeness bounds sensitive SKEW.
    *
    * Scale shape: everything after the one groupBy is arithmetic on
    * groups×bands rows (both bounded dimensions); the band spine is a
    * broadcast cross join so zero-count bands still contribute to the
    * cumulative gap.
    */
  def tCloseness(docs: DataFrame, bandWidth: Int, threshold: Double): DataFrame = {
    val d = docs.select(col("lang"), col("source"),
      expr(s"n_chars div $bandWidth").as("band"))
    val bands = d.select("band").distinct()
    val m = bands.agg(count(lit(1)).as("m"))
    val glob = d.groupBy("band").agg(count(lit(1)).as("gc"))
    val gn = d.agg(count(lit(1)).as("ntot"))
    val grp = d.groupBy("lang", "source").agg(count(lit(1)).as("grn"))
    val gb = d.groupBy("lang", "source", "band").agg(count(lit(1)).as("c"))
    val fr = grp.crossJoin(broadcast(bands))
      .join(gb, Seq("lang", "source", "band"), "left")
      .join(glob, Seq("band"))
      .crossJoin(broadcast(gn))
      .select(col("lang"), col("source"), col("band"),
        // (20,12): masses are <= 1 and cumsums <= band count, so the
        // narrow type keeps the cp - cq subtraction at full scale 12
        // (see dd107's note / DecimalScaleSpec)
        round(coalesce(col("c"), lit(0L)) / col("grn").cast("double"), 12)
          .cast("decimal(20,12)").as("p"),
        round(col("gc") / col("ntot").cast("double"), 12)
          .cast("decimal(20,12)").as("q"))
    val w = Window.partitionBy("lang", "source").orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fr.select(col("lang"), col("source"),
        sum(col("p")).over(w).as("cp"), sum(col("q")).over(w).as("cq"))
      .groupBy("lang", "source")
      .agg(sum(abs(col("cp") - col("cq"))).as("gap"))
      .crossJoin(broadcast(m))
      .select(col("lang"), col("source"),
        round(col("gap").cast("double") / (col("m") - 1), 6).as("t_emd"),
        when(col("gap").cast("double") / (col("m") - 1) > threshold, 1)
          .otherwise(0).as("violates"))
  }

  /** Min-K% prob membership score (Shi et al., ICLR'24 "Detecting
    * Pretraining Data from Large Language Models"), deterministic twin:
    * score each doc by the mean surprisal (bits) of its 20% most
    * improbable tokens under the corpus's own add-one-smoothed unigram
    * LM. Low Min-K% bits = every token is expected = the memorization /
    * benchmark-leak signature that dd15's exact n-gram match misses when
    * the leak is paraphrased-but-in-distribution.
    *
    * Scale shape: the LM table is vocabulary-bounded (stops growing long
    * before 100 TB), so the scoring join shuffles on a bounded key set;
    * the per-doc top-20% selection is a bounded per-doc window.
    */
  def minkBits(docs: DataFrame): DataFrame = {
    val tok = Text.tokenRows(docs, Seq(col("doc_id")))
    val cw = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = tok.agg(count(lit(1)).as("nt"), countDistinct(col("w")).as("v"))
    val lm = cw.crossJoin(broadcast(tot))
      .select(col("w"),
        round(-log2((col("c") + lit(1.0)) / (col("nt") + col("v"))), 9)
          .cast("decimal(28,9)").as("cost"))
    val wo = Window.partitionBy("doc_id").orderBy(col("cost").desc, col("w"))
    val wp = Window.partitionBy("doc_id")
    tok.join(lm, Seq("w"))
      .select(col("doc_id"), col("cost"),
        row_number().over(wo).as("rk"), count(lit(1)).over(wp).as("n"))
      .filter(col("rk") <= expr("(n + 4) div 5"))
      .groupBy("doc_id", "n")
      .agg(sum(col("cost")).as("tot"))
      .select(col("doc_id"),
        expr("(n + 4) div 5").cast("long").as("n_take"),
        round(col("tot").cast("double") / expr("(n + 4) div 5"), 6).as("mink_bits"))
  }

  /** Split-conformal calibration (Vovk et al.; Angelopoulos/Bates '21
    * tutorial form): fit a per-lang chars-per-token ratio on the
    * even-doc_id half, take the ceil(0.9·(n+1))-th smallest absolute
    * residual as the conformal quantile q̂, and report empirical coverage
    * of |y − ŷ| ≤ q̂ on the held-out half — the distribution-free
    * guarantee check a quality-score or length-predictor deployment runs
    * before trusting its own intervals.
    *
    * Scale shape: one scan computes residuals; q̂ is an exact order
    * statistic via a per-lang rank (bounded partitions: langs), coverage
    * is a second narrow pass.
    */
  def conformalCoverage(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"), col("n_chars"), size(Text.tokens).as("n_tok"),
      (col("doc_id") % 2).as("half"))
    val fit = d.filter(col("half") === 0).groupBy("lang")
      .agg(sum(col("n_chars")).as("sc"), sum(col("n_tok")).as("st"),
        count(lit(1)).as("n_cal"))
    val score =
      abs(col("n_chars") - col("sc") / col("st").cast("double") * col("n_tok"))
    val cal = d.filter(col("half") === 0).join(fit, Seq("lang"))
      .select(col("lang"), col("doc_id"), col("n_cal"), score.as("score"))
    val rn = Window.partitionBy("lang").orderBy(col("score"), col("doc_id"))
    val qh = cal.withColumn("rn", row_number().over(rn))
      .filter(col("rn") ===
        least(ceil(lit(0.9) * (col("n_cal") + 1)).cast("long"), col("n_cal")))
      .select(col("lang"), col("score").as("qhat"))
    d.filter(col("half") === 1).join(fit, Seq("lang")).join(qh, Seq("lang"))
      .select(col("lang"), col("n_cal"), col("qhat"),
        when(score <= col("qhat"), 1).otherwise(0).as("cov"))
      .groupBy("lang", "n_cal", "qhat")
      .agg(count(lit(1)).as("n_eval"), sum(col("cov")).as("covered"))
      .select(col("lang"), col("n_cal"), col("n_eval"),
        round(col("qhat"), 6).as("qhat"),
        round(col("covered") / col("n_eval").cast("double"), 6).as("coverage"))
  }

  /** Simplified silhouette (centroid form, Hruschka et al.): per point,
    * a = distance to own-label centroid, b = min distance to any other
    * centroid, s = (b−a)/max(a,b); report the per-label mean — the
    * standard eval for dd23/dd65's cluster-driven curation. Centroid form
    * is the one that scales: the classic silhouette is all-pairs, this is
    * one narrow join against a labels×dims relation that never grows with
    * the corpus.
    */
  /** @param fanDims hook over the exploded per-dim rows (slim scalars,
    *   AFTER the array explode — r11 measured fanning the array rows
    *   pre-explode and the exchange moving embeddings lost 0.36 s). The
    *   dd111 call site passes the size-gated Fanout: the whole
    *   scan→explode→join→partial-agg chain otherwise runs on the ONE
    *   task the one-row-group embeddings scan yields (profiled 1.21 s of
    *   a 1.77 s query on a single task, r12). */
  def silhouette(emb: DataFrame,
      fanDims: DataFrame => DataFrame = identity): DataFrame = {
    val dims = fanDims(emb.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("xf").cast("double").as("x")))
    val cent = dims.groupBy(col("label").as("clabel"), col("dim"))
      .agg((sum(round(col("x"), 9).cast("decimal(38,12)")).cast("double") /
        count(lit(1))).as("cc"))
    val d2 = dims.join(cent, Seq("dim"))
      .select(col("vec_id"), col("label"), col("clabel"),
        round((col("x") - col("cc")) * (col("x") - col("cc")), 9)
          .cast("decimal(38,12)").as("term"))
      .groupBy("vec_id", "label", "clabel")
      .agg(sum(col("term")).cast("double").as("dd"))
    val ab = d2.groupBy("vec_id", "label")
      .agg(max(when(col("clabel") === col("label"), col("dd"))).as("a2"),
        min(when(col("clabel") =!= col("label"), col("dd"))).as("b2"))
    val sil = ab.select(col("label"),
      when(greatest(sqrt(col("a2")), sqrt(col("b2"))) === 0, lit(0.0))
        .otherwise((sqrt(col("b2")) - sqrt(col("a2"))) /
          greatest(sqrt(col("a2")), sqrt(col("b2")))).as("sil"))
    sil.groupBy("label")
      .agg(count(lit(1)).as("n"),
        (round(sum(round(col("sil"), 9).cast("decimal(38,12)")).cast("double") /
          count(lit(1)), 6) + lit(0.0)).as("sil"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- DD107: exact KNN-Shapley data valuation ---------------------------
    QueryDef(
      "dd107_knn_shapley",
      "Exact KNN-Shapley data valuation (Jia et al. VLDB'19 Thm 1): per test point sort train by distance and apply the closed-form recurrence s_i = s_{i+1} + (1[y_i=y]-1[y_{i+1}=y])/K * min(K,i)/i — the reverse cumulative sum of DECIMAL-frozen terms, so the per-example Shapley value (K=5, panel = vec_id%19=0 within the FIXED audit id range) is exact, not Monte-Carlo. The 'which rows earned their place' op behind data-market pricing and mislabel triage; O(N*T) with the panel broadcast, train never shuffling until T parallel rank sorts",
      Some("""
        WITH vecs AS (
          SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        vv AS (SELECT vec_id, label, v, list_dot_product(v, v) AS aa FROM vecs),
        q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, aa AS qq
              FROM vv WHERE vec_id % 19 = 0 AND vec_id < 1000000),
        tr AS (SELECT vec_id, label, v, aa FROM vv
               WHERE NOT (vec_id % 19 = 0 AND vec_id < 1000000)),
        scored AS (
          SELECT q.q_id, t.vec_id, t.label,
                 t.aa - 2 * list_dot_product(t.v, q.qv) + q.qq AS d2,
                 CASE WHEN t.label = q.q_label THEN 1 ELSE 0 END AS ind
          FROM tr t CROSS JOIN q
        ),
        ranked AS (
          SELECT q_id, vec_id, label, ind,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS i,
                 COUNT(*) OVER (PARTITION BY q_id) AS n,
                 LEAD(ind) OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS ind_next
          FROM scored
        ),
        terms AS (
          SELECT q_id, vec_id, label, i,
                 CAST(round(CASE WHEN i = n THEN ind / CAST(n AS DOUBLE)
                        ELSE (ind - ind_next) / 5.0 * LEAST(5, i) / i END, 12)
                   AS DECIMAL(26,12)) AS term
          FROM ranked
        ),
        sv AS (
          SELECT q_id, vec_id, label,
                 SUM(term) OVER (PARTITION BY q_id)
                   - SUM(term) OVER (PARTITION BY q_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   + term AS s
          FROM terms
        )
        SELECT vec_id, label,
               round(CAST(SUM(s) AS DOUBLE) / tq.tq, 6) + 0.0 AS shapley
        FROM sv CROSS JOIN (SELECT count(*) AS tq FROM q) tq
        GROUP BY vec_id, label, tq.tq
      """)) { (s, dir) =>
      knnShapley(t(s, dir, "embeddings"), k = 5, panelMod = 19)
    },

    // ---- DD108: t-closeness privacy audit ----------------------------------
    QueryDef(
      "dd108_tcloseness",
      "t-closeness privacy audit (Li/Li/Venkatasubramanian ICDE'07): per (lang,source) quasi-identifier group, ordered EMD between the group's n_chars-band distribution and the global one — (1/(m-1)) * sum |CumP - CumQ| over the generated band spine (zero-count bands still widen the gap), flagged at t > 0.2. Completes the release-audit family: dd61 bounds group size, dd69 bounds sensitive diversity, this bounds sensitive SKEW — the attack both miss. All arithmetic after one groupBy runs on groups x bands rows",
      Some("""
        WITH d AS (SELECT lang, source, n_chars // 100 AS band FROM documents),
        bands AS (SELECT DISTINCT band FROM d),
        m AS (SELECT count(*) AS m FROM bands),
        gdist AS (SELECT band, count(*) AS gc FROM d GROUP BY 1),
        gn AS (SELECT count(*) AS ntot FROM d),
        grp AS (SELECT lang, source, count(*) AS grn FROM d GROUP BY 1, 2),
        gb AS (SELECT lang, source, band, count(*) AS c FROM d GROUP BY 1, 2, 3),
        fr AS (
          SELECT g.lang, g.source, b.band,
                 CAST(round(COALESCE(x.c, 0) / CAST(g.grn AS DOUBLE), 12)
                   AS DECIMAL(20,12)) AS p,
                 CAST(round(gl.gc / CAST(gn.ntot AS DOUBLE), 12)
                   AS DECIMAL(20,12)) AS q
          FROM grp g CROSS JOIN bands b
          LEFT JOIN gb x ON g.lang = x.lang AND g.source = x.source AND b.band = x.band
          JOIN gdist gl ON b.band = gl.band
          CROSS JOIN gn
        ),
        cum AS (
          SELECT lang, source,
                 SUM(p) OVER w AS cp, SUM(q) OVER w AS cq
          FROM fr WINDOW w AS (PARTITION BY lang, source ORDER BY band
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        gaps AS (
          SELECT lang, source, SUM(abs(cp - cq)) AS gap
          FROM cum GROUP BY 1, 2
        )
        SELECT g.lang, g.source,
               round(CAST(g.gap AS DOUBLE) / (m.m - 1), 6) AS t_emd,
               CAST(CASE WHEN CAST(g.gap AS DOUBLE) / (m.m - 1) > 0.2
                    THEN 1 ELSE 0 END AS INTEGER) AS violates
        FROM gaps g CROSS JOIN m
      """)) { (s, dir) =>
      tCloseness(t(s, dir, "documents"), bandWidth = 100, threshold = 0.2)
    },

    // ---- DD109: Min-K% prob contamination score ----------------------------
    QueryDef(
      "dd109_mink_prob",
      "Min-K% prob membership-inference score (Shi et al. ICLR'24), deterministic twin: per doc, mean surprisal in bits of its 20% most improbable tokens under the corpus's own add-one unigram LM (LM table vocabulary-bounded, scoring join on a key set that stops growing long before 100TB). Low Min-K% bits = nothing in the doc surprises the corpus = the memorization / paraphrased-benchmark-leak signature that dd15's exact n-gram decontamination misses",
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        cw AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        tot AS (SELECT count(*) AS nt, count(DISTINCT w) AS v FROM tok),
        lm AS (
          SELECT w, CAST(round(-log2((c + 1.0) / (nt + v)), 9) AS DECIMAL(28,9)) AS cost
          FROM cw CROSS JOIN tot
        ),
        sc AS (
          SELECT t.doc_id, l.cost,
                 ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                    ORDER BY l.cost DESC, t.w) AS rk,
                 COUNT(*) OVER (PARTITION BY t.doc_id) AS n
          FROM tok t JOIN lm l ON t.w = l.w
        )
        SELECT doc_id, CAST((n + 4) // 5 AS BIGINT) AS n_take,
               round(CAST(SUM(cost) AS DOUBLE) / ((n + 4) // 5), 6) AS mink_bits
        FROM sc WHERE rk <= (n + 4) // 5
        GROUP BY doc_id, n
      """)) { (s, dir) =>
      minkBits(t(s, dir, "documents"))
    },

    // ---- DD110: split-conformal calibration --------------------------------
    QueryDef(
      "dd110_conformal",
      "Split-conformal prediction calibration (Vovk; Angelopoulos/Bates form): per lang, fit a chars-per-token ratio on the even-doc_id half, q-hat = exact ceil(0.9*(n+1))-th smallest absolute residual (order statistic by rank, ids break ties), then empirical coverage of |y - y_hat| <= q-hat on the held-out half — the distribution-free ~90% guarantee a quality-scorer deployment verifies before trusting its intervals. Two narrow scans + a bounded per-lang rank",
      Some("""
        WITH d AS (
          SELECT doc_id, lang, n_chars,
                 len(string_split(text, ' ')) AS n_tok,
                 doc_id % 2 AS half
          FROM documents
        ),
        fit AS (
          SELECT lang, SUM(n_chars) AS sc, SUM(n_tok) AS st, count(*) AS n_cal
          FROM d WHERE half = 0 GROUP BY 1
        ),
        cal AS (
          SELECT d.lang, d.doc_id, f.n_cal,
                 abs(d.n_chars - f.sc / CAST(f.st AS DOUBLE) * d.n_tok) AS score
          FROM d JOIN fit f ON d.lang = f.lang WHERE d.half = 0
        ),
        qh AS (
          SELECT lang, score AS qhat, n_cal FROM (
            SELECT lang, score, n_cal,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rn
            FROM cal
          ) WHERE rn = LEAST(CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT), n_cal)
        )
        SELECT d.lang, q.n_cal, CAST(count(*) AS BIGINT) AS n_eval,
               round(q.qhat, 6) AS qhat,
               round(SUM(CASE WHEN abs(d.n_chars - f.sc / CAST(f.st AS DOUBLE) * d.n_tok)
                                   <= q.qhat THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS coverage
        FROM d
        JOIN fit f ON d.lang = f.lang
        JOIN qh q ON d.lang = q.lang
        WHERE d.half = 1
        GROUP BY d.lang, q.n_cal, q.qhat
      """)) { (s, dir) =>
      conformalCoverage(t(s, dir, "documents"))
    },

    // ---- DD111: simplified silhouette --------------------------------------
    QueryDef(
      "dd111_silhouette",
      "Simplified (centroid-form) silhouette over the labeled embedding set: a = distance to own centroid, b = min distance to any other centroid, s = (b-a)/max(a,b), reported as the per-label mean — the clustering-quality eval behind dd23/dd65's cluster-driven selection. Centroid form is the scalable variant: classic silhouette is all-pairs O(N^2); this is one narrow join against a labels x dims relation that never grows with the corpus",
      Some("""
        WITH dims AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings
        ),
        cent AS (
          SELECT label AS clabel, dim,
                 CAST(sum(CAST(round(x, 9) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS cc
          FROM dims GROUP BY 1, 2
        ),
        d2 AS (
          SELECT d.vec_id, d.label, c.clabel,
                 CAST(sum(CAST(round((d.x - c.cc) * (d.x - c.cc), 9)
                   AS DECIMAL(38,12))) AS DOUBLE) AS dd
          FROM dims d JOIN cent c ON d.dim = c.dim
          GROUP BY 1, 2, 3
        ),
        ab AS (
          SELECT vec_id, label,
                 MAX(CASE WHEN clabel = label THEN dd END) AS a2,
                 MIN(CASE WHEN clabel <> label THEN dd END) AS b2
          FROM d2 GROUP BY 1, 2
        ),
        s AS (
          SELECT label,
                 CASE WHEN GREATEST(sqrt(a2), sqrt(b2)) = 0 THEN 0.0
                      ELSE (sqrt(b2) - sqrt(a2)) / GREATEST(sqrt(a2), sqrt(b2))
                 END AS sil
          FROM ab
        )
        SELECT label, CAST(count(*) AS BIGINT) AS n,
               round(CAST(SUM(CAST(round(sil, 9) AS DECIMAL(38,12))) AS DOUBLE)
                     / count(*), 6) + 0.0 AS sil
        FROM s GROUP BY label
      """)) { (s, dir) =>
      silhouette(t(s, dir, "embeddings"),
        d => graft.core.Fanout.bySize(s, d, dir, "embeddings"))
    }
  )
}
