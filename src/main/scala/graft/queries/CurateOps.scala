package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.{Bm25, IndexMaintain, Text}

/** Release-gate curation operators: the audits and joins that sit between
  * "the corpus is deduped" and "the corpus ships" — an EXACT set-similarity
  * join whose candidate generation is provably lossless (the scale path when
  * minhash's false negatives are not acceptable), privacy and class-balance
  * audits, a Gopher-style quality-rule battery, the padding-waste report
  * that prices a batching strategy, and smoothed LM retrieval.
  *
  * House float discipline: thresholds compare in INTEGER cross-multiplied
  * form (never `double >= 0.4` at the boundary), per-term log contributions
  * round(9) into DECIMAL so sums are order-free, output doubles round(6).
  */
object CurateOps {

  val defs: Seq[QueryDef] = Seq(

    // ---- DD60: exact set-similarity self-join via prefix filtering --------
    QueryDef(
      "dd60_setsim_join",
      "EXACT Jaccard>=0.75 3-SHINGLE-set self-join via All-Pairs prefix filtering (Bayardo et al. WWW'07): shingles canonically ordered by ascending global df, each doc indexes only its (n - ceil(t*n) + 1)-shingle prefix, candidates = index-prefix x probe-full equi-join with the t*|A|<=|B|<=|A|/t length filter, then exact array-intersect verify in integer cross-multiplied form (4*inter >= 3*union). Lossless by pigeonhole: >=ceil(t*|A|) common shingles cannot all hide in the (ceil(t*|A|)-1)-shingle suffix. Shingles, NOT unigrams, are the set representation — the corpus vocabulary is ~31 words, so unigram posting lists are corpus-sized and the prefix filter prunes nothing (measured 29 s at sf0.1); the 3-gram space is position-sensitive and sparse, so prefixes actually select and candidates are bounded by real near-dups",
      Some("""
        WITH tok AS (
          SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
                WHERE len(string_split(text, ' ')) >= 3)
        ),
        sh0 AS (
          SELECT doc_id,
                 w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS sh
          FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ),
        shd AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh IS NOT NULL),
        n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd GROUP BY 1),
        com AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS c
          FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(c / CAST(na.n + nb.n - c AS DOUBLE), 6) AS jaccard
        FROM com
        JOIN n na ON doc_a = na.doc_id
        JOIN n nb ON doc_b = nb.doc_id
        WHERE 4 * c >= 3 * (na.n + nb.n - c)
      """)) { (s, dir) =>
      // The oracle is the NAIVE shared-shingle join (correct at any SF but
      // its candidate set is every co-occurring pair); the engine's
      // candidate set is bounded by the RARE-shingle postings — each doc
      // contributes only the ~(1-t) least frequent shingles of its set to
      // the index. Equality with the naive oracle is the losslessness
      // proof, run fresh per scale factor; the kernel (resolve/SetSimJoin)
      // is additionally ScalaCheck'd against its naive form on random
      // corpora across thresholds.
      graft.resolve.SetSimJoin.exact(
        Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id").as("id")), 3)
          .select(col("id"), Text.shingleSet(col("arr")).as("toks")),
        tNum = 3, tDen = 4)
    },

    // ---- DD61: k-anonymity audit ------------------------------------------
    QueryDef(
      "dd61_kanonymity",
      "Privacy release gate: k-anonymity over the quasi-identifier (event_type, day, floor(value/50)) — equivalence classes bucketed into unique/small/medium/large (k<2/5/20), reporting class and row counts plus the at-risk row share. Two cheap aggregations (QI groupBy, then a 4-row band rollup); the integer value bucket keeps the QI deterministic across engines",
      Some("""
        WITH eq AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(floor(value / 50) AS BIGINT) AS vb,
                 CAST(count(*) AS BIGINT) AS k
          FROM events GROUP BY 1, 2, 3
        ),
        banded AS (
          SELECT CASE WHEN k < 2 THEN 'unique' WHEN k < 5 THEN 'small'
                      WHEN k < 20 THEN 'medium' ELSE 'large' END AS band,
                 k
          FROM eq
        )
        SELECT band, CAST(count(*) AS BIGINT) AS classes,
               CAST(sum(k) AS BIGINT) AS rows_in_band,
               round(sum(k) / CAST((SELECT sum(k) FROM eq) AS DOUBLE), 6) AS row_share
        FROM banded GROUP BY band
      """)) { (s, dir) =>
      // The audit a corpus needs before release: rows whose quasi-identifier
      // combination is near-unique re-identify people even with direct ids
      // stripped. Both aggregations key on the QI / band — the total is a
      // 1-row broadcast; nothing here is more than one data shuffle.
      // eq (one row per equivalence class) feeds both the total and the
      // band rollup — cache it so events is scanned once
      val eq = t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"),
          floor(col("value") / 50).cast("long").as("vb"))
        .agg(count(lit(1)).as("k")).cache()
      val total = eq.agg(sum(col("k")).as("tot"))
      eq.select(
        when(col("k") < 2, "unique").when(col("k") < 5, "small")
          .when(col("k") < 20, "medium").otherwise("large").as("band"),
        col("k"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("classes"), sum(col("k")).as("rows_in_band"))
        .crossJoin(broadcast(total))
        .select(col("band"), col("classes"), col("rows_in_band"),
          round(col("rows_in_band") / col("tot").cast("double"), 6).as("row_share"))
    },

    // ---- DD62: label-balance audit ----------------------------------------
    QueryDef(
      "dd62_label_balance",
      "Class-balance audit on the labeled embedding set: per label its count, share, entropy contribution -p*ln(p), and ratio to the majority class — the report that catches a skewed fine-tuning set before training does. One label groupBy; the 1-row total/max aggregate broadcasts",
      Some("""
        WITH c AS (SELECT label, CAST(count(*) AS BIGINT) AS cnt
                   FROM embeddings GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
                       CAST(max(cnt) AS BIGINT) AS mx FROM c)
        SELECT label, cnt,
               round(cnt / CAST(tot AS DOUBLE), 6) AS share,
               round(-(cnt / CAST(tot AS DOUBLE)) * ln(cnt / CAST(tot AS DOUBLE)), 6)
                 AS entropy_term,
               round(cnt / CAST(mx AS DOUBLE), 6) AS ratio_to_majority
        FROM c CROSS JOIN tot
      """)) { (s, dir) =>
      val c = t(s, dir, "embeddings")
        .groupBy(col("label")).agg(count(lit(1)).as("cnt")).cache()
      val tot = c.agg(sum(col("cnt")).as("tot"), max(col("cnt")).as("mx"))
      val share = col("cnt") / col("tot").cast("double")
      c.crossJoin(broadcast(tot))
        .select(col("label"), col("cnt"),
          round(share, 6).as("share"),
          round(-share * log(share), 6).as("entropy_term"),
          round(col("cnt") / col("mx").cast("double"), 6).as("ratio_to_majority"))
    },

    // ---- DD63: Gopher-style quality-rule battery ---------------------------
    QueryDef(
      "dd63_gopher_rules",
      "Gopher-style (Rae et al. 2021) quality-rule battery: word-count in [20,80], mean word length in [4,5] (integer form: nc BETWEEN 4*nw AND 5*nw), alpha-word ratio >= 0.7, numeric-word ratio <= 0.3 — per-rule violation counts and rates plus the docs-failing-any row, computed as ONE narrow pass of per-doc flags folded into a 1-row aggregate and unpivoted via stack() (5 constant-space rows)",
      Some("""
        WITH f AS (
          SELECT
            CASE WHEN nw BETWEEN 20 AND 80 THEN 0 ELSE 1 END AS v_wc,
            CASE WHEN nc >= 4 * nw AND nc <= 5 * nw THEN 0 ELSE 1 END AS v_mwl,
            CASE WHEN 10 * aw >= 7 * nw THEN 0 ELSE 1 END AS v_alpha,
            CASE WHEN 10 * dw <= 3 * nw THEN 0 ELSE 1 END AS v_num
          FROM (
            SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                   CAST(len(replace(text, ' ', '')) AS BIGINT) AS nc,
                   CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS aw,
                   CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '^[0-9]+$'))) AS BIGINT) AS dw
            FROM documents
          )
        ),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS docs,
                 CAST(sum(v_wc) AS BIGINT) AS wc, CAST(sum(v_mwl) AS BIGINT) AS mwl,
                 CAST(sum(v_alpha) AS BIGINT) AS alpha, CAST(sum(v_num) AS BIGINT) AS num,
                 CAST(sum(CASE WHEN v_wc + v_mwl + v_alpha + v_num > 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS anyv
          FROM f
        )
        SELECT rule, violations, round(violations / CAST(docs AS DOUBLE), 6) AS rate
        FROM (
          SELECT 'word_count' AS rule, wc AS violations, docs FROM agg
          UNION ALL SELECT 'mean_word_len', mwl, docs FROM agg
          UNION ALL SELECT 'alpha_ratio', alpha, docs FROM agg
          UNION ALL SELECT 'numeric_ratio', num, docs FROM agg
          UNION ALL SELECT 'any_rule', anyv, docs FROM agg
        )
      """)) { (s, dir) =>
      // the signals and rules are search/Text's, in integer
      // cross-multiplied form so boundary docs agree across engines
      val base = t(s, dir, "documents").select(Text.gopherSignals: _*)
      val flags = base.select(
        Text.gopherRules.zip(Seq("v_wc", "v_mwl", "v_alpha", "v_num")).map {
          case (rule, v) => when(rule, 0L).otherwise(1L).as(v)
        }: _*)
      val agg = flags.agg(
        count(lit(1)).as("docs"),
        sum(col("v_wc")).as("wc"), sum(col("v_mwl")).as("mwl"),
        sum(col("v_alpha")).as("alpha"), sum(col("v_num")).as("num"),
        sum(when(col("v_wc") + col("v_mwl") + col("v_alpha") + col("v_num") > 0,
          1L).otherwise(0L)).as("anyv"))
      // stack() over the 1-row aggregate: the unpivot costs nothing and
      // keeps the whole battery one corpus scan + one 1-row finalizer
      agg.selectExpr(
        """stack(5,
             'word_count', wc,
             'mean_word_len', mwl,
             'alpha_ratio', alpha,
             'numeric_ratio', num,
             'any_rule', anyv) AS (rule, violations)""",
        "docs")
        .select(col("rule"), col("violations"),
          round(col("violations") / col("docs").cast("double"), 6).as("rate"))
    },

    // ---- DD64: power-of-two length buckets + padding waste -----------------
    QueryDef(
      "dd64_length_buckets",
      "Batch-packing price list: docs bucketed to the next power-of-two token length (the fixed-boundary bucketing a 100 TB run uses instead of global quantiles — no global sort, pure map-side key), per bucket the doc count, token min/max/sum, and the padding-waste rate 1 - sum/(docs*bucket). Bucket edge computed in INTEGER bit-land (1 << len(bin(n-1))), never via float log2",
      Some("""
        WITH d AS (
          SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents
        ),
        b AS (
          SELECT n, CASE WHEN n <= 1 THEN CAST(1 AS BIGINT)
                         ELSE CAST(power(2, len(bin(n - 1))) AS BIGINT) END AS bucket
          FROM d
        )
        SELECT bucket, CAST(count(*) AS BIGINT) AS docs,
               CAST(min(n) AS BIGINT) AS min_tokens,
               CAST(max(n) AS BIGINT) AS max_tokens,
               CAST(sum(n) AS BIGINT) AS sum_tokens,
               round(1 - sum(n) / CAST(count(*) * bucket AS DOUBLE), 6) AS waste_rate
        FROM b GROUP BY bucket
      """)) { (s, dir) =>
      // bin(n-1) has floor(log2(n-1))+1 = ceil(log2(n)) digits for n>=2, so
      // 1 << digits is exactly the smallest 2^k >= n. Integer all the way —
      // float log2 at an exact power of two can land on 2.9999 and
      // misbucket.
      val d = t(s, dir, "documents")
        .select(size(Text.tokens).cast("long").as("n"))
      val b = d.select(col("n"),
        when(col("n") <= 1, lit(1L))
          .otherwise(expr("shiftleft(1, length(bin(n - 1)))"))
          .cast("long").as("bucket"))
      b.groupBy(col("bucket"))
        .agg(count(lit(1)).as("docs"),
          min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"),
          sum(col("n")).as("sum_tokens"))
        .select(col("bucket"), col("docs"), col("min_tokens"), col("max_tokens"),
          col("sum_tokens"),
          round(lit(1) - col("sum_tokens") /
            (col("docs") * col("bucket")).cast("double"), 6).as("waste_rate"))
    },

    // ---- IR8: Dirichlet-smoothed query-likelihood retrieval ----------------
    QueryDef(
      "ir8_query_likelihood",
      "Query-likelihood LM retrieval with Dirichlet smoothing (mu=100): score(d) = sum_q ln((tf + mu*cf_q/T)/(dl + mu)) over the corpus's 3 highest-df terms — the smoothing makes ABSENT terms contribute, so scoring is (all docs) x (broadcast 3-term relation) with a LEFT join onto tf; per-term logs round(9) into DECIMAL for an order-free sum; top-10 rides TakeOrdered. Complements ir2: BM25's idf weighting vs the LM's collection-probability prior",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t FROM dl),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
               FROM tf GROUP BY w),
        qterms AS (SELECT w, cf FROM df ORDER BY df DESC, w LIMIT 3),
        contrib AS (
          SELECT dl.doc_id,
            CAST(round( ln( (COALESCE(tf.tf, 0) + 100 * (q.cf / CAST(tot.t AS DOUBLE)))
                            / (dl.dl + 100) ), 9) AS DECIMAL(28,9)) AS c
          FROM dl CROSS JOIN qterms q CROSS JOIN tot
          LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.w = q.w
        )
        SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
        FROM contrib GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 10
      """)) { (s, dir) =>
      // Same one-pass index discipline as ir2: tf is the only token-derived
      // relation; dl/df/total all fold from it. The docs x qterms expansion
      // is |docs| x 3 — the qterm side broadcasts at any corpus size, and
      // the LEFT join keeps zero-tf docs scoreable (the whole point of
      // smoothing; an inner join would silently drop them).
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf)
      val tot = dl.agg(sum(col("dl")).as("t"))
      val dfr = tf.groupBy(col("w"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      val qterms = Bm25.topTerms(dfr, 3).select(col("w"), col("cf"))
      val contrib = dl.crossJoin(broadcast(qterms)).crossJoin(broadcast(tot))
        .join(tf, Seq("doc_id", "w"), "left")
        .select(col("doc_id"), Text.dirichlet(100, col("t")).as("c"))
      Bm25.docScores(contrib, "score")
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    },

    // ---- DD82: Gopher repetition signals (the other half of dd63) ----------
    // Rae et al. 2021 §A1.1 filters documents by REPETITION as well as
    // shape: duplicate-word fraction, most-frequent-2-gram share, and
    // duplicate-5-gram fraction. dd63 covers the shape rules; this covers
    // the repetition battery. Every signal computes in array-land inside
    // one narrow projection — per-doc work is bounded by doc length, the
    // corpus never shuffles (the ideal 100 TB quality-filter shape: a
    // full-corpus pass with zero exchanges before the write).
    QueryDef(
      "dd82_repetition_signals",
      "Per-doc repetition battery (Gopher §A1.1): duplicate words, top-bigram share, duplicate 5-grams, integer cross-multiplied repetitive flag — one narrow pass, zero data shuffles",
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
        base AS (
          SELECT doc_id, CAST(len(arr) AS BIGINT) AS nt,
                 CAST(len(list_distinct(arr)) AS BIGINT) AS ndw
          FROM tok
        ),
        bg AS (
          SELECT doc_id, g, count(*) AS c
          FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)-1),
                i -> arr[i] || ' ' || arr[i+1])) AS g
                FROM tok WHERE len(arr) >= 2)
          GROUP BY doc_id, g
        ),
        bga AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                       CAST(max(c) AS BIGINT) AS top_bigram
                FROM bg GROUP BY doc_id),
        g5 AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n5,
                 CAST(count(DISTINCT g) AS BIGINT) AS nd5
          FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)-4),
                i -> array_to_string(arr[i:i+4], ' '))) AS g
                FROM tok WHERE len(arr) >= 5)
          GROUP BY doc_id
        )
        SELECT b.doc_id, b.nt AS n_tokens,
               b.nt - b.ndw AS dup_words,
               COALESCE(a.top_bigram, 0) AS top_bigram,
               COALESCE(a.n_bigrams, 0) AS n_bigrams,
               COALESCE(g.n5 - g.nd5, 0) AS dup_5grams,
               COALESCE(g.n5, 0) AS n_5grams,
               CASE WHEN 10 * (b.nt - b.ndw) > 3 * b.nt
                      OR 5 * COALESCE(a.top_bigram, 0) > COALESCE(a.n_bigrams, 0)
                      OR 10 * COALESCE(g.n5 - g.nd5, 0) > COALESCE(g.n5, 0)
                    THEN 1 ELSE 0 END AS repetitive
        FROM base b LEFT JOIN bga a USING (doc_id) LEFT JOIN g5 g USING (doc_id)
      """)) { (s, dir) =>
      // integer thresholds in cross-multiplied form (10*dup > 3*nt, not
      // dup/nt > 0.3) so boundary docs fall on the same side in both
      // engines; empty-range guards are explicit because Spark's
      // sequence(1, 0) is the DESCENDING [1, 0] while DuckDB's
      // generate_series(1, 0) is empty (the dd70 lesson)
      val arr = Text.tokens
      // size-gated fan-out: this battery is deliberately exchange-free, so
      // ALL of its O(distinct·len) per-row array work ran inside the
      // 1-task documents scan (profiled: a single-task 1.4 s save stage =
      // 95% of the query). The fan-out is the query's only exchange and
      // moves just (doc_id, text); no-op at scale.
      val d0 = graft.core.Fanout.bySize(s,
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          dir, "documents")
        .select(col("doc_id"), arr.as("arr"))
        .withColumn("bg", when(size(col("arr")) >= 2,
          expr("transform(sequence(1, size(arr)-1), i -> concat(element_at(arr, i), ' ', element_at(arr, i+1)))"))
          .otherwise(expr("cast(array() as array<string>)")))
        .withColumn("g5", when(size(col("arr")) >= 5,
          expr("transform(sequence(1, size(arr)-4), i -> array_join(slice(arr, i, 5), ' '))"))
          .otherwise(expr("cast(array() as array<string>)")))
      val nt = size(col("arr")).cast("long")
      val dupW = (size(col("arr")) - size(array_distinct(col("arr")))).cast("long")
      // per-doc top-bigram count in array-land: distinct grams × their
      // occurrence counts — O(distinct·len) on a ≤doc-length array, the
      // price of keeping the whole battery exchange-free
      val topBg = coalesce(expr(
        "array_max(transform(array_distinct(bg), g -> size(filter(bg, x -> x = g))))"),
        lit(0)).cast("long")
      val nBg = size(col("bg")).cast("long")
      val dup5 = (size(col("g5")) - size(array_distinct(col("g5")))).cast("long")
      val n5 = size(col("g5")).cast("long")
      d0.select(col("doc_id"), nt.as("n_tokens"), dupW.as("dup_words"),
        topBg.as("top_bigram"), nBg.as("n_bigrams"),
        dup5.as("dup_5grams"), n5.as("n_5grams"),
        when(dupW * 10 > nt * 3 || topBg * 5 > nBg || dup5 * 10 > n5, 1)
          .otherwise(0).as("repetitive"))
    },

    // ---- DD87: per-source datasheet rollup ---------------------------------
    // The "datasheets for datasets" triage table a curation pipeline
    // publishes per source: volume (docs/tokens), language mix, exact-dup
    // rate (within-source md5 groups), and Gopher shape-rule pass rate —
    // the existing per-doc signals folded to the grain operators actually
    // make keep/drop decisions at. One narrow flag pass + one source
    // groupBy (the md5-group dup count rides a source-keyed subaggregate).
    QueryDef(
      "dd87_source_datasheet",
      "Per-source datasheet: docs, tokens, language count, en share, within-source exact-dup rate, Gopher pass rate — one flag pass + source-grain rollups",
      Some("""
        WITH f AS (
          SELECT source, lang, md5(text) AS h,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                 CASE WHEN nw0 BETWEEN 20 AND 80 AND nc >= 4 * nw0 AND nc <= 5 * nw0
                           AND 10 * aw >= 7 * nw0 AND 10 * dw <= 3 * nw0
                      THEN 1 ELSE 0 END AS pass
          FROM (
            SELECT source, lang, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS nw0,
                   CAST(len(replace(text, ' ', '')) AS BIGINT) AS nc,
                   CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS aw,
                   CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '^[0-9]+$'))) AS BIGINT) AS dw
            FROM documents)
        ),
        dup AS (
          SELECT source, CAST(sum(c - 1) AS BIGINT) AS n_dup
          FROM (SELECT source, h, CAST(count(*) AS BIGINT) AS c
                FROM f GROUP BY source, h)
          GROUP BY source
        )
        SELECT f.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(f.nw) AS BIGINT) AS total_tokens,
               CAST(count(DISTINCT f.lang) AS BIGINT) AS n_langs,
               round(sum(CASE WHEN f.lang = 'en' THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS en_share,
               CAST(max(d.n_dup) AS BIGINT) AS n_exact_dups,
               round(max(d.n_dup) / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
               round(sum(f.pass) / CAST(count(*) AS DOUBLE), 6) AS gopher_pass_rate
        FROM f JOIN dup d ON f.source = d.source
        GROUP BY f.source
      """)) { (s, dir) =>
      val base = t(s, dir, "documents").select(
        Seq(col("source"), col("lang"), md5(col("text")).as("h")) ++ Text.gopherSignals: _*)
      val f = base.select(col("source"), col("lang"), col("h"), col("nw"),
        when(Text.gopherPass, 1L).otherwise(0L).as("pass")).cache()
      val dup = f.groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
        .groupBy(col("source")).agg(sum(col("c") - 1).cast("long").as("n_dup"))
      f.join(dup, Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).cast("long").as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          round(sum(when(col("lang") === "en", 1).otherwise(0)) /
            count(lit(1)).cast("double"), 6).as("en_share"),
          max(col("n_dup")).cast("long").as("n_exact_dups"),
          round(max(col("n_dup")) / count(lit(1)).cast("double"), 6).as("dup_rate"),
          round(sum(col("pass")) / count(lit(1)).cast("double"), 6)
            .as("gopher_pass_rate"))
    },

    // ---- DD88: directional containment join (quote / boilerplate) ---------
    QueryDef(
      "dd88_containment_join",
      "EXACT directional containment join C(A→B)=|A∩B|/|A| >= 3/4 over 3-shingle sets: the quote/boilerplate/doc-inclusion detector Jaccard misses (a short doc quoted inside a long one has high containment but low Jaccard, and dd60's length filter prunes the pair outright). Engine: All-Pairs rarity-prefix on the CONTAINED side only, no length filter, integer cross-multiplied threshold; oracle is the filter-free shared-shingle spec — equality is the losslessness proof",
      Some("""
        WITH tok AS (
          SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
                WHERE len(string_split(text, ' ')) >= 3)
        ),
        sh0 AS (
          SELECT doc_id,
                 w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS sh
          FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ),
        shd AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh IS NOT NULL),
        n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd GROUP BY 1),
        com AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS c
          FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, round(c / CAST(na.n AS DOUBLE), 6) AS containment
        FROM com JOIN n na ON doc_a = na.doc_id
        WHERE 4 * c >= 3 * na.n
      """)) { (s, dir) =>
      graft.resolve.SetSimJoin.containment(
        Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id").as("id")), 3)
          .select(col("id"), Text.shingleSet(col("arr")).as("toks")),
        tNum = 3, tDen = 4)
    },

    // ---- DD101: C4-style cleaning filters ---------------------------------
    QueryDef(
      "dd101_c4_filters",
      "C4 cleaning rules (Raffel et al. 2020 §2.2) with planted violations — terminal-punctuation requirement, minimum length, code-brace drop, 'lorem ipsum' drop — per-source funnel: independent per-rule violation counts plus the all-rules pass rate. The planting (deterministic doc_id residues shared with the oracle) gives every rule real selectivity on the word-soup fixture; ONE narrow codegen pass per doc, a source-keyed fold, no shuffle touches text",
      Some("""
        WITH planted AS (
          SELECT source,
            CASE WHEN doc_id % 3 = 0 THEN t2 || '.' ELSE t2 END AS t3
          FROM (
            SELECT source, doc_id,
              CASE WHEN doc_id % 17 = 0 THEN t1 || ' {code}' ELSE t1 END AS t2
            FROM (
              SELECT source, doc_id,
                CASE WHEN doc_id % 23 = 0 THEN 'lorem ipsum ' || text
                     ELSE text END AS t1
              FROM documents))
        ),
        f AS (
          SELECT source,
            CASE WHEN t3 LIKE '%.' THEN 0 ELSE 1 END AS v_punct,
            CASE WHEN len(string_split(t3, ' ')) >= 40 THEN 0 ELSE 1 END AS v_short,
            CASE WHEN contains(t3, '{') THEN 1 ELSE 0 END AS v_brace,
            CASE WHEN contains(t3, 'lorem ipsum') THEN 1 ELSE 0 END AS v_lorem
          FROM planted
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(v_punct) AS BIGINT) AS drop_punct,
               CAST(sum(v_short) AS BIGINT) AS drop_short,
               CAST(sum(v_brace) AS BIGINT) AS drop_brace,
               CAST(sum(v_lorem) AS BIGINT) AS drop_lorem,
               CAST(sum(CASE WHEN v_punct + v_short + v_brace + v_lorem = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               round(sum(CASE WHEN v_punct + v_short + v_brace + v_lorem = 0
                         THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
                 AS pass_rate
        FROM f GROUP BY source
      """)) { (s, dir) =>
      // The planting order matters: the '.' goes LAST so the
      // terminal-punctuation rule sees it at the end; brace/lorem land
      // mid-string. Rules evaluate independently (C4 drops on any).
      val planted = t(s, dir, "documents")
        .withColumn("t1", when(col("doc_id") % 23 === 0,
          concat(lit("lorem ipsum "), col("text"))).otherwise(col("text")))
        .withColumn("t2", when(col("doc_id") % 17 === 0,
          concat(col("t1"), lit(" {code}"))).otherwise(col("t1")))
        .withColumn("t3", when(col("doc_id") % 3 === 0,
          concat(col("t2"), lit("."))).otherwise(col("t2")))
      val f = planted.select(col("source"),
        when(col("t3").endsWith("."), 0L).otherwise(1L).as("v_punct"),
        when(size(Text.tokens(col("t3"))) >= 40, 0L).otherwise(1L).as("v_short"),
        when(col("t3").contains("{"), 1L).otherwise(0L).as("v_brace"),
        when(col("t3").contains("lorem ipsum"), 1L).otherwise(0L).as("v_lorem"))
      val anyV = col("v_punct") + col("v_short") + col("v_brace") + col("v_lorem")
      f.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("v_punct")).as("drop_punct"),
        sum(col("v_short")).as("drop_short"),
        sum(col("v_brace")).as("drop_brace"),
        sum(col("v_lorem")).as("drop_lorem"),
        sum(when(anyV === 0, 1L).otherwise(0L)).as("n_pass"),
        round(sum(when(anyV === 0, 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 6).as("pass_rate"))
    },

    // ---- DD102: tokenizer fertility profile -------------------------------
    QueryDef(
      "dd102_tokenizer_fertility",
      "Tokenizer fertility profile per (source, lang) — the capacity metric multilingual-tokenizer work reports (subwords per word): whitespace word counts, a fixed-width subword proxy (ceil(len/4) pieces per word, the budget a 4-char-average BPE vocabulary would spend), chars per word. All integer sums folded source-locally in one narrow pass; the division happens once per group",
      Some("""
        WITH d AS (
          SELECT source, lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                 CAST(len(replace(text, ' ', '')) AS BIGINT) AS nc,
                 CAST(list_sum(list_transform(string_split(text, ' '),
                      w -> (len(w) + 3) // 4)) AS BIGINT) AS nsw
          FROM documents
        )
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nw) AS BIGINT) AS n_words,
               CAST(sum(nsw) AS BIGINT) AS n_subwords,
               round(sum(nc) / CAST(sum(nw) AS DOUBLE), 6) AS chars_per_word,
               round(sum(nsw) / CAST(sum(nw) AS DOUBLE), 6) AS fertility
        FROM d GROUP BY source, lang
      """)) { (s, dir) =>
      // aggregate() over the split array keeps the subword fold narrow —
      // no explode, no shuffle of token rows; the only exchange is the
      // (source, lang) groupBy of per-doc integer triples.
      val d = t(s, dir, "documents").select(col("source"), col("lang"),
        size(Text.tokens).cast("long").as("nw"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("nc"),
        aggregate(transform(Text.tokens,
          w => shiftright(length(w) + lit(3), 2).cast("long")),
          lit(0L), (acc, x) => acc + x).as("nsw"))
      d.groupBy(col("source"), col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("nsw")).as("n_subwords"),
        round(sum(col("nc")) / sum(col("nw")).cast("double"), 6)
          .as("chars_per_word"),
        round(sum(col("nsw")) / sum(col("nw")).cast("double"), 6)
          .as("fertility"))
    },

    // ---- DD89: inter-rater reliability (Cohen's kappa) ---------------------
    QueryDef(
      "dd89_rater_kappa",
      "Cohen's kappa between two deterministic quality raters (char-length bands vs token-count bands, S/M/L): chance-corrected agreement for labeling-pipeline QA — raw agreement po flatters raters that both say 'M' for everything; kappa subtracts the marginal-product chance term. Everything folds from the 9-cell confusion relation: one doc scan, count-space marginals, no row ever leaves the engine",
      Some("""
        WITH lab AS (
          SELECT CASE WHEN n_chars < 150 THEN 'S' WHEN n_chars < 300 THEN 'M'
                      ELSE 'L' END AS ra,
                 CASE WHEN len(string_split(text, ' ')) < 30 THEN 'S'
                      WHEN len(string_split(text, ' ')) < 60 THEN 'M'
                      ELSE 'L' END AS rb
          FROM documents
        ),
        cells AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS c FROM lab GROUP BY 1, 2),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS BIGINT) AS agree
                FROM cells),
        marg AS (
          SELECT r.ra AS k, CAST(r.rc * c.cc AS BIGINT) AS rxc
          FROM (SELECT ra, sum(c) AS rc FROM cells GROUP BY ra) r
          JOIN (SELECT rb, sum(c) AS cc FROM cells GROUP BY rb) c ON r.ra = c.rb
        ),
        pe AS (SELECT CAST(sum(rxc) AS BIGINT) AS sum_rxc FROM marg)
        SELECT n AS n_docs, agree AS agree_n,
               round(agree / CAST(n AS DOUBLE), 6) AS po,
               round(sum_rxc / CAST(n * n AS DOUBLE), 6) AS pe,
               round((agree / CAST(n AS DOUBLE) - sum_rxc / CAST(n * n AS DOUBLE))
                     / (1 - sum_rxc / CAST(n * n AS DOUBLE)), 6) AS kappa
        FROM tot CROSS JOIN pe
      """)) { (s, dir) =>
      // kappa's po/pe are single divisions of exact BIGINT counts —
      // deterministic IEEE in both engines, so only the final round(6)
      // crosses; no decimal freezing needed (contrast the per-term sums
      // in dd30/dd68).
      val lab = t(s, dir, "documents").select(
        when(col("n_chars") < 150, "S").when(col("n_chars") < 300, "M")
          .otherwise("L").as("ra"),
        when(size(Text.tokens) < 30, "S")
          .when(size(Text.tokens) < 60, "M")
          .otherwise("L").as("rb"))
      val cells = lab.groupBy(col("ra"), col("rb"))
        .agg(count(lit(1)).as("c")).cache()
      val tot = cells.agg(sum(col("c")).as("n"),
        sum(when(col("ra") === col("rb"), col("c")).otherwise(0L)).as("agree"))
      val rowm = cells.groupBy(col("ra")).agg(sum(col("c")).as("rc"))
      val colm = cells.groupBy(col("rb")).agg(sum(col("c")).as("cc"))
      val pe = rowm.join(colm, col("ra") === col("rb"))
        .agg(sum(col("rc") * col("cc")).as("sum_rxc"))
      val po = col("agree") / col("n").cast("double")
      val peX = col("sum_rxc") / (col("n") * col("n")).cast("double")
      tot.crossJoin(broadcast(pe))
        .select(col("n").as("n_docs"), col("agree").as("agree_n"),
          round(po, 6).as("po"), round(peX, 6).as("pe"),
          round((po - peX) / (lit(1) - peX), 6).as("kappa"))
    })
}
