package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.functions.NativeExpressions.dot_native
import graft.search.{Bm25, IndexMaintain, Text}

/** Data-selection operators: the pass that decides WHICH documents train —
  * importance resampling toward a target distribution (DSIR, Xie et al.
  * NeurIPS'23), CCNet-style perplexity bucketing (Wenzek et al. LREC'20),
  * an l-diversity privacy audit extending dd61's k-anonymity gate
  * (Machanavajjhala et al. ICDE'06), and reciprocal-rank fusion of lexical
  * and dense retrieval (Cormack et al. SIGIR'09).
  *
  * Reference anchor: the reference curates with per-source SQL filters and
  * hand rules (`etl-crimes/transform_rules.sql`, SURVEY §2.9); these are the
  * published-scale counterparts a 100 TB training-data pipeline runs instead.
  *
  * House float discipline throughout: per-term contributions round(9) into
  * DECIMAL(28,9) so every sum is order-free, final doubles round(6), md5 for
  * cross-engine-deterministic hashing (Spark hash() != DuckDB hash()).
  */
object SelectOps {

  val defs: Seq[QueryDef] = Seq(

    // ---- DD67: DSIR importance selection ---------------------------------
    QueryDef(
      "dd67_dsir_select",
      "DSIR data selection: hashed-unigram (256 md5 buckets) importance weights log2(p_target/p_raw) with add-1 smoothing, target = the English slice, scored per token; top-20 docs by per-token log-likelihood ratio. The feature LM is 256 rows — broadcast at any corpus size; scoring is one narrow pass + one doc-keyed groupBy",
      Some("""
        WITH tok AS (
          SELECT doc_id, lang, substr(md5(w),1,2) AS f
          FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS w FROM documents)
        ),
        tgt AS (SELECT f, CAST(count(*) AS BIGINT) AS ct FROM tok WHERE lang='en' GROUP BY f),
        raw AS (SELECT f, CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY f),
        tots AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tok WHERE lang='en') AS tt,
                        (SELECT CAST(count(*) AS BIGINT) FROM tok) AS tr),
        llr AS (
          SELECT r.f,
                 CAST(round(log2( ((COALESCE(t.ct,0)+1.0)/(tots.tt+256.0)) /
                                  ((r.cr+1.0)/(tots.tr+256.0)) ), 9) AS DECIMAL(28,9)) AS llr
          FROM raw r LEFT JOIN tgt t ON r.f = t.f CROSS JOIN tots
        ),
        docf AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id, f),
        scored AS (
          SELECT d.doc_id, CAST(sum(d.n) AS BIGINT) AS n_tokens,
                 round(CAST(sum(d.n * l.llr) AS DOUBLE) / sum(d.n), 6) AS llr_per_token
          FROM docf d JOIN llr l ON d.f = l.f GROUP BY d.doc_id
        )
        SELECT doc_id, n_tokens, llr_per_token FROM scored
        ORDER BY llr_per_token DESC, doc_id LIMIT 20
      """)) { (s, dir) =>
      // The published DSIR shape: estimate a hashed-feature LM for the
      // target and the raw pool, weight each doc by its LLR, keep the top
      // of the pool. 256 md5-prefix buckets stand in for the paper's 10k
      // hashed n-grams — the SCALE property is identical: both LMs are
      // FEATURE-bounded (256 rows here, never corpus-bounded), so the
      // scoring join broadcasts and the only corpus-keyed exchange is the
      // (doc_id, f) partial-count groupBy. One corpus token pass feeds
      // target counts, raw counts, and per-doc features (cached).
      val tok = Text.tokenRows(t(s, dir, "documents"), Seq(col("doc_id"), col("lang")))
        .select(col("doc_id"), col("lang"),
          substring(md5(col("w")), 1, 2).as("f"))
        .cache()
      val tgt = tok.filter(col("lang") === "en")
        .groupBy(col("f")).agg(count(lit(1)).as("ct"))
      val raw = tok.groupBy(col("f")).agg(count(lit(1)).as("cr"))
      val tots = tok.agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"),
        count(lit(1)).as("tr"))
      val llr = raw.join(tgt, Seq("f"), "left")
        .crossJoin(broadcast(tots))
        .select(col("f"),
          // decimal(18,9), NOT (28,9): the weighted product below must fit
          // Spark's 38-digit ceiling at scale 9 — bigint * decimal(28,9)
          // would overflow precision and Spark (allowPrecisionLoss) silently
          // TRUNCATES the scale to 6, desyncing the sum from DuckDB's exact
          // arithmetic; (10,0) x (18,9) = (29,9) stays exact. |llr| < 32,
          // so 9 integer digits are ample.
          round(log2(((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("tt") + lit(256.0))) /
            ((col("cr") + lit(1.0)) / (col("tr") + lit(256.0)))), 9)
            .cast("decimal(18,9)").as("llr"))
      val docf = tok.groupBy(col("doc_id"), col("f")).agg(count(lit(1)).as("n"))
      docf.join(broadcast(llr), Seq("f"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_tokens"),
          sum(col("n").cast("decimal(10,0)") * col("llr")).as("tot"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("tot").cast("double") / col("n_tokens"), 6).as("llr_per_token"))
        .orderBy(col("llr_per_token").desc, col("doc_id")).limit(20)
    },

    // ---- DD68: CCNet perplexity buckets ----------------------------------
    QueryDef(
      "dd68_ppl_buckets",
      "CCNet-style head/middle/tail: per-doc bits under the corpus bigram LM (dd30's scoring), bucketed per language by APPROX-percentile tercile cutpoints (mergeable sketch, no per-lang sort). dd27's gate pattern: the hash anchors the exact per-lang LM aggregates, tolerance booleans gate the approx terciling (bucket shares within [0.2, 0.47], head mean ≤ tail mean)",
      Some("""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 2
        ),
        big AS (
          SELECT doc_id, b.prev AS prev, b.next AS next
          FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)-1),
                i -> struct_pack(prev := arr[i], next := arr[i+1]))) AS b FROM tok)
        ),
        pair_counts AS (SELECT prev, next, COUNT(*) AS c FROM big GROUP BY prev, next),
        prev_counts AS (SELECT prev, SUM(c) AS cp FROM pair_counts GROUP BY prev),
        vocab AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(arr) AS w FROM tok)),
        scored AS (
          SELECT b.doc_id,
                 CAST(round(-log2((pc.c + 1.0) / (pv.cp + vocab.v)), 9) AS DECIMAL(28,9)) AS cost
          FROM big b
          JOIN pair_counts pc ON b.prev = pc.prev AND b.next = pc.next
          JOIN prev_counts pv ON b.prev = pv.prev
          CROSS JOIN vocab
        ),
        doc_bits AS (
          SELECT doc_id, round(CAST(SUM(cost) AS DOUBLE) / COUNT(*), 6) AS avg_bits
          FROM scored GROUP BY doc_id
        ),
        lang_stats AS (
          SELECT d.lang, CAST(count(*) AS BIGINT) AS n_lang,
                 round(CAST(sum(CAST(b.avg_bits AS DECIMAL(18,6))) AS DOUBLE)/count(*), 6) AS mean_bits_lang
          FROM doc_bits b JOIN documents d ON b.doc_id = d.doc_id
          GROUP BY d.lang
        )
        SELECT lang, bucket, n_lang, mean_bits_lang,
               TRUE AS share_ok, TRUE AS order_ok
        FROM lang_stats
        CROSS JOIN (VALUES ('head'), ('middle'), ('tail')) AS b(bucket)
      """)) { (s, dir) =>
      // CCNet's filter is "keep head+middle by target-LM perplexity, per
      // language"; the deterministic twin scores under the corpus's OWN
      // bigram LM (dd30's exact recipe, shared rounding). Round-8 scale
      // fix: the per-lang ntile(3) was an exact full sort inside one
      // window partition per language (canary: 5.0× wall-clock for 10×
      // data); the engine path now derives tercile cutpoints from
      // percentile_approx — a mergeable one-pass sketch — and buckets by
      // comparison against the broadcast cutpoints. The DuckDB oracle
      // pins the exact per-lang LM aggregates (hash-compared) and asserts
      // the tolerance booleans TRUE (dd27's sketch-gate pattern), so a
      // sketch drifting out of tolerance fails CORRECTNESS, not just a
      // spec. Everything upstream is the vocabulary-bounded LM join from
      // dd30.
      val docs = Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id")), 2)
      val bigrams = docs.select(col("doc_id"),
        explode(Text.bigrams(col("arr"), "prev", "next")).as("b"))
        .select(col("doc_id"), col("b.prev").as("prev"), col("b.next").as("next"))
      val pairCounts = bigrams.groupBy(col("prev"), col("next"))
        .agg(count(lit(1)).as("c"))
      val prevCounts = pairCounts.groupBy(col("prev")).agg(sum(col("c")).as("cp"))
      val vocab = docs.select(explode(col("arr")).as("w"))
        .agg(countDistinct(col("w")).as("v"))
      val lm = pairCounts
        .join(prevCounts, Seq("prev"))
        .crossJoin(broadcast(vocab))
        .select(col("prev"), col("next"),
          round(-log2((col("c") + lit(1.0)) / (col("cp") + col("v"))), 9)
            .cast("decimal(28,9)").as("cost"))
      val docBits = bigrams.join(lm, Seq("prev", "next"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nb"), sum(col("cost")).as("tot"))
        .select(col("doc_id"),
          round(col("tot").cast("double") / col("nb"), 6).as("avg_bits"))
      val withLang = docBits
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .cache()
      // tercile cutpoints per lang: one mergeable-sketch aggregation —
      // never a per-lang sort
      val cuts = withLang.groupBy(col("lang"))
        .agg(percentile_approx(col("avg_bits"),
          array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000)).as("cut"))
      val perBucket = withLang.join(broadcast(cuts), Seq("lang"))
        .withColumn("bucket",
          when(col("avg_bits") <= col("cut").getItem(0), "head")
            .when(col("avg_bits") <= col("cut").getItem(1), "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("nb"), avg(col("avg_bits")).as("mb"))
      // exact per-lang LM aggregates — the hash anchor the oracle pins
      val perLang = withLang.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_lang"),
          sum(col("avg_bits").cast("decimal(18,6)")).as("sb"))
        .select(col("lang"), col("n_lang"),
          round(col("sb").cast("double") / col("n_lang"), 6).as("mean_bits_lang"))
      val mono = perBucket.groupBy(col("lang"))
        .agg(max(when(col("bucket") === "head", col("mb"))).as("mh"),
          max(when(col("bucket") === "tail", col("mb"))).as("mt"))
        .select(col("lang"), (col("mh") <= col("mt")).as("order_ok"))
      val spine = perLang.select(col("lang"), col("n_lang"),
        col("mean_bits_lang"),
        explode(array(lit("head"), lit("middle"), lit("tail"))).as("bucket"))
      spine.join(perBucket, Seq("lang", "bucket"), "left")
        .join(broadcast(mono), Seq("lang"))
        .select(col("lang"), col("bucket"), col("n_lang"), col("mean_bits_lang"),
          (coalesce(col("nb"), lit(0L)) >= col("n_lang") * 0.2 &&
            coalesce(col("nb"), lit(0L)) <= col("n_lang") * 0.47).as("share_ok"),
          col("order_ok"))
    },

    // ---- DD69: l-diversity audit -----------------------------------------
    QueryDef(
      "dd69_ldiversity",
      "l-diversity release gate over dd61's quasi-identifier (event_type, day, floor(value/50)), sensitive attribute = user_id: per-QI-class distinct-sensitive count l and Shannon entropy, banded unique/low/diverse — k-anonymity alone passes classes where everyone shares one sensitive value; this is the audit that catches them. Two QI-keyed aggregations, entropy terms round(9) decimal so the per-class sum is order-free",
      Some("""
        WITH cells AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(floor(value/50) AS BIGINT) AS vbucket,
                 user_id, CAST(count(*) AS BIGINT) AS cu
          FROM events GROUP BY 1,2,3,4
        ),
        tot AS (
          SELECT event_type, day, vbucket, CAST(sum(cu) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS l_distinct
          FROM cells GROUP BY 1,2,3
        ),
        ent AS (
          SELECT c.event_type, c.day, c.vbucket,
                 CAST(round(-(c.cu/CAST(t.n_rows AS DOUBLE))*log2(c.cu/CAST(t.n_rows AS DOUBLE)), 9)
                      AS DECIMAL(28,9)) AS term
          FROM cells c JOIN tot t USING (event_type, day, vbucket)
        ),
        per_class AS (
          SELECT t.event_type, t.day, t.vbucket, t.n_rows, t.l_distinct,
                 round(CAST(sum(e.term) AS DOUBLE), 6) AS entropy
          FROM tot t JOIN ent e USING (event_type, day, vbucket)
          GROUP BY 1,2,3,4,5
        )
        SELECT CASE WHEN l_distinct = 1 THEN 'unique'
                    WHEN l_distinct < 5 THEN 'low' ELSE 'diverse' END AS l_band,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               round(CAST(sum(CAST(entropy AS DECIMAL(18,6))) AS DOUBLE)/count(*), 6) AS avg_entropy,
               round(min(entropy), 6) AS min_entropy
        FROM per_class GROUP BY 1 ORDER BY 1
      """)) { (s, dir) =>
      // Both aggregations and the entropy join share the QI key — one
      // shuffle reused three times (AQE coalesces the exchanges); the
      // sensitive-value fan-in per class is the class size, never the
      // table. The (QI, user) cell table is the only corpus-sized relation.
      val cells = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") / 50).as("vbucket"), col("user_id"))
        .agg(count(lit(1)).as("cu"))
        .cache() // 3 consumers (tot, ent, perClass): cache the QI-cell
                 // relation so the events scan + cell groupBy run once
      val tot = cells.groupBy(col("event_type"), col("day"), col("vbucket"))
        .agg(sum(col("cu")).as("n_rows"), count(lit(1)).as("l_distinct"))
      val p = col("cu") / col("n_rows").cast("double")
      val ent = cells.join(tot, Seq("event_type", "day", "vbucket"))
        .select(col("event_type"), col("day"), col("vbucket"),
          round(-p * log2(p), 9).cast("decimal(28,9)").as("term"))
      val perClass = ent.groupBy(col("event_type"), col("day"), col("vbucket"))
        .agg(round(sum(col("term")).cast("double"), 6).as("entropy"))
        .join(tot, Seq("event_type", "day", "vbucket"))
      perClass
        .groupBy(when(col("l_distinct") === 1, "unique")
          .when(col("l_distinct") < 5, "low").otherwise("diverse").as("l_band"))
        .agg(count(lit(1)).as("n_classes"), sum(col("n_rows")).as("n_rows"),
          sum(col("entropy").cast("decimal(18,6)")).as("se"),
          min(col("entropy")).as("me"))
        .select(col("l_band"), col("n_classes"), col("n_rows"),
          round(col("se").cast("double") / col("n_classes"), 6).as("avg_entropy"),
          round(col("me"), 6).as("min_entropy"))
        .orderBy(col("l_band"))
    },

    // ---- IR10: reciprocal-rank fusion ------------------------------------
    QueryDef(
      "ir10_rrf_fusion",
      "Reciprocal-rank fusion (k=60) of the two retrieval families the engine already runs: BM25 top-50 (ir2's lexical ranking) and dense top-50 by cosine to the corpus centroid (vec_id = doc_id); fused score = sum 1/(60+rank), top-10. Each ranking is a distributed top-k; the fusion is a 100-row union — driver-free",
      Some("""
        WITH vecs AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                       list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS norm
          FROM embeddings
        ),
        cent0 AS (
          SELECT i, CAST(sum(CAST(round(v[i],9) AS DECIMAL(28,9))) AS DOUBLE)/count(*) AS c
          FROM vecs CROSS JOIN generate_series(1,64) t(i) GROUP BY i
        ),
        cent AS (SELECT list(c ORDER BY i) AS cv,
                        sqrt(list_dot_product(list(c ORDER BY i), list(c ORDER BY i))) AS cn FROM cent0),
        vrank AS (
          SELECT vec_id AS id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rnk
          FROM (SELECT vec_id, round(list_dot_product(v, cent.cv)/(norm*cent.cn), 6) AS cos
                FROM vecs CROSS JOIN cent) QUALIFY rnk <= 50
        ),
        tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        qterms AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 3),
        contrib AS (
          SELECT tf.doc_id,
            CAST(round( ln((CAST(n.n AS DOUBLE) - q.df + 0.5)/(q.df + 0.5) + 1)
                 * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9) AS DECIMAL(28,9)) AS c
          FROM tf JOIN qterms q ON tf.w = q.w JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
        ),
        trank AS (
          SELECT doc_id AS id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
          FROM (SELECT doc_id, round(CAST(sum(c) AS DOUBLE),6) AS bm25 FROM contrib GROUP BY doc_id)
          QUALIFY rnk <= 50
        ),
        fused AS (
          SELECT id, round(CAST(sum(CAST(round(1.0/(60+rnk),9) AS DECIMAL(28,9))) AS DOUBLE),6) AS rrf,
                 CAST(count(*) AS BIGINT) AS n_lists
          FROM (SELECT * FROM vrank UNION ALL SELECT * FROM trank) GROUP BY id
        )
        SELECT id, n_lists, rrf FROM fused ORDER BY rrf DESC, id LIMIT 10
      """)) { (s, dir) =>
      // Centroid parity: per-dimension components freeze to DECIMAL(28,9)
      // before the sum (order-free across partitions), divide in double.
      // The dense and lexical rankers run INDEPENDENTLY (no barrier
      // between them in the plan — Spark schedules both subtrees); each
      // ends in a 50-row TakeOrdered, so the fusion input is 100 rows.
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("norm", sqrt(dot_native(col("v"), col("v"))))
      val cent0 = vecs
        .select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg((sum(round(col("x"), 9).cast("decimal(28,9)")).cast("double") /
          count(lit(1))).as("c"))
      val cent = cent0
        .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("a"))
        .select(transform(col("a"), e => e.getField("c")).as("cv"))
        .withColumn("cn", sqrt(dot_native(col("cv"), col("cv"))))
      // rank WITHOUT a global window (Bm25.rankTop): the top-50 cut is a
      // distributed TakeOrdered, ranks within it a broadcast inequality
      // self-join — the same tiny-relation shape as dd40's offsets
      val vScored = vecs.crossJoin(broadcast(cent))
        .select(col("vec_id").as("id"),
          round(dot_native(col("v"), col("cv")) / (col("norm") * col("cn")), 6).as("cos"))
      val vrank = Bm25.rankTop(vScored, "cos", "id", 50)
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf)
      val qterms = Bm25.topTerms(Bm25.docFreqs(tf), 3)
      val trank = Bm25.rankTop(
        Bm25.docScores(Bm25.contributions(tf, qterms, dl), "bm25")
          .select(col("doc_id").as("id"), col("bm25")), "bm25", "id", 50)
      vrank.unionAll(trank)
        .groupBy(col("id"))
        .agg(sum(round(lit(1.0) / (lit(60) + col("rnk")), 9).cast("decimal(28,9)")).as("sr"),
          count(lit(1)).as("n_lists"))
        .select(col("id"), col("n_lists"), round(col("sr").cast("double"), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("id")).limit(10)
    },

    // ---- DD70: BPE tokenizer application ---------------------------------
    QueryDef(
      "dd70_bpe_encode",
      "Tokenizer APPLICATION at corpus scale (the produce side of dd58's merge mining): apply a fixed 8-rule BPE merge table to every word — chars joined on US (0x1f), each merge is one non-overlapping left-to-right replace, which IS single-pass BPE merge semantics — and report per-language char->token compression. Pure narrow codegen string passes; the only exchange is the 5-row language rollup",
      Some(SelectOpsSql.bpeOracle)) { (s, dir) =>
      // replace() scans left-to-right over non-overlapping occurrences and
      // resumes AFTER each replacement — exactly one BPE merge pass
      // ('aaa' + merge(a,a) -> ['aa','a'], not ['aa','aa']); identical
      // semantics in java.lang.String.replace and DuckDB replace, so the
      // whole encode is oracle-checkable. Merges apply in rank order as a
      // chain of 8 replaces fused into one whole-stage-codegen projection;
      // words never leave their partition until the tiny language rollup.
      val enc = SelectOpsSql.merges.foldLeft(
        "array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), char(31))") {
        case (acc, (a, b)) =>
          s"replace($acc, concat('$a', char(31), '$b'), '$a$b')"
      }
      // empty words (doubled/leading/trailing spaces) are dropped on BOTH
      // sides: Spark's sequence(1, 0) is the DESCENDING [1, 0] (step
      // defaults to -1) which would mint 2 phantom tokens per empty word
      // while DuckDB's generate_series(1, 0) is empty — the one place the
      // two engines' range semantics diverge
      Text.tokenRows(t(s, dir, "documents"), Seq(col("doc_id"), col("lang")), "word")
        .filter(col("word") =!= "")
        .withColumn("s", expr(enc))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          sum(length(col("word"))).cast("long").as("n_chars"),
          sum(length(col("s")) - length(expr("replace(s, char(31), '')")) + 1)
            .cast("long").as("n_bpe_tokens"))
        .select(col("lang"), col("n_docs"), col("n_chars"), col("n_bpe_tokens"),
          round(col("n_chars") / col("n_bpe_tokens").cast("double"), 6).as("compression"))
        .orderBy(col("lang"))
    },

    // ---- DD72: differentially-private histogram release -------------------
    QueryDef(
      "dd72_dp_release",
      "DP-shaped (deterministic-noise) release KERNEL, not a privacy guarantee: per-event-type counts plus inverse-CDF Laplace-shaped noise (Dwork et al. TCC'06 mechanism shape, eps=1) from a SEEDED md5 uniform; released = max(0, count + noise). The seeded noise is a public function of the category name, hence exactly invertible — determinism is what the cross-engine parity gate REQUIRES; a production DP release must draw the same Laplace noise from a secret, non-recomputable source. Histogram is category-bounded (one tiny groupBy); noise derivation is per-released-row arithmetic",
      Some("""
        WITH hist AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS true_count
          FROM events GROUP BY event_type
        ),
        noised AS (
          SELECT event_type, true_count,
                 (CAST(concat('0x', substr(md5(concat(event_type, '|dp-seed-r6')),1,8)) AS BIGINT) + 0.5)
                   / 4294967296.0 AS u
          FROM hist
        )
        SELECT event_type, true_count,
               round(CASE WHEN u < 0.5 THEN ln(2*u) ELSE -ln(2*(1-u)) END, 6) AS noise,
               CAST(greatest(0, round(true_count +
                 (CASE WHEN u < 0.5 THEN ln(2*u) ELSE -ln(2*(1-u)) END))) AS BIGINT) AS released
        FROM noised ORDER BY event_type
      """)) { (s, dir) =>
      // Laplace(b=1/eps=1) via inverse CDF on u ~ Uniform(0,1): u < .5 ->
      // b*ln(2u), else -b*ln(2(1-u)). u derives from the first 8 md5 hex
      // chars of (category | fixed seed) — Spark's conv(hex,16,10) and
      // DuckDB's '0x' cast agree exactly, and +0.5 keeps u strictly
      // inside (0,1) so ln never sees 0. Released counts clamp at 0 and
      // round to integers (the standard post-processing, DP-safe).
      val u = (expr("conv(substring(md5(concat(event_type, '|dp-seed-r6')), 1, 8), 16, 10)")
        .cast("long") + lit(0.5)) / lit(4294967296.0)
      val noise = when(col("u") < 0.5, log(lit(2.0) * col("u")))
        .otherwise(-log(lit(2.0) * (lit(1.0) - col("u"))))
      t(s, dir, "events")
        .groupBy(col("event_type")).agg(count(lit(1)).as("true_count"))
        .withColumn("u", u)
        .select(col("event_type"), col("true_count"),
          round(noise, 6).as("noise"),
          greatest(lit(0L), round(col("true_count") + noise, 0).cast("long")).as("released"))
        .orderBy(col("event_type"))
    },

    // ---- IR11: NDCG ranking-quality evaluation ---------------------------
    QueryDef(
      "ir11_ndcg_eval",
      "NDCG@10 of the BM25 ranking (ir2's scorer) against deterministic graded relevance = number of distinct query terms a doc contains (0-3): DCG from the actual top-10, IDCG from the relevance-ideal top-10, both rank sets cut by distributed TakeOrdered with ranks from bounded inequality self-joins — the retrieval-quality gate a search pipeline ships with, no global window anywhere",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        qterms AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 3),
        rel AS (
          SELECT d.doc_id, CAST(count(DISTINCT q.w) AS BIGINT) AS rel
          FROM tf d JOIN qterms q ON d.w = q.w GROUP BY d.doc_id
        ),
        contrib AS (
          SELECT tf.doc_id,
            CAST(round( ln((CAST(n.n AS DOUBLE) - q.df + 0.5)/(q.df + 0.5) + 1)
                 * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9) AS DECIMAL(28,9)) AS c
          FROM tf JOIN qterms q ON tf.w = q.w JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
        ),
        bm25 AS (
          SELECT doc_id, round(CAST(sum(c) AS DOUBLE),6) AS bm25
          FROM contrib GROUP BY doc_id
        ),
        actual AS (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
          FROM bm25 QUALIFY rnk <= 10
        ),
        ideal AS (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rnk
          FROM rel QUALIFY rnk <= 10
        ),
        dcg AS (
          SELECT round(CAST(sum(CAST(round((pow(2, COALESCE(r.rel,0)) - 1)
                   / log2(a.rnk + 1), 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS dcg
          FROM actual a LEFT JOIN rel r ON a.doc_id = r.doc_id
        ),
        idcg AS (
          SELECT round(CAST(sum(CAST(round((pow(2, r.rel) - 1)
                   / log2(i.rnk + 1), 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS idcg
          FROM ideal i JOIN rel r ON i.doc_id = r.doc_id
        )
        SELECT 10 AS k, dcg.dcg, idcg.idcg,
               round(dcg.dcg / idcg.idcg, 6) AS ndcg
        FROM dcg CROSS JOIN idcg
      """)) { (s, dir) =>
      // Both rankings reuse ONE cached tf relation (the inverted index);
      // relevance grades come from the same broadcast query-term join.
      // Each top-10 cut is TakeOrdered; ranks within the 10-row cuts are
      // broadcast inequality self-joins (Bm25.rankTop, as in ir10).
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf)
      val qterms = Bm25.topTerms(Bm25.docFreqs(tf), 3)
      val rel = tf.join(broadcast(qterms.select(col("w"))), Seq("w"))
        .groupBy(col("doc_id")).agg(countDistinct(col("w")).as("rel"))
      val bm25 = Bm25.docScores(Bm25.contributions(tf, qterms, dl), "bm25")
      val actual = Bm25.rankTop(bm25, "bm25", "doc_id", 10)
      val ideal = Bm25.rankTop(
        rel.select(col("doc_id"), col("rel").cast("double").as("relscore")),
        "relscore", "doc_id", 10)
      val dcgTerm = (c: Column, r: Column) =>
        round((pow(lit(2.0), c) - 1) / log2(r + 1), 9).cast("decimal(28,9)")
      val dcg = actual.join(rel, Seq("doc_id"), "left")
        .agg(round(sum(dcgTerm(coalesce(col("rel"), lit(0L)).cast("double"), col("rnk")))
          .cast("double"), 6).as("dcg"))
      val idcg = ideal.join(rel, Seq("doc_id"))
        .agg(round(sum(dcgTerm(col("rel").cast("double"), col("rnk")))
          .cast("double"), 6).as("idcg"))
      dcg.crossJoin(broadcast(idcg))
        .select(lit(10).as("k"), col("dcg"), col("idcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
    },

    // ---- IR13: mean reciprocal rank over a query batch ---------------------
    // ir11 grades ONE ranking with NDCG; MRR is the multi-query eval a
    // search pipeline actually tracks: for each of the 5 highest-df terms
    // as a single-term query, the reciprocal rank of the FIRST strongly-
    // relevant doc (tf >= 2), averaged. First-relevant rank is computed in
    // count space — 1 + |docs strictly ahead of the best relevant doc| —
    // against the per-query best-relevant row, so there is no global
    // window and no per-query sort; scores stay decimal-frozen so the
    // ahead-count compares exactly in both engines.
    QueryDef(
      "ir13_mrr_eval",
      "MRR@all over 5 single-term queries (BM25 scores, relevant = tf>=2): first-relevant rank via count-space ahead-counts, per-query RR rows + the batch MRR; a term with no relevant doc keeps its row (first_rank NULL) and counts as RR=0 in the mean — the standard convention",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        q5 AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 5),
        scored AS (
          SELECT tf.w, tf.doc_id, tf.tf,
                 CAST(round( ln((CAST(n.n AS DOUBLE) - q.df + 0.5)/(q.df + 0.5) + 1)
                      * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9)
                      AS DECIMAL(28,9)) AS sc
          FROM tf JOIN q5 q ON tf.w = q.w JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
        ),
        best AS (
          SELECT w, max(sc) AS bs FROM scored WHERE tf >= 2 GROUP BY w
        ),
        bestrow AS (
          SELECT s.w, b.bs, min(s.doc_id) AS bid
          FROM scored s JOIN best b ON s.w = b.w AND s.sc = b.bs AND s.tf >= 2
          GROUP BY s.w, b.bs
        ),
        ranked AS (
          SELECT s.w,
                 CASE WHEN max(b.bs) IS NULL THEN NULL
                      ELSE CAST(1 + count(*) FILTER (WHERE s.sc > b.bs
                        OR (s.sc = b.bs AND s.doc_id < b.bid)) AS BIGINT) END AS first_rank,
                 CAST(sum(CASE WHEN s.tf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
          FROM scored s LEFT JOIN bestrow b ON s.w = b.w
          GROUP BY s.w
        ),
        mrr AS (
          SELECT round(CAST(sum(COALESCE(CAST(round(1.0 / first_rank, 9) AS DECIMAL(28,9)), 0))
                       AS DOUBLE) / count(*), 6) AS mrr
          FROM ranked
        )
        SELECT r.w AS query_term, r.n_rel, r.first_rank,
               COALESCE(round(1.0 / r.first_rank, 6), 0.0) AS rr, m.mrr
        FROM ranked r CROSS JOIN mrr m
      """)) { (s, dir) =>
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf)
      val q5 = Bm25.topTerms(Bm25.docFreqs(tf), 5)
      val scored = Bm25.contributions(tf, q5, dl,
          Seq(col("w"), col("doc_id"), col("tf")), "sc")
        .cache()
      val best = scored.filter(col("tf") >= 2)
        .groupBy(col("w")).agg(max(col("sc")).as("bs"))
      val bestrow = scored.filter(col("tf") >= 2).join(best, Seq("w"))
        .filter(col("sc") === col("bs"))
        .groupBy(col("w"), col("bs")).agg(min(col("doc_id")).as("bid"))
      // LEFT join: a query term with zero relevant docs keeps its row with
      // first_rank NULL and contributes RR = 0 to the MRR denominator —
      // the standard convention (the prior inner join silently dropped
      // such terms, inflating MRR)
      val ranked = scored.join(broadcast(bestrow), Seq("w"), "left")
        .groupBy(col("w"))
        .agg((lit(1) + sum(when(col("sc") > col("bs") ||
            (col("sc") === col("bs") && col("doc_id") < col("bid")), 1)
            .otherwise(0))).cast("long").as("fr_raw"),
          sum(when(col("tf") >= 2, 1).otherwise(0)).cast("long").as("n_rel"),
          max(col("bs")).as("bs_any"))
        .select(col("w"), col("n_rel"),
          when(col("bs_any").isNull, lit(null))
            .otherwise(col("fr_raw")).cast("long").as("first_rank"))
      val mrr = ranked.agg(
        round(sum(coalesce(round(lit(1.0) / col("first_rank"), 9)
            .cast("decimal(28,9)"), lit(0).cast("decimal(28,9)")))
          .cast("double") / count(lit(1)), 6).as("mrr"))
      ranked.crossJoin(broadcast(mrr))
        .select(col("w").as("query_term"), col("n_rel"), col("first_rank"),
          coalesce(round(lit(1.0) / col("first_rank"), 6), lit(0.0)).as("rr"),
          col("mrr"))
    },

    // ---- IR14: chunk-level vs doc-level retrieval agreement ----------------
    // The RAG design question dd83's chunker raises: does retrieving over
    // chunks surface the same documents as retrieving over whole docs?
    // Chunk side: top-10 size-8/stride-6 chunks by integer query-term hit
    // count (exact — no float anywhere); doc side: ir2's BM25 top-10.
    // Report the parent-doc overlap. Both cuts are TakeOrdered; the
    // overlap join is two ≤10-row broadcasts — stage cost independent of
    // corpus size, like ir5's reranker.
    QueryDef(
      "ir14_chunk_retrieval",
      "Chunk-retrieval agreement: top-10 chunks by integer term hits vs BM25 doc top-10 — parent-doc overlap + chunk-recall, 1-row result",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        qterms AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 3),
        doc_score AS (
          SELECT tf.doc_id, round(CAST(sum(
            CAST(round( ln((CAST(n.n AS DOUBLE) - q.df + 0.5)/(q.df + 0.5) + 1)
                 * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9)
                 AS DECIMAL(28,9))) AS DOUBLE), 6) AS bm25
          FROM tf JOIN qterms q ON tf.w = q.w JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
          GROUP BY tf.doc_id
        ),
        doc_top AS (SELECT doc_id FROM doc_score ORDER BY bm25 DESC, doc_id LIMIT 10),
        chunks AS (
          SELECT doc_id, CAST((st - 1) / 6 AS BIGINT) AS chunk_idx,
                 arr[st:st+7] AS carr
          FROM (SELECT doc_id, arr, unnest([i for i in range(1, len(arr)+1, 6)]) AS st
                FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
                      WHERE len(string_split(text, ' ')) >= 1))
        ),
        chits AS (
          SELECT c.doc_id, c.chunk_idx, CAST(count(*) AS BIGINT) AS hits
          FROM (SELECT doc_id, chunk_idx, unnest(carr) AS w FROM chunks) c
          JOIN qterms q ON c.w = q.w
          GROUP BY c.doc_id, c.chunk_idx
        ),
        chunk_top AS (
          SELECT doc_id, chunk_idx FROM chits
          ORDER BY hits DESC, doc_id, chunk_idx LIMIT 10
        ),
        parents AS (SELECT DISTINCT doc_id FROM chunk_top)
        SELECT 10 AS k,
               (SELECT CAST(count(*) AS BIGINT) FROM parents) AS n_chunk_parents,
               (SELECT CAST(count(*) AS BIGINT) FROM doc_top) AS n_doc_top,
               (SELECT CAST(count(*) AS BIGINT)
                FROM parents p JOIN doc_top d ON p.doc_id = d.doc_id) AS n_overlap,
               round((SELECT count(*) FROM parents p JOIN doc_top d ON p.doc_id = d.doc_id)
                     / CAST((SELECT count(*) FROM doc_top) AS DOUBLE), 6) AS chunk_recall
      """)) { (s, dir) =>
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf)
      val qterms = Bm25.topTerms(Bm25.docFreqs(tf), 3)
      val docTop = Bm25.docScores(Bm25.contributions(tf, qterms, dl), "bm25")
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .select(col("doc_id"))
      val chunkWords = Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id")), 1)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(arr), 6),
             i -> struct(cast((i - 1) / 6 as long) as chunk_idx,
                         slice(arr, i, 8) as carr))""")).as("ch"))
        .select(col("doc_id"), col("ch.chunk_idx"), explode(col("ch.carr")).as("w"))
      val chunkTop = chunkWords
        .join(broadcast(qterms.select(col("w"))), Seq("w"))
        .groupBy(col("doc_id"), col("chunk_idx"))
        .agg(count(lit(1)).as("hits"))
        .orderBy(col("hits").desc, col("doc_id"), col("chunk_idx")).limit(10)
      val parents = chunkTop.select(col("doc_id")).distinct()
      val np = parents.agg(count(lit(1)).cast("long").as("n_chunk_parents"))
      val nd = docTop.agg(count(lit(1)).cast("long").as("n_doc_top"))
      val ov = parents.join(docTop, Seq("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_overlap"))
      np.crossJoin(broadcast(nd)).crossJoin(broadcast(ov))
        .select(lit(10).as("k"), col("n_chunk_parents"), col("n_doc_top"),
          col("n_overlap"),
          round(col("n_overlap") / col("n_doc_top").cast("double"), 6)
            .as("chunk_recall"))
    },

    // ---- E8: blocking-scheme quality evaluation ---------------------------
    QueryDef(
      "e8_blocking_eval",
      "ER blocking audit (Christen's reduction ratio + pair completeness): ground truth = exact-bag duplicate pairs, candidate scheme = (lang, n_chars div 100) blocks. EVERY pair count folds from group sizes as C(c,2) — truth, candidate, and hit pairs each cost one groupBy; no pair is ever materialized, which is why the audit itself runs at corpus scale",
      Some("""
        WITH keyed AS (
          SELECT doc_id, lang, CAST(n_chars // 100 AS BIGINT) AS cb,
                 md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS k
          FROM documents
        ),
        truth AS (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) AS true_pairs
                  FROM (SELECT k, CAST(count(*) AS BIGINT) AS c FROM keyed GROUP BY k)),
        cand AS (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) AS cand_pairs
                 FROM (SELECT lang, cb, CAST(count(*) AS BIGINT) AS c FROM keyed GROUP BY lang, cb)),
        hit AS (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) AS hit_pairs
                FROM (SELECT k, lang, cb, CAST(count(*) AS BIGINT) AS c FROM keyed GROUP BY k, lang, cb)),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keyed)
        SELECT n.n AS n_docs, true_pairs, cand_pairs, hit_pairs,
               round(1 - cand_pairs / CAST(n.n*(n.n-1)//2 AS DOUBLE), 6) AS reduction_ratio,
               round(hit_pairs / CAST(true_pairs AS DOUBLE), 6) AS pair_completeness
        FROM n CROSS JOIN truth CROSS JOIN cand CROSS JOIN hit
      """)) { (s, dir) =>
      // The eval that tells you whether e2-style blocking is SAFE before
      // you pay for it: RR prices the candidate-set saving, PC prices the
      // recall loss (a true pair spanning two blocks is a miss). One doc
      // scan feeds all three count-of-pairs aggregates (cached); the
      // C(c,2) identity keeps everything in count-space — the same trick
      // dd37 uses for the dedup confusion matrix.
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          (col("n_chars") / 100).cast("long").as("cb"), Text.bagKey.as("k"))
        .cache()
      def pairs(grouped: DataFrame, out: String): DataFrame =
        grouped.agg(sum(expr("c*(c-1) div 2")).as(out))
      val truth = pairs(keyed.groupBy(col("k")).agg(count(lit(1)).as("c")), "true_pairs")
      val cand = pairs(keyed.groupBy(col("lang"), col("cb")).agg(count(lit(1)).as("c")),
        "cand_pairs")
      val hit = pairs(keyed.groupBy(col("k"), col("lang"), col("cb"))
        .agg(count(lit(1)).as("c")), "hit_pairs")
      val nd = keyed.agg(count(lit(1)).as("n"))
      nd.crossJoin(broadcast(truth)).crossJoin(broadcast(cand)).crossJoin(broadcast(hit))
        .select(col("n").as("n_docs"), col("true_pairs"), col("cand_pairs"), col("hit_pairs"),
          round(lit(1) - col("cand_pairs") /
            expr("n*(n-1) div 2").cast("double"), 6).as("reduction_ratio"),
          round(col("hit_pairs") / col("true_pairs").cast("double"), 6).as("pair_completeness"))
    },

    // ---- W28: day-of-week seasonal baseline + residual anomalies ----------
    QueryDef(
      "w28_seasonal_residuals",
      "Seasonal-naive decomposition: per (event_type, day-of-week) mean daily value as the baseline, top-3 absolute residual days per type as the anomalies — the dual of w14's trailing z-score (calendar profile, not rolling history). Day-grain pre-agg collapses the log first; the profile is type x 7 rows broadcast back; the top-3 cut is a type-partitioned window",
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value,2) AS DECIMAL(18,2))) AS DOUBLE) AS v
          FROM events GROUP BY 1,2
        ),
        prof AS (
          SELECT event_type, dayofweek(d) AS dow,
                 round(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE)/count(*), 6) AS dow_mean
          FROM daily GROUP BY 1,2
        ),
        resid AS (
          SELECT d.event_type, d.d, d.v, p.dow_mean,
                 round(d.v - p.dow_mean, 6) AS residual,
                 ROW_NUMBER() OVER (PARTITION BY d.event_type
                   ORDER BY abs(round(d.v - p.dow_mean, 6)) DESC, d.d) AS rn
          FROM daily d JOIN prof p ON d.event_type = p.event_type AND dayofweek(d.d) = p.dow
        )
        SELECT event_type, CAST(d AS TIMESTAMP) AS day, round(v,6) AS daily_value,
               dow_mean, residual
        FROM resid WHERE rn <= 3 ORDER BY event_type, day
      """)) { (s, dir) =>
      // Parity note: Spark and DuckDB number day-of-week differently, but
      // the dow value never leaves the query — it only PARTITIONS days,
      // and any consistent numbering induces the identical partition, so
      // the join and the output agree without aligning the numberings.
      // Daily values freeze to DECIMAL(18,2) (w14's recipe) so the
      // day-grain sums are order-free in both engines.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(round(col("value"), 2).cast("decimal(18,2)")).cast("double").as("v"))
        .cache()
      val prof = daily
        .groupBy(col("event_type").as("et"), dayofweek(col("d")).as("dow"))
        .agg(round(sum(col("v").cast("decimal(18,2)")).cast("double") /
          count(lit(1)), 6).as("dow_mean"))
      val resid = daily
        .join(prof, col("event_type") === col("et") &&
          dayofweek(col("d")) === col("dow"))
        .select(col("event_type"), col("d"), col("v"), col("dow_mean"),
          round(col("v") - col("dow_mean"), 6).as("residual"))
      val w = Window.partitionBy("event_type")
        .orderBy(abs(col("residual")).desc, col("d"))
      resid.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("event_type"), col("d").cast("timestamp").as("day"),
          round(col("v"), 6).as("daily_value"), col("dow_mean"), col("residual"))
        .orderBy(col("event_type"), col("day"))
    },

    // ---- E10: B-cubed clustering evaluation -------------------------------
    QueryDef(
      "e10_bcubed_eval",
      "B-cubed precision/recall/F1 (Bagga & Baldwin '98, the ER-standard extrinsic clustering metric) of a 3-plane sign-LSH bucketing against the embeddings' ground-truth labels — every per-item average folds from (cluster, label) CELL counts (sum n_cl^2/n_c terms), so the eval is count-space like e8: no item pair is ever materialized. The +-1 projection matrix is md5-seeded Scala literals embedded IDENTICALLY in the plan and the oracle",
      Some(SelectOpsSql.bcubedOracle)) { (s, dir) =>
      // B3: P = (1/N) sum_cells n_cl^2/n_c, R = (1/N) sum_cells n_cl^2/n_l
      // — the per-item definition collapses to cell counts because every
      // item in a (cluster, label) cell has the same precision/recall.
      // The bucketing under eval is deliberately the cheap one (3 sign
      // bits); the metric exposes how weak it is against the labels —
      // that exposure is the point of an extrinsic eval.
      import SelectOpsSql._
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      def plane(p: Int): Column =
        dot_native(col("v"), array(lshSigns(p).map(s => lit(s.toDouble)): _*))
      val bucketed = vecs.select(col("label"),
        (when(plane(0) >= 0, 4).otherwise(0) +
          when(plane(1) >= 0, 2).otherwise(0) +
          when(plane(2) >= 0, 1).otherwise(0)).as("bucket"))
      val cells = bucketed.groupBy(col("bucket"), col("label"))
        .agg(count(lit(1)).as("n_cl")).cache()
      val cl = cells.groupBy(col("bucket")).agg(sum(col("n_cl")).as("n_c"))
      val lb = cells.groupBy(col("label")).agg(sum(col("n_cl")).as("n_l"))
      val tot = cells.agg(sum(col("n_cl")).as("n"))
      val terms = cells.join(cl, Seq("bucket")).join(lb, Seq("label"))
        .select(
          round(col("n_cl").cast("double") * col("n_cl") / col("n_c"), 9)
            .cast("decimal(28,9)").as("pterm"),
          round(col("n_cl").cast("double") * col("n_cl") / col("n_l"), 9)
            .cast("decimal(28,9)").as("rterm"))
      val agg = terms.agg(sum(col("pterm")).as("sp"), sum(col("rterm")).as("sr"))
        .crossJoin(broadcast(tot))
      val p = col("sp").cast("double") / col("n")
      val r = col("sr").cast("double") / col("n")
      agg.select(col("n").as("n_items"),
        round(p, 6).as("b3_precision"), round(r, 6).as("b3_recall"),
        round(lit(2) * p * r / (p + r), 6).as("b3_f1"))
    },

    // ---- IR12: embedding-space hard negatives -----------------------------
    QueryDef(
      "ir12_dense_negatives",
      "Dense hard-negative mining, the embedding dual of ir9's BM25 version: per query vector its top-2 cosine neighbors with a DIFFERENT ground-truth label — near in embedding space but semantically wrong, the pairs a contrastive reranker trains hardest on. Query set broadcast; the rank window partitions per query",
      Some("""
        WITH vecs AS (
          SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                       list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS norm
          FROM embeddings
        ),
        q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, norm AS qn
              FROM vecs WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.q_id, c.vec_id AS neg_id,
                 round(list_dot_product(q.qv, c.v)/(q.qn*c.norm), 6) AS cos
          FROM q JOIN vecs c ON c.label <> q.q_label
        )
        SELECT q_id, neg_id, cos FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neg_id) AS rn
          FROM scored
        ) WHERE rn <= 2
      """)) { (s, dir) =>
      // e5's broadcast-query brute shape + the label-exclusion predicate;
      // at real corpus scale the scoring side swaps for e5's LSH/IVF
      // candidates — the exclusion predicate is the part this op adds.
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("norm", sqrt(dot_native(col("v"), col("v"))))
      val q = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("norm").as("qn"))
      val scored = vecs.crossJoin(broadcast(q))
        .filter(col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id").as("neg_id"),
          round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neg_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .select(col("q_id"), col("neg_id"), col("cos"))
    },

    // ---- W30: Kaplan-Meier time-to-conversion ------------------------------
    QueryDef(
      "w30_kaplan_meier",
      "Kaplan-Meier survival curve for time-to-first-purchase (the 1958 estimator product analytics calls a conversion curve, with CENSORING done right — users who never purchase contribute risk time instead of being dropped): per-user first-activity -> first-purchase days, day-grain event/censor counts, at-risk and cumulative-product via bounded inequality joins over the <=31-day relation — never a global window; the product runs as exp of a decimal-frozen log sum, with an explicit zero-factor flag so S(t) hits exact 0 instead of exp(-inf)",
      Some("""
        WITH users AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS first_d, max(CAST(ts AS DATE)) AS last_d,
                 min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS first_p
          FROM events GROUP BY user_id
        ),
        lived AS (
          SELECT user_id,
                 CASE WHEN first_p IS NOT NULL THEN date_diff('day', first_d, first_p)
                      ELSE date_diff('day', first_d, last_d) END AS t,
                 CASE WHEN first_p IS NOT NULL THEN 1 ELSE 0 END AS ev
          FROM users
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lived),
        byt AS (
          SELECT t, CAST(sum(ev) AS BIGINT) AS d, CAST(sum(1-ev) AS BIGINT) AS c
          FROM lived GROUP BY t
        ),
        risk AS (
          SELECT a.t, a.d, a.c,
                 tot.n - COALESCE(CAST(sum(b.d + b.c) AS BIGINT), 0) AS n_risk
          FROM byt a LEFT JOIN byt b ON b.t < a.t CROSS JOIN tot
          GROUP BY a.t, a.d, a.c, tot.n
        ),
        factors AS (
          SELECT t, d, c, n_risk, round(1.0 - d/CAST(n_risk AS DOUBLE), 9) AS f
          FROM risk
        )
        SELECT CAST(a.t AS BIGINT) AS t_days, a.n_risk, a.d AS converted, a.c AS censored,
               CASE WHEN min(b.f) <= 0 THEN 0.0
                    ELSE round(exp(CAST(sum(CAST(round(ln(CASE WHEN b.f > 0 THEN b.f ELSE 1 END), 9) AS DECIMAL(28,9))) AS DOUBLE)), 6)
               END AS survival
        FROM factors a JOIN factors b ON b.t <= a.t
        GROUP BY a.t, a.d, a.c, a.n_risk
        ORDER BY t_days
      """)) { (s, dir) =>
      // The scale shape: users collapse to ONE row each (user-keyed agg),
      // then everything is day-grain (<=31 rows) — the at-risk prefix and
      // the KM product both ride broadcast inequality self-joins on that
      // tiny relation, so no step depends on the event-log size beyond
      // the first aggregation.
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_d"),
          max(to_date(col("ts"))).as("last_d"),
          min(when(col("event_type") === "purchase", to_date(col("ts")))).as("first_p"))
      val lived = users.select(
        when(col("first_p").isNotNull, datediff(col("first_p"), col("first_d")))
          .otherwise(datediff(col("last_d"), col("first_d"))).as("t"),
        when(col("first_p").isNotNull, 1L).otherwise(0L).as("ev"))
      val tot = lived.agg(count(lit(1)).as("n"))
      val byt = lived.groupBy(col("t"))
        .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
        .cache()
      val prior = byt.select(col("t").as("bt"), (col("d") + col("c")).as("bdc"))
      val risk = byt.join(broadcast(prior), col("bt") < col("t"), "left")
        .groupBy(col("t"), col("d"), col("c"))
        .agg(coalesce(sum(col("bdc")), lit(0L)).as("before"))
        .crossJoin(broadcast(tot))
        .select(col("t"), col("d"), col("c"), (col("n") - col("before")).as("n_risk"))
      val factors = risk.select(col("t"), col("d"), col("c"), col("n_risk"),
        round(lit(1.0) - col("d") / col("n_risk").cast("double"), 9).as("f"))
      val pref = factors.select(col("t").as("bt"), col("f").as("bf"))
      factors.join(broadcast(pref), col("bt") <= col("t"))
        .groupBy(col("t"), col("d"), col("c"), col("n_risk"))
        .agg(min(col("bf")).as("minf"),
          sum(round(log(when(col("bf") > 0, col("bf")).otherwise(1.0)), 9)
            .cast("decimal(28,9)")).as("sl"))
        .select(col("t").cast("long").as("t_days"), col("n_risk"),
          col("d").as("converted"), col("c").as("censored"),
          when(col("minf") <= 0, lit(0.0))
            .otherwise(round(exp(col("sl").cast("double")), 6)).as("survival"))
        .orderBy(col("t_days"))
    },

    // ---- DD81: language-ID evaluation --------------------------------------
    QueryDef(
      "dd81_langid_eval",
      "Per-class precision/recall for dd7's n-gram language identifier against the true lang labels — the confusion-matrix rollup every classifier in the curation stack owes its users (and it honestly exposes how weak a 3-token profile is on a 31-word shared vocabulary). Confusion cells are one (actual, predicted) groupBy; class totals fold from the cells",
      Some("""
        WITH tokd AS (
          SELECT DISTINCT d.doc_id, d.lang, t.w
          FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(w)
        ),
        freq AS (SELECT lang, w, COUNT(*) AS n FROM tokd GROUP BY lang, w),
        profile AS (
          SELECT lang AS p_lang, w FROM (
            SELECT lang, w, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rn FROM freq
          ) WHERE rn <= 3
        ),
        hits AS (
          SELECT t.doc_id, p.p_lang, COUNT(*) AS score
          FROM tokd t JOIN profile p ON t.w = p.w GROUP BY t.doc_id, p.p_lang
        ),
        pred AS (
          SELECT h.doc_id, d.lang AS actual, h.p_lang AS predicted
          FROM (SELECT doc_id, p_lang,
                  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rn
                FROM hits) h JOIN documents d ON h.doc_id = d.doc_id
          WHERE h.rn = 1
        ),
        cells AS (SELECT actual, predicted, CAST(count(*) AS BIGINT) AS c FROM pred GROUP BY 1,2),
        act AS (SELECT actual, CAST(sum(c) AS BIGINT) AS n_actual FROM cells GROUP BY 1),
        prd AS (SELECT predicted, CAST(sum(c) AS BIGINT) AS n_predicted FROM cells GROUP BY 1)
        SELECT a.actual AS lang, a.n_actual,
               COALESCE(p.n_predicted, 0) AS n_predicted,
               COALESCE(tp.c, 0) AS tp,
               round(COALESCE(tp.c, 0) / CAST(NULLIF(COALESCE(p.n_predicted,0),0) AS DOUBLE), 6) AS precision,
               round(COALESCE(tp.c, 0) / CAST(a.n_actual AS DOUBLE), 6) AS recall
        FROM act a
        LEFT JOIN prd p ON a.actual = p.predicted
        LEFT JOIN cells tp ON tp.actual = a.actual AND tp.predicted = a.actual
        ORDER BY a.actual
      """)) { (s, dir) =>
      // dd7's exact prediction pipeline (one shared tokd scan), then the
      // eval is confusion-cell count algebra: class precision = tp over
      // the PREDICTED column total, recall = tp over the ACTUAL row
      // total; NULLIF guards classes the model never predicts.
      val tokd = Text.tokenRows(t(s, dir, "documents"), Seq(col("doc_id"), col("lang")))
        .distinct().cache()
      val freq = tokd.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy("lang").orderBy(col("n").desc, col("w"))
      val profile = freq.withColumn("rn", row_number().over(wp)).filter(col("rn") <= 3)
        .select(col("lang").as("p_lang"), col("w"))
      val hits = tokd.join(profile, Seq("w"))
        .groupBy(col("doc_id"), col("p_lang")).agg(count(lit(1)).as("score"))
      val wd = Window.partitionBy("doc_id").orderBy(col("score").desc, col("p_lang"))
      val pred = hits.withColumn("rn", row_number().over(wd)).filter(col("rn") === 1)
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang").as("actual")),
          Seq("doc_id"))
        .select(col("actual"), col("p_lang").as("predicted"))
      val cells = pred.groupBy(col("actual"), col("predicted"))
        .agg(count(lit(1)).as("c")).cache()
      val act = cells.groupBy(col("actual")).agg(sum(col("c")).as("n_actual"))
      val prd = cells.groupBy(col("predicted")).agg(sum(col("c")).as("n_predicted"))
      val tp = cells.filter(col("actual") === col("predicted"))
        .select(col("actual").as("la"), col("c").as("tp"))
      act.join(prd, col("actual") === col("predicted"), "left")
        .join(tp, col("actual") === col("la"), "left")
        .select(col("actual").as("lang"), col("n_actual"),
          coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          round(coalesce(col("tp"), lit(0L)) /
            nullif(coalesce(col("n_predicted"), lit(0L)), lit(0L)).cast("double"), 6)
            .as("precision"),
          round(coalesce(col("tp"), lit(0L)) / col("n_actual").cast("double"), 6)
            .as("recall"))
        .orderBy(col("lang"))
    },

    // ---- E13: Adjusted Rand Index in count space ---------------------------
    // The third extrinsic clustering metric alongside e10's B-cubed and
    // dd37's pairwise dedup eval: Hubert & Arabie's chance-corrected ARI,
    // evaluating the sorted-word-bag clustering against the planted
    // near-dup truth (base doc + its stripped variant share doc_id %
    // 10000). Every term of the formula folds from contingency-cell
    // counts — C(n,2) sums over cells, row totals, column totals — so no
    // item pair is ever materialized and the whole eval is three
    // groupBys + a 1-row finalizer.
    QueryDef(
      "e13_adjusted_rand",
      "Adjusted Rand Index of the word-bag clustering vs planted near-dup truth — pure count-space contingency algebra, 1-row result",
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 10000 AS doc_id, regexp_replace(text, '^(\w+ ){3}', '') AS text
          FROM documents WHERE doc_id % 5 = 0
        ),
        asg AS (
          SELECT doc_id % 10000 AS truth,
                 md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS pred
          FROM corpus
        ),
        cells AS (SELECT truth, pred, CAST(count(*) AS BIGINT) AS c FROM asg GROUP BY 1, 2),
        rows_ AS (SELECT truth, CAST(sum(c) AS BIGINT) AS a FROM cells GROUP BY 1),
        cols_ AS (SELECT pred, CAST(sum(c) AS BIGINT) AS b FROM cells GROUP BY 1),
        s AS (
          SELECT (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) FROM cells) AS idx,
                 (SELECT CAST(sum(a * (a - 1) // 2) AS BIGINT) FROM rows_) AS ra,
                 (SELECT CAST(sum(b * (b - 1) // 2) AS BIGINT) FROM cols_) AS cb,
                 (SELECT CAST(count(*) AS BIGINT) FROM asg) AS n
        )
        SELECT n, idx AS pairs_agree, ra AS pairs_truth, cb AS pairs_pred,
               round((idx - ra * cb / (n * (n - 1) / 2.0)) /
                     ((ra + cb) / 2.0 - ra * cb / (n * (n - 1) / 2.0)), 6) AS ari
        FROM s
      """)) { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = base.unionByName(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          regexp_replace(col("text"), "^(\\w+ ){3}", "").as("text")))
      val asg = corpus.select((col("doc_id") % 10000).as("truth"), Text.bagKey.as("pred"))
      val cells = asg.groupBy(col("truth"), col("pred"))
        .agg(count(lit(1)).as("c")).cache()
      def comb(c: Column): Column = (c * (c - 1) / 2).cast("long")
      val idx = cells.agg(sum(comb(col("c"))).cast("long").as("idx"),
        sum(col("c")).cast("long").as("n"))
      val ra = cells.groupBy(col("truth")).agg(sum(col("c")).as("a"))
        .agg(sum(comb(col("a"))).cast("long").as("ra"))
      val cb = cells.groupBy(col("pred")).agg(sum(col("c")).as("b"))
        .agg(sum(comb(col("b"))).cast("long").as("cb"))
      idx.crossJoin(broadcast(ra)).crossJoin(broadcast(cb))
        .select(col("n"), col("idx").as("pairs_agree"),
          col("ra").as("pairs_truth"), col("cb").as("pairs_pred"),
          round((col("idx") - col("ra") * col("cb") /
              (col("n") * (col("n") - 1) / lit(2.0))) /
            ((col("ra") + col("cb")) / lit(2.0) - col("ra") * col("cb") /
              (col("n") * (col("n") - 1) / lit(2.0))), 6).as("ari"))
    },

    // ---- DD84: in-engine Naive Bayes language classifier -------------------
    // The trained counterpart to dd81's 3-token-profile heuristic: a
    // multinomial NB language identifier trained IN the engine on an 80/20
    // split (Laplace-smoothed token likelihoods + log priors), scored on
    // the held-out docs, reported as a confusion matrix. The model is
    // vocabulary×language bounded — at 100 TB it is still a broadcastable
    // relation (the same feature-LM shape as dd67's DSIR), and scoring is
    // test-tokens × 5 langs with one doc-keyed rollup. Log-likelihood
    // terms freeze to decimal(28,9) per token so the per-doc sums are
    // order-free; the sum re-casts to (28,9) BEFORE adding the prior
    // (the decimal-38 ceiling trap).
    QueryDef(
      "dd84_naive_bayes",
      "Multinomial Naive Bayes lang-id trained in-engine (train %5!=0, Laplace +1): argmax over decimal-frozen log scores on held-out docs → confusion matrix",
      Some("""
        WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
        test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
        ttok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM train),
        cwl AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM ttok GROUP BY 1, 2),
        tokl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tl FROM cwl GROUP BY 1),
        v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM cwl),
        pri AS (
          SELECT lang, CAST(round(ln(CAST(count(*) AS DOUBLE) /
                 (SELECT count(*) FROM train)), 9) AS DECIMAL(28,9)) AS lp
          FROM train GROUP BY lang
        ),
        stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM test),
        contrib AS (
          SELECT s.doc_id, t.lang,
                 CAST(round(ln((COALESCE(m.c, 0) + 1) / CAST(t.tl + v.v AS DOUBLE)), 9)
                      AS DECIMAL(28,9)) AS lc
          FROM stok s CROSS JOIN tokl t CROSS JOIN v
          LEFT JOIN cwl m ON m.lang = t.lang AND m.w = s.w
        ),
        scored AS (
          SELECT c.doc_id, c.lang,
                 CAST(sum(c.lc) AS DECIMAL(28,9)) + p.lp AS score
          FROM contrib c JOIN pri p ON c.lang = p.lang
          GROUP BY c.doc_id, c.lang, p.lp
        ),
        pred AS (
          SELECT doc_id, lang AS predicted FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
            FROM scored) WHERE rn = 1
        )
        SELECT d.lang AS actual, p.predicted, CAST(count(*) AS BIGINT) AS n
        FROM pred p JOIN test d ON p.doc_id = d.doc_id
        GROUP BY 1, 2
      """)) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val train = docs.filter(col("doc_id") % 5 =!= 0).cache()
      val test = docs.filter(col("doc_id") % 5 === 0)
      val cwl = Text.classCounts(train, "lang").cache()
      Text.naiveBayes(train, cwl, test, "lang", "predicted")
        .join(test.select(col("doc_id"), col("lang").as("actual")), Seq("doc_id"))
        .groupBy(col("actual"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- DD85: rule-battery distillation into a classifier -----------------
    // The CCNet/LLaMA-prep pattern: expensive quality RULES label a
    // training slice, a cheap classifier distills them, and the filter
    // ships the classifier. Labels = dd63's Gopher battery (pass all four
    // rules, integer cross-multiplied); model = binary multinomial NB
    // (dd84's machinery with a 2-class label); report = rule-vs-classifier
    // agreement cells on the held-out 20% — the fidelity check a distilled
    // filter owes its users before replacing the rules at corpus scale.
    QueryDef(
      "dd85_rule_distillation",
      "Distill the dd63 Gopher rule battery into an in-engine binary NB classifier (train %5!=0) and report rule-vs-classifier agreement cells on held-out docs",
      Some("""
        WITH lab AS (
          SELECT doc_id, text,
                 CASE WHEN nw BETWEEN 20 AND 80 AND nc >= 4 * nw AND nc <= 5 * nw
                           AND 10 * aw >= 7 * nw AND 10 * dw <= 3 * nw
                      THEN 1 ELSE 0 END AS y
          FROM (
            SELECT doc_id, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                   CAST(len(replace(text, ' ', '')) AS BIGINT) AS nc,
                   CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS aw,
                   CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '^[0-9]+$'))) AS BIGINT) AS dw
            FROM documents)
        ),
        train AS (SELECT * FROM lab WHERE doc_id % 5 <> 0),
        test AS (SELECT * FROM lab WHERE doc_id % 5 = 0),
        ttok AS (SELECT y, unnest(string_split(text, ' ')) AS w FROM train),
        cwl AS (SELECT y, w, CAST(count(*) AS BIGINT) AS c FROM ttok GROUP BY 1, 2),
        tokl AS (SELECT y, CAST(sum(c) AS BIGINT) AS tl FROM cwl GROUP BY 1),
        v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM cwl),
        pri AS (
          SELECT y, CAST(round(ln(CAST(count(*) AS DOUBLE) /
                 (SELECT count(*) FROM train)), 9) AS DECIMAL(28,9)) AS lp
          FROM train GROUP BY y
        ),
        stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM test),
        contrib AS (
          SELECT s.doc_id, t.y,
                 CAST(round(ln((COALESCE(m.c, 0) + 1) / CAST(t.tl + v.v AS DOUBLE)), 9)
                      AS DECIMAL(28,9)) AS lc
          FROM stok s CROSS JOIN tokl t CROSS JOIN v
          LEFT JOIN cwl m ON m.y = t.y AND m.w = s.w
        ),
        scored AS (
          SELECT c.doc_id, c.y,
                 CAST(sum(c.lc) AS DECIMAL(28,9)) + p.lp AS score
          FROM contrib c JOIN pri p ON c.y = p.y
          GROUP BY c.doc_id, c.y, p.lp
        ),
        pred AS (
          SELECT doc_id, y AS nb_label FROM (
            SELECT doc_id, y,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, y) AS rn
            FROM scored) WHERE rn = 1
        )
        SELECT t.y AS rule_label, p.nb_label, CAST(count(*) AS BIGINT) AS n
        FROM pred p JOIN test t ON p.doc_id = t.doc_id
        GROUP BY 1, 2
      """)) { (s, dir) =>
      val base = t(s, dir, "documents").select(
        Seq(col("doc_id"), col("text")) ++ Text.gopherSignals: _*)
      val lab = base.select(col("doc_id"), col("text"),
        when(Text.gopherPass, 1).otherwise(0).as("y"))
      val train = lab.filter(col("doc_id") % 5 =!= 0).cache()
      val test = lab.filter(col("doc_id") % 5 === 0)
      val cwl = Text.classCounts(train, "y").cache()
      Text.naiveBayes(train, cwl, test, "y", "nb_label")
        .join(test.select(col("doc_id"), col("y").as("rule_label")), Seq("doc_id"))
        .groupBy(col("rule_label"), col("nb_label"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- E11: Fellegi-Sunter m/u estimation --------------------------------
    QueryDef(
      "e11_fellegi_sunter",
      "Fellegi-Sunter m/u probabilities and log2 match weights (the 1969 framework every probabilistic record linker — Splink, dedupe.io — implements): for each comparison field, P(agree | match) vs P(agree | non-match) with Jeffreys +0.5 smoothing, truth = exact-bag pairs. EVERY probability folds from group sizes as C(c,2) — matched, field-agreeing, and matched-and-agreeing pair counts are three groupBys; no pair materialized (e8's count-space discipline)",
      Some("""
        WITH keyed AS (
          SELECT doc_id, lang, CAST(n_chars // 100 AS BIGINT) AS cb,
                 md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag
          FROM documents
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keyed),
        m AS (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) AS matched
              FROM (SELECT bag, CAST(count(*) AS BIGINT) AS c FROM keyed GROUP BY bag)),
        fields AS (
          SELECT 'lang' AS field,
            (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) FROM (SELECT lang, CAST(count(*) AS BIGINT) c FROM keyed GROUP BY 1)) AS agree,
            (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) FROM (SELECT bag, lang, CAST(count(*) AS BIGINT) c FROM keyed GROUP BY 1,2)) AS m_agree
          UNION ALL
          SELECT 'cb',
            (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) FROM (SELECT cb, CAST(count(*) AS BIGINT) c FROM keyed GROUP BY 1)),
            (SELECT CAST(sum(c*(c-1)//2) AS BIGINT) FROM (SELECT bag, cb, CAST(count(*) AS BIGINT) c FROM keyed GROUP BY 1,2))
        )
        SELECT field,
          round((m_agree + 0.5) / (m.matched + 1.0), 6) AS m_prob,
          round((agree - m_agree + 0.5) / (n.n*(n.n-1)//2 - m.matched + 1.0), 6) AS u_prob,
          round(log2(((m_agree + 0.5) / (m.matched + 1.0)) /
                     ((agree - m_agree + 0.5) / (n.n*(n.n-1)//2 - m.matched + 1.0))), 6) AS w_agree,
          round(log2((1 - (m_agree + 0.5) / (m.matched + 1.0)) /
                     (1 - (agree - m_agree + 0.5) / (n.n*(n.n-1)//2 - m.matched + 1.0))), 6) AS w_disagree
        FROM fields CROSS JOIN n CROSS JOIN m ORDER BY field
      """)) { (s, dir) =>
      // The weights PRICE each field for a linkage rule: on this corpus
      // cb (size bucket) earns ~+1.3 bits on agreement while lang is
      // worthless (~0) — exactly the tuning signal a cascade like e3
      // consumes. Jeffreys smoothing keeps the log finite when a field
      // perfectly agrees (or never) within matches.
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          (col("n_chars") / 100).cast("long").as("cb"), Text.bagKey.as("bag"))
        .cache()
      def pairs(df: DataFrame, out: String): DataFrame =
        df.agg(sum(expr("c*(c-1) div 2")).as(out))
      val n = keyed.agg(count(lit(1)).as("n"))
      val matched = pairs(keyed.groupBy(col("bag")).agg(count(lit(1)).as("c")), "matched")
      def fieldRow(name: String, fcol: String): DataFrame = {
        val agree = pairs(keyed.groupBy(col(fcol)).agg(count(lit(1)).as("c")), "agree")
        val mAgree = pairs(keyed.groupBy(col("bag"), col(fcol))
          .agg(count(lit(1)).as("c")), "m_agree")
        agree.crossJoin(broadcast(mAgree)).select(lit(name).as("field"),
          col("agree"), col("m_agree"))
      }
      val mP = (col("m_agree") + 0.5) / (col("matched") + 1.0)
      val uP = (col("agree") - col("m_agree") + 0.5) /
        (expr("n*(n-1) div 2") - col("matched") + 1.0)
      fieldRow("lang", "lang").unionByName(fieldRow("cb", "cb"))
        .crossJoin(broadcast(n)).crossJoin(broadcast(matched))
        .select(col("field"),
          round(mP, 6).as("m_prob"), round(uP, 6).as("u_prob"),
          round(log2(mP / uP), 6).as("w_agree"),
          round(log2((lit(1) - mP) / (lit(1) - uP)), 6).as("w_disagree"))
        .orderBy(col("field"))
    },

    // ---- A24: Poisson bootstrap confidence interval ------------------------
    QueryDef(
      "a24_bootstrap_ci",
      "Poisson bootstrap (Chamandy et al., Google '12 — THE uncertainty method for data too big to multinomial-resample): 100 deterministic resamples where each row's weight per resample is Poisson(1) drawn from an md5 inverse-CDF (integer thresholds, no float compare at the boundary); 95% CI + SE of mean customer balance (customer keeps the x100 md5 expansion linear, not order-table-sized). One narrow x100 expansion + a 100-group rollup; resample means rank via the bounded inequality join — no global sort",
      Some(SelectOpsSql.bootstrapOracle)) { (s, dir) =>
      // Poisson(1) approximates multinomial(n, 1/n) with INDEPENDENT
      // per-row draws — the property that makes the bootstrap one
      // map-side pass at any scale. Weights come from the md5 uniform
      // against cumulative-Poisson thresholds pre-scaled to 2^32 and
      // compared as INTEGERS (shared literals with the oracle). Weighted
      // sums stay in decimal: value freezes to (18,2), weight <= 6 is
      // (1,0), so every product and sum is exact and order-free.
      import SelectOpsSql._
      val x = t(s, dir, "customer")
        .select(col("c_custkey"), round(col("c_acctbal"), 2)
          .cast("decimal(18,2)").as("x"))
      // the ×100 resample expansion is the query's whole cost and sits
      // BEFORE its first exchange — fan the slim (key, x) rows out first
      // or a one-row-group input runs it on a single task (measured: one
      // 1.9 s task in a 2.4 s query). Size-gated: never fires at scale.
      val xw = graft.core.Fanout.bySize(s, x, dir, "customer")
      val expanded = xw.select(col("c_custkey"), col("x"),
        explode(expr("sequence(0, 99)")).as("r"))
        .withColumn("u", expr(
          "cast(conv(substring(md5(concat(cast(c_custkey as string), '#', cast(r as string))), 1, 8), 16, 10) as bigint)"))
        .withColumn("w", expr(poissonWeightSql("u")))
      val means = expanded.groupBy(col("r"))
        .agg((sum(col("w").cast("decimal(1,0)") * col("x")).cast("double") /
          sum(col("w"))).as("m"))
      // bounded rank join over the 100 resample means (ir10's shape)
      val ahead = means.select(col("m").as("bm"), col("r").as("br"))
      val ranked = means.join(broadcast(ahead),
          col("bm") < col("m") || (col("bm") === col("m") && col("br") < col("r")), "left")
        .groupBy(col("r"), col("m"))
        .agg((lit(1) + count(col("br"))).as("rk"))
      val lo = ranked.filter(col("rk") === 3).agg(min(col("m")).as("lo"))
      val hi = ranked.filter(col("rk") === 98).agg(min(col("m")).as("hi"))
      val stats = means.agg(count(lit(1)).as("n_resamples"),
        sum(round(col("m"), 9).cast("decimal(28,9)")).as("sm"),
        sum(round(col("m") * col("m"), 9).cast("decimal(28,9)")).as("sm2"))
      val est = x.agg((sum(col("x")).cast("double") / count(lit(1))).as("est"))
      stats.crossJoin(broadcast(est)).crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .select(col("n_resamples"),
          round(col("est"), 6).as("estimate"),
          round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"),
          round(sqrt((col("sm2").cast("double") -
            col("sm").cast("double") * col("sm") / col("n_resamples")) /
            (col("n_resamples") - 1)), 6).as("se"))
    },

    // ---- DD79: URL canonicalization ---------------------------------------
    QueryDef(
      "dd79_url_canonical",
      "URL canonicalization, the dedup step BEFORE web-corpus dedup (RFC 3986 §6 normalization + the tracker-param strip every crawl pipeline adds): lowercase scheme+host, strip default ports and fragments, drop utm_* params, sort surviving params, strip the trailing slash. Planted ground truth — 6 messy variants per canonical target — so the collapse is exact: 150 raw forms -> 25 canonical. One narrow codegen pass + a count fold; no shuffle touches the URLs themselves",
      Some("""
        WITH planted AS (
          SELECT doc_id,
            CASE (doc_id // 3) % 6
              WHEN 0 THEN 'https://shop.example.com/item' || CAST((doc_id // 3) % 25 AS VARCHAR) || '?b=2&a=1'
              WHEN 1 THEN 'HTTPS://SHOP.Example.COM:443/item' || CAST((doc_id // 3) % 25 AS VARCHAR) || '?a=1&b=2#frag'
              WHEN 2 THEN 'https://shop.example.com/item' || CAST((doc_id // 3) % 25 AS VARCHAR) || '/?utm_source=x&a=1&b=2'
              WHEN 3 THEN 'https://shop.example.com:443/item' || CAST((doc_id // 3) % 25 AS VARCHAR) || '?b=2&utm_campaign=y&a=1'
              WHEN 4 THEN 'https://shop.example.com/item' || CAST((doc_id // 3) % 25 AS VARCHAR) || '?a=1&b=2#sec2'
              ELSE        'https://shop.example.com/item' || CAST((doc_id // 3) % 25 AS VARCHAR) || '/?b=2&a=1'
            END AS url
          FROM documents WHERE doc_id % 3 = 0
        ),
        parts AS (
          SELECT doc_id, url,
            lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
            regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':(443|80)$', '') AS host,
            regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/$', '') AS path,
            regexp_extract(url, '\?([^#]*)', 1) AS query
          FROM planted
        ),
        canon AS (
          SELECT doc_id, url,
            scheme || '://' || host || path ||
            CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS curl
          FROM (SELECT *, array_to_string(list_sort(list_filter(string_split(query, '&'),
                  x -> NOT (x LIKE 'utm_%') AND x <> '')), '&') AS cq FROM parts)
        )
        SELECT CAST(count(*) AS BIGINT) AS n_urls,
               CAST(count(DISTINCT url) AS BIGINT) AS raw_distinct,
               CAST(count(DISTINCT curl) AS BIGINT) AS canon_distinct,
               round(1 - count(DISTINCT curl)/CAST(count(DISTINCT url) AS DOUBLE), 6) AS collapse_rate
        FROM canon
      """)) { (s, dir) =>
      // Canonicalization is pure per-row string algebra (codegen'd regexp
      // + higher-order param sort); the only aggregation is the 1-row
      // distinct-count fold, as set sizes: two count-distincts in one
      // aggregate plan an Expand whose group order varies between runs.
      // The rules are the conservative, semantics-preserving subset: path
      // CASE is kept (paths are case-sensitive), only the scheme/host lower.
      val plantedUrl = expr("""
        CASE (doc_id div 3) % 6
          WHEN 0 THEN concat('https://shop.example.com/item', CAST((doc_id div 3) % 25 AS STRING), '?b=2&a=1')
          WHEN 1 THEN concat('HTTPS://SHOP.Example.COM:443/item', CAST((doc_id div 3) % 25 AS STRING), '?a=1&b=2#frag')
          WHEN 2 THEN concat('https://shop.example.com/item', CAST((doc_id div 3) % 25 AS STRING), '/?utm_source=x&a=1&b=2')
          WHEN 3 THEN concat('https://shop.example.com:443/item', CAST((doc_id div 3) % 25 AS STRING), '?b=2&utm_campaign=y&a=1')
          WHEN 4 THEN concat('https://shop.example.com/item', CAST((doc_id div 3) % 25 AS STRING), '?a=1&b=2#sec2')
          ELSE        concat('https://shop.example.com/item', CAST((doc_id div 3) % 25 AS STRING), '/?b=2&a=1')
        END""")
      t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), plantedUrl.as("url"))
        .withColumn("scheme", lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)))
        .withColumn("host", regexp_replace(
          lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)), ":(443|80)$", ""))
        .withColumn("path", regexp_replace(
          regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/$", ""))
        .withColumn("query", regexp_extract(col("url"), "\\?([^#]*)", 1))
        .withColumn("cq", expr(
          "array_join(array_sort(filter(split(query, '&'), x -> NOT (x LIKE 'utm_%') AND x != '')), '&')"))
        .withColumn("curl", concat(col("scheme"), lit("://"), col("host"), col("path"),
          when(col("cq") =!= "", concat(lit("?"), col("cq"))).otherwise(lit(""))))
        .agg(count(lit(1)).as("n_urls"),
          size(collect_set(col("url"))).cast("long").as("raw_distinct"),
          size(collect_set(col("curl"))).cast("long").as("canon_distinct"))
        .select(col("n_urls"), col("raw_distinct"), col("canon_distinct"),
          round(lit(1) - col("canon_distinct") / col("raw_distinct").cast("double"), 6)
            .as("collapse_rate"))
    },

    // ---- DD80: model calibration curve ------------------------------------
    QueryDef(
      "dd80_calibration_curve",
      "Reliability diagram + per-bin Brier for dd77's model: predictions bucketed into FIXED-WIDTH tenths (floor(p*10) — map-side, no global quantile sort), per-bin count / mean predicted / observed rate / Brier. Mean-vs-observed per bin IS the calibration check; fixed bins keep the whole eval one narrow pass + a 10-row groupBy on top of the shared training pipeline",
      Some(SelectOpsSql.calibrationOracle)) { (s, dir) =>
      // Shares the exact training pipeline (logregFit) with dd77 — the
      // eval scores under the SAME beta2 the trainer reports, so the two
      // queries can never drift apart. Per-bin sums freeze round(9)
      // decimal (p, y, and squared error) so bin means are order-free.
      val (feats, beta2) = logregFit(s, dir)
      feats.crossJoin(broadcast(beta2))
        .withColumn("p", expr("1.0/(1.0 + exp(-(c0 + c1*x1 + c2*x2)))"))
        .withColumn("bin", least(floor(col("p") * 10), lit(9)).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          expr("sum(cast(round(p, 9) as decimal(28,9)))").as("sp"),
          expr("sum(cast(round(y, 9) as decimal(28,9)))").as("sy"),
          expr("sum(cast(round((p-y)*(p-y), 9) as decimal(28,9)))").as("se"))
        .select(col("bin"), col("n"),
          round(col("sp").cast("double") / col("n"), 6).as("mean_predicted"),
          round(col("sy").cast("double") / col("n"), 6).as("observed_rate"),
          round(col("se").cast("double") / col("n"), 6).as("brier"))
        .orderBy(col("bin"))
    },

    // ---- DD90: ROC AUC in count space -------------------------------------
    QueryDef(
      "dd90_roc_auc",
      "ROC AUC of dd77's model as the tie-corrected Mann-Whitney statistic over FIXED-WIDTH score bins (floor(p*1000) — map-side key, no global sort of scores): per-bin (pos, neg) counts, below-bin positives via a broadcast inequality self-join on the <=1000-row bin relation, AUC = sum(neg_b * (2*cumpos_b + pos_b)) / (2*P*N) in EXACT integer/decimal arithmetic — the single division at the end is the only float. Completes the model-eval family: dd77 trains, dd80 calibrates, this ranks",
      Some(SelectOpsSql.rocAucOracle)) { (s, dir) =>
      // Bins are tie groups: a pos in bin b counts 1 for every neg in a
      // strictly lower bin and 1/2 for each neg sharing its bin — the
      // textbook tie correction, kept integer by doubling both sides.
      // Products go through DECIMAL(38,0) so P*N stays exact past the
      // BIGINT range a 100 TB corpus would overflow.
      val (feats, beta2) = logregFit(s, dir)
      val cells = feats.crossJoin(broadcast(beta2))
        .withColumn("p", expr("1.0/(1.0 + exp(-(c0 + c1*x1 + c2*x2)))"))
        .groupBy(least(floor(col("p") * 1000), lit(999)).cast("long").as("bin"))
        .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("pos"),
          sum(when(col("y") === 1.0, 0L).otherwise(1L)).as("neg"))
        .cache()
      val cum = cells.as("a")
        .join(broadcast(cells.as("b")), col("b.bin") < col("a.bin"), "left")
        .groupBy(col("a.bin").as("bin"), col("a.pos").as("pos"), col("a.neg").as("neg"))
        .agg(coalesce(sum(col("b.neg")), lit(0L)).as("cumneg"))
      val tot = cells.agg(sum(col("pos")).as("np"), sum(col("neg")).as("nn"))
      val aucExpr = expr(
        "cast(sum(cast(pos as decimal(38,0)) * (2*cumneg + neg)) as double)" +
          " / cast(2 * cast(max(np) as decimal(38,0)) * max(nn) as double)")
      cum.crossJoin(broadcast(tot))
        .agg(max(col("np")).as("n_pos"), max(col("nn")).as("n_neg"),
          round(aucExpr, 6).as("auc"), round(aucExpr * 2 - 1, 6).as("gini"))
    },

    // ---- DD78: simhash Hamming-ball join ----------------------------------
    QueryDef(
      "dd78_simhash_join",
      "SimHash near-dup JOIN (Manku, Jain, Das Sarma WWW'07 — the Google crawl-dedup shape): 32-bit shingle simhash, pairs within Hamming distance 3 found by the pigeonhole chunk split — d<=3 over 4 8-bit chunks forces agreement on >=1 chunk, so candidates are a chunk-value equi-join (never all pairs) and the exact popcount verify runs only on them. Completes the family: dd4 builds signatures, this op JOINS on them",
      Some(SelectOpsSql.simhashJoinOracle)) { (s, dir) =>
      // Lossless by pigeonhole: 3 differing bits cannot touch all 4
      // chunks. Shingle-based (not dd4's unigram) hashes because the
      // ~31-word vocabulary makes unigram signatures near-collide
      // corpus-wide (dd60's lesson); the 3-gram space gives random pairs
      // Hamming ~16 so the d<=3 ball holds only real near-dups.
      val docs = Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id")), 3)
      val sh = docs.select(col("doc_id"), explode(Text.shingleSet(col("arr"))).as("s"))
      val hashed = sh.select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("h"))
      val voteExprs = (0 until 32).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"s$b"))
      val votes = hashed.groupBy(col("doc_id")).agg(voteExprs.head, voteExprs.tail: _*)
      val sigBits = (0 until 32).map(b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
      val sig = votes.select(col("doc_id"), sigBits.cast("long").as("sig"))
      val chunks = sig.select(col("doc_id"), col("sig"),
        explode(expr("sequence(0, 3)")).as("chunk_idx"))
        .withColumn("chunk", expr("(sig >> (8 * chunk_idx)) & 255"))
      val cand = chunks.as("a").join(chunks.as("b"),
          col("a.chunk_idx") === col("b.chunk_idx") &&
            col("a.chunk") === col("b.chunk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sig").as("sa"), col("b.sig").as("sb"))
        .distinct()
      cand.withColumn("hamming", expr("bit_count(sa ^ sb)"))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
    },

    // ---- DD77: in-engine logistic regression (2 Newton steps) -------------
    QueryDef(
      "dd77_logreg_train",
      "Distributed logistic-regression TRAINING inside the engine (the 'ML in pure SQL' pattern, ICDE'25 operator-fusion line): 2 Newton-Raphson steps on 3 features — each step is ONE narrow pass + a 9-sum aggregate (per-row terms round(9) decimal so the normal-equation sums are order-free), the 3x3 solve is a closed-form adjugate on the 1-row aggregate, coefficients broadcast back. Reports coefficients + training accuracy; per-step cost is a single map-reduce at any corpus size",
      Some(SelectOpsSql.logregOracle)) { (s, dir) =>
      // Same adjugate-solve expressions as the oracle (generated once in
      // SelectOpsSql.solve3 — pure arithmetic, dialect-free). Feature map:
      // x1 = ln(tokens), x2 = distinct-token ratio; label = lang='en'.
      // Newton from beta=0 gives A = S/4 (p=1/2), so step 1 multiplies
      // the plain X'X solve by 4.
      val (feats, beta2) = logregFit(s, dir)
      feats.crossJoin(broadcast(beta2))
        .agg(count(lit(1)).as("n"),
          sum(when(expr("(c0 + c1*x1 + c2*x2 >= 0) = (y = 1.0)"), 1L).otherwise(0L))
            .as("correct"),
          first(col("c0")).as("f0"), first(col("c1")).as("f1"), first(col("c2")).as("f2"))
        .select(col("n"),
          round(col("f0"), 6).as("b0"), round(col("f1"), 6).as("b1"),
          round(col("f2"), 6).as("b2"),
          round(col("correct") / col("n").cast("double"), 6).as("accuracy"))
    },

    // ---- DD76: margin-scored bitext mining --------------------------------
    QueryDef(
      "dd76_bitext_mine",
      "Cross-lingual pair mining with the margin criterion (Artetxe & Schwenk ACL'19, simplified absolute-margin k=4): for each English query vector, its best non-English neighbor scored by cos / mean(top-4 cos) — the ratio test that kills hubness false positives a raw cosine threshold ships. Query slice broadcast, per-query rank window; top-4 means freeze to decimal",
      Some("""
        WITH vecs AS (
          SELECT e.vec_id, d.lang, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
                 sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                       list_transform(e.embedding, x -> CAST(x AS DOUBLE)))) AS norm
          FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        ),
        q AS (SELECT * FROM vecs WHERE lang = 'en' AND vec_id % 20 = 0),
        cand AS (
          SELECT q.vec_id AS src_id, c.vec_id AS tgt_id,
                 round(list_dot_product(q.v, c.v)/(q.norm*c.norm), 6) AS cos
          FROM q JOIN vecs c ON c.lang <> 'en'
        ),
        knn AS (
          SELECT src_id, tgt_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rn
          FROM cand
        ),
        top4 AS (SELECT src_id, CAST(sum(CAST(round(cos, 9) AS DECIMAL(28,9))) AS DOUBLE)/count(*) AS avg4
                 FROM knn WHERE rn <= 4 GROUP BY src_id),
        margin AS (
          SELECT k.src_id, k.tgt_id, k.cos, round(k.cos / t.avg4, 6) AS margin
          FROM knn k JOIN top4 t ON k.src_id = t.src_id WHERE k.rn = 1
        )
        SELECT src_id, tgt_id, cos, margin FROM margin
      """)) { (s, dir) =>
      // vec_id = doc_id gives every vector a language; the margin
      // denominator is the query's OWN neighborhood density, so hub
      // vectors that are near everything score ~1 and drop out. Brute
      // scoring here (query slice broadcast); at corpus scale the
      // candidate side swaps for e5's LSH buckets — the margin arithmetic
      // is what this op adds.
      val vecs = t(s, dir, "embeddings")
        .join(t(s, dir, "documents").select(col("doc_id").as("vec_id"), col("lang")),
          Seq("vec_id"))
        .select(col("vec_id"), col("lang"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("norm", sqrt(dot_native(col("v"), col("v"))))
      val q = vecs.filter(col("lang") === "en" && col("vec_id") % 20 === 0)
        .select(col("vec_id").as("src_id"), col("v").as("qv"), col("norm").as("qn"))
      val cand = vecs.filter(col("lang") =!= "en").crossJoin(broadcast(q))
        .select(col("src_id"), col("vec_id").as("tgt_id"),
          round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
      val wr = Window.partitionBy("src_id").orderBy(col("cos").desc, col("tgt_id"))
      val knn = cand.withColumn("rn", row_number().over(wr)).filter(col("rn") <= 4).cache()
      // mean over the neighbors ACTUALLY retrieved (count, not a hard 4):
      // the Artetxe & Schwenk margin divides by k-as-retrieved, and a
      // query with <4 non-English candidates must not deflate its
      // neighborhood mean (which would inflate the margin)
      val top4 = knn.groupBy(col("src_id"))
        .agg((sum(round(col("cos"), 9).cast("decimal(28,9)")).cast("double") /
          count(lit(1))).as("avg4"))
      knn.filter(col("rn") === 1)
        .join(top4, Seq("src_id"))
        .select(col("src_id"), col("tgt_id"), col("cos"),
          round(col("cos") / col("avg4"), 6).as("margin"))
    },

    // ---- W29: click attribution with a time-bounded lookback --------------
    QueryDef(
      "w29_click_attribution",
      "Last-touch attribution: each purchase attributed to the latest click within a 3-day lookback, per user — ONE user-keyed window with a RANGE frame on epoch seconds (the calendar-bounded dual of w22's range frames); daily attribution-rate rollup. No join: the lookback rides the frame, so a hot user is one partition's sort, never a pair blowup",
      Some("""
        WITH ev AS (
          SELECT user_id, event_type, ts, epoch_us(ts) AS sec FROM events
          WHERE event_type IN ('click','purchase','view')
        ),
        w AS (
          SELECT user_id, event_type, ts, sec,
                 max(CASE WHEN event_type = 'click' THEN sec END)
                   OVER (PARTITION BY user_id ORDER BY sec
                         RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW) AS last_click_sec
          FROM ev
        )
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS purchases,
               CAST(sum(CASE WHEN last_click_sec IS NOT NULL AND last_click_sec < sec
                        THEN 1 ELSE 0 END) AS BIGINT) AS attributed,
               round(sum(CASE WHEN last_click_sec IS NOT NULL AND last_click_sec < sec
                         THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS attribution_rate
        FROM w WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY 1
      """)) { (s, dir) =>
      // Strictly-prior rule (last_click_sec < sec): a click at the exact
      // purchase instant does not claim it — deterministic on both
      // engines. INTEGER MICROSECONDS on both sides (unix_micros /
      // epoch_us): DuckDB's epoch() returns FRACTIONAL seconds while
      // Spark's unix_timestamp truncates, which shifted one borderline
      // click across the 3-day frame boundary at sf0.1.
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase", "view"))
        .select(col("user_id"), col("event_type"), col("ts"),
          unix_micros(col("ts")).as("sec"))
      val w = Window.partitionBy("user_id").orderBy(col("sec"))
        .rangeBetween(-259200000000L, 0L)
      val attributed = ev
        .withColumn("last_click_sec",
          max(when(col("event_type") === "click", col("sec"))).over(w))
        .filter(col("event_type") === "purchase")
      val hit = col("last_click_sec").isNotNull && col("last_click_sec") < col("sec")
      attributed
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("purchases"),
          sum(when(hit, 1L).otherwise(0L)).as("attributed"))
        .select(col("d").cast("timestamp").as("day"), col("purchases"), col("attributed"),
          round(col("attributed") / col("purchases").cast("double"), 6).as("attribution_rate"))
        .orderBy(col("day"))
    },

    // ---- DD74: Kneser-Ney smoothed LM scoring -----------------------------
    QueryDef(
      "dd74_kneser_ney",
      "Kneser-Ney bigram LM (D=0.75), the published standard dd30's Laplace approximates: absolute discounting plus the continuation-probability backoff (how many contexts a word FOLLOWS, not how often it occurs); per-doc mean bits. Every LM relation — pair counts, context totals, continuation counts, type count — is vocabulary-bounded, so the scoring join shuffles on a key set that stops growing long before the corpus does",
      Some("""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 2
        ),
        big AS (
          SELECT doc_id, b.prev AS prev, b.next AS next
          FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)-1),
                i -> struct_pack(prev := arr[i], next := arr[i+1]))) AS b FROM tok)
        ),
        pc AS (SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS c FROM big GROUP BY prev, next),
        pv AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cp, CAST(COUNT(*) AS BIGINT) AS n1v FROM pc GROUP BY prev),
        cw AS (SELECT next, CAST(COUNT(*) AS BIGINT) AS n1w FROM pc GROUP BY next),
        alltypes AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1all FROM pc),
        lm AS (
          SELECT pc.prev, pc.next,
                 CAST(round(-log2(
                   (greatest(pc.c - 0.75, 0) / pv.cp) +
                   (0.75 * pv.n1v / pv.cp) * (cw.n1w / CAST(a.n1all AS DOUBLE))
                 ), 9) AS DECIMAL(28,9)) AS cost
          FROM pc JOIN pv ON pc.prev = pv.prev JOIN cw ON pc.next = cw.next
          CROSS JOIN alltypes a
        )
        SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               round(CAST(SUM(l.cost) AS DOUBLE) / COUNT(*), 6) AS kn_bits
        FROM big b JOIN lm l ON b.prev = l.prev AND b.next = l.next
        GROUP BY b.doc_id
      """)) { (s, dir) =>
      // dd30's exact plan shape with the KN formula folded into the LM
      // table: P_KN(w|v) = max(c(v,w)-D, 0)/c(v) + D·N1+(v,·)/c(v) ·
      // N1+(·,w)/N1+(·,·). The continuation term is what distinguishes KN
      // — "york" is frequent but follows only "new", so its unigram
      // backoff weight collapses. Per-bigram cost freezes round(9) decimal
      // so doc sums are order-free.
      val docs = Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id")), 2)
      val bigrams = docs.select(col("doc_id"),
        explode(Text.bigrams(col("arr"), "prev", "next")).as("b"))
        .select(col("doc_id"), col("b.prev").as("prev"), col("b.next").as("next"))
      val pc = bigrams.groupBy(col("prev"), col("next"))
        .agg(count(lit(1)).as("c")).cache()
      val pv = pc.groupBy(col("prev"))
        .agg(sum(col("c")).as("cp"), count(lit(1)).as("n1v"))
      val cw = pc.groupBy(col("next")).agg(count(lit(1)).as("n1w"))
      val allTypes = pc.agg(count(lit(1)).as("n1all"))
      val lm = pc.join(pv, Seq("prev")).join(cw, Seq("next"))
        .crossJoin(broadcast(allTypes))
        .select(col("prev"), col("next"),
          round(-log2(
            greatest(col("c") - lit(0.75), lit(0)) / col("cp") +
              (lit(0.75) * col("n1v") / col("cp")) *
                (col("n1w") / col("n1all").cast("double"))), 9)
            .cast("decimal(28,9)").as("cost"))
      bigrams.join(lm, Seq("prev", "next"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cost")).as("tot"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("tot").cast("double") / col("n_bigrams"), 6).as("kn_bits"))
    },

    // ---- DD71: checksum-validated PII detection ---------------------------
    QueryDef(
      "dd71_luhn_pii",
      "Luhn-validated card-number detection (the false-positive killer regex-only PII scans need): 16-digit candidates from regex, then the Luhn mod-10 checksum recomputed FROM THE EXTRACTED STRING decides real vs coincidental. Planted ground truth: every 5th doc carries a 16-digit number whose check digit is constructed valid on even doc ids and broken (+5) on odd — so expected valid = planted/2 exactly. One narrow codegen pass; the report is a 1-row fold",
      Some(SelectOpsSql.luhnOracle)) { (s, dir) =>
      // The plant and the validation share ONE digit/Luhn chain definition
      // (SelectOpsSql.luhn*, emitted per SQL dialect) — the same
      // single-source-of-truth discipline as dd70's merge table. The
      // validation is honest: it sees only the extracted 16-char string,
      // never the planting parity.
      import SelectOpsSql._
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), md5(col("doc_id").cast("string")).as("h"))
        .withColumn("ptext", expr(
          s"""CASE WHEN doc_id % 5 = 0 THEN
                concat(text, ' card ', ${luhnPlant15("h", spark = true)},
                  CAST(CASE WHEN doc_id % 2 = 0
                       THEN (10 - (${luhnSum15("h", spark = true)}) % 10) % 10
                       ELSE ((10 - (${luhnSum15("h", spark = true)}) % 10) % 10 + 5) % 10
                       END AS STRING))
              ELSE text END"""))
        .filter(expr("ptext rlike '[0-9]{16}'"))
        .select(expr("regexp_extract(ptext, '[0-9]{16}', 0)").as("num"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(expr(s"(${luhnSum16("num", spark = true)}) % 10 = 0"), 1L)
            .otherwise(0L)).as("n_luhn_valid"))
        .select(col("n_candidates"), col("n_luhn_valid"),
          (col("n_candidates") - col("n_luhn_valid")).as("n_luhn_rejected"))
    },

    // ---- DD73: capped temperature mixture (water-filling, closed form) ----
    QueryDef(
      "dd73_unimax_alloc",
      "UniMax-style mixture budget (Chung et al. '23): allocate a 39/40-of-corpus token budget across sources by temperature weight sqrt(tokens), capped at 1 epoch per source — solved in CLOSED FORM (sort by cap/weight + prefix sums + threshold pick), no iterative water-filling loop; every stage is source-bounded (~|sources| rows), prefix sums ride a broadcast inequality self-join, weight sums freeze to decimal so the water level is engine-exact",
      Some("""
        WITH src AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(string_split(text,' '))) AS BIGINT) AS tokens
          FROM documents GROUP BY source
        ),
        tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t FROM src),
        base AS (
          SELECT source, n_docs, tokens,
                 CAST(round(sqrt(CAST(tokens AS DOUBLE)), 9) AS DECIMAL(28,9)) AS w,
                 tokens AS cap,
                 (39 * tot.t) // 40 AS budget
          FROM src CROSS JOIN tot
        ),
        pre AS (
          SELECT a.source, a.n_docs, a.tokens, a.w, a.cap, a.budget,
                 CAST(count(b.source) + 1 AS BIGINT) AS rk,
                 a.cap + COALESCE(CAST(sum(b.cap) AS BIGINT), 0) AS cum_cap,
                 a.w + COALESCE(sum(b.w), 0) AS cum_w
          FROM base a LEFT JOIN base b
            ON (CAST(b.cap AS DOUBLE)/CAST(b.w AS DOUBLE) < CAST(a.cap AS DOUBLE)/CAST(a.w AS DOUBLE))
            OR (CAST(b.cap AS DOUBLE)/CAST(b.w AS DOUBLE) = CAST(a.cap AS DOUBLE)/CAST(a.w AS DOUBLE)
                AND b.source < a.source)
          GROUP BY 1,2,3,4,5,6
        ),
        gw AS (SELECT CAST(sum(w) AS DECIMAL(28,9)) AS w_all FROM base),
        chk AS (
          SELECT p.*, g.w_all,
                 (CAST(p.cap AS DOUBLE)/CAST(p.w AS DOUBLE)) *
                   CAST(g.w_all - (p.cum_w - p.w) AS DOUBLE)
                   <= CAST(p.budget - (p.cum_cap - p.cap) AS DOUBLE) AS capped
          FROM pre p CROSS JOIN gw g
        ),
        ksel AS (
          SELECT COALESCE(max(CASE WHEN capped THEN rk END), 0) AS k,
                 COALESCE(max(CASE WHEN capped THEN cum_cap END), 0) AS k_cap,
                 COALESCE(max(CASE WHEN capped THEN cum_w END), 0) AS k_w
          FROM chk
        )
        SELECT c.source, c.n_docs, c.tokens, c.rk <= k.k AS capped,
               round(CASE WHEN c.rk <= k.k THEN CAST(c.cap AS DOUBLE)
                     ELSE CAST(c.budget - k.k_cap AS DOUBLE) /
                          CAST(c.w_all - k.k_w AS DOUBLE) * CAST(c.w AS DOUBLE)
                     END, 6) AS alloc
        FROM chk c CROSS JOIN ksel k ORDER BY c.source
      """)) { (s, dir) =>
      // alloc_i = min(cap_i, λ·w_i) with Σ alloc = B: sources sorted by
      // cap/w cap out in order, so the binding prefix k is the largest rank
      // whose cap-exhaustion test passes, and λ = (B - Σ_{capped} cap) /
      // (W - Σ_{capped} w). cum_cap/cum_w are monotone in rank, so the
      // k-prefix sums recover via max-over-capped — no correlated
      // subquery. Everything after the source aggregate is ~|sources|
      // rows; the ordering join broadcasts.
      val src = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(size(Text.tokens)).cast("long").as("tokens"))
      val tot = src.agg(sum(col("tokens")).as("t"))
      // w at (18,9), not (28,9): the cum_w addition below is
      // decimal(p1,9) + decimal(p1+10,9) and Spark drops the SCALE to 8
      // when the result precision would exceed 38 — the same silent
      // truncation dd67 documents; (18,9) keeps every sum at scale 9.
      val base = src.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("tokens"),
          round(sqrt(col("tokens").cast("double")), 9).cast("decimal(18,9)").as("w"),
          col("tokens").as("cap"),
          expr("(39 * t) div 40").as("budget"))
        .cache()
      val ratio = (c: Column, w: Column) => c.cast("double") / w.cast("double")
      val b = base.select(col("source").as("bsource"), col("w").as("bw"),
        col("cap").as("bcap"))
      val pre = base.as("a").join(broadcast(b),
          ratio(col("bcap"), col("bw")) < ratio(col("cap"), col("w")) ||
            (ratio(col("bcap"), col("bw")) === ratio(col("cap"), col("w")) &&
              col("bsource") < col("source")), "left")
        .groupBy(col("source"), col("n_docs"), col("tokens"), col("w"),
          col("cap"), col("budget"))
        .agg((count(col("bsource")) + 1).as("rk"),
          (col("cap") + coalesce(sum(col("bcap")), lit(0L))).as("cum_cap"),
          (col("w") + coalesce(sum(col("bw")), lit(0))).as("cum_w"))
      val gw = base.agg(sum(col("w")).cast("decimal(28,9)").as("w_all"))
      val chk = pre.crossJoin(broadcast(gw))
        .withColumn("capped",
          ratio(col("cap"), col("w")) *
            (col("w_all") - (col("cum_w") - col("w"))).cast("double") <=
            (col("budget") - (col("cum_cap") - col("cap"))).cast("double"))
      val ksel = chk.agg(
        coalesce(max(when(col("capped"), col("rk"))), lit(0L)).as("k"),
        coalesce(max(when(col("capped"), col("cum_cap"))), lit(0L)).as("k_cap"),
        coalesce(max(when(col("capped"), col("cum_w"))), lit(0)).as("k_w"))
      chk.crossJoin(broadcast(ksel))
        .select(col("source"), col("n_docs"), col("tokens"),
          (col("rk") <= col("k")).as("capped"),
          round(when(col("rk") <= col("k"), col("cap").cast("double"))
            .otherwise((col("budget") - col("k_cap")).cast("double") /
              (col("w_all") - col("k_w")).cast("double") * col("w").cast("double")),
            6).as("alloc"))
        .orderBy(col("source"))
    })

  /** Shared literals for dd70/dd71: the fixed merge table and the Luhn
    * digit chains, with the oracle SQL generated from the SAME definitions
    * — one source of truth, so the Spark chain and the DuckDB chain can
    * never drift. */
  /** dd77's 2-Newton-step fit, shared with dd80's calibration eval:
    * returns (cached feature frame (x1, x2, y), 1-row beta2 (c0, c1, c2)).
    * Same decimal-frozen sums and adjugate solve as the oracles. */
  private def logregFit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import SelectOpsSql._
    val feats = t(s, dir, "documents")
      .select(
        log(size(Text.tokens).cast("double")).as("x1"),
        (size(array_distinct(Text.tokens)).cast("double") /
          size(Text.tokens)).as("x2"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      .cache()
    def frozen(e: String, alias: String): Column =
      expr(s"sum(cast(round($e, 9) as decimal(28,9)))").cast("double").as(alias)
    val s1 = feats.agg(
      frozen("1.0", "s00"), frozen("x1", "s01"), frozen("x2", "s02"),
      frozen("x1*x1", "s11"), frozen("x1*x2", "s12"), frozen("x2*x2", "s22"),
      frozen("(y-0.5)", "g0"), frozen("x1*(y-0.5)", "g1"), frozen("x2*(y-0.5)", "g2"))
    val Seq(e0, e1, e2) = solve3
    val beta1 = s1.select(
      expr(s"4*($e0)").as("b0"), expr(s"4*($e1)").as("b1"), expr(s"4*($e2)").as("b2"))
    val s2 = feats.crossJoin(broadcast(beta1))
      .withColumn("p", expr("1.0/(1.0 + exp(-(b0 + b1*x1 + b2*x2)))"))
      .withColumn("w", expr("p*(1.0-p)"))
      .groupBy(col("b0"), col("b1"), col("b2"))
      .agg(
        frozen("w", "s00"), frozen("w*x1", "s01"), frozen("w*x2", "s02"),
        frozen("w*x1*x1", "s11"), frozen("w*x1*x2", "s12"), frozen("w*x2*x2", "s22"),
        frozen("(y-p)", "g0"), frozen("x1*(y-p)", "g1"), frozen("x2*(y-p)", "g2"))
    val beta2 = s2.select(
      expr(s"b0 + ($e0)").as("c0"), expr(s"b1 + ($e1)").as("c1"),
      expr(s"b2 + ($e2)").as("c2"))
    (feats, beta2)
  }

  private[graft] object SelectOpsSql {
    val merges: Seq[(String, String)] = Seq(
      "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
      "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")

    // ---- a24 Poisson bootstrap (shared thresholds + oracle) --------------
    /** Cumulative Poisson(1) probabilities scaled to 2^32 as integer
      * thresholds — weight k iff u < t(k); u >= t(5) gets weight 6
      * (P ~ 6e-4, the tail fold). Shared literals with the oracle so the
      * draw cannot drift. */
    val poissonThresholds: Seq[Long] = Seq(
      1580030168L, 3160060337L, 3950075421L, 4213413783L, 4279248373L, 4292415291L)

    def poissonWeightSql(u: String): String =
      poissonThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN $u < ${t}L THEN $k" }
        .mkString("CASE ", " ", " ELSE 6 END")
        .replace("L THEN", " THEN") // DuckDB/Spark both parse bare longs

    val bootstrapOracle: String = {
      val w = poissonWeightSql("u")
      s"""
        WITH x AS (
          SELECT c_custkey, CAST(round(c_acctbal, 2) AS DECIMAL(18,2)) AS x
          FROM customer
        ),
        expanded AS (
          SELECT c_custkey, x, r,
                 ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#' || CAST(r AS VARCHAR)), 1, 8))::BIGINT AS u
          FROM x CROSS JOIN (SELECT unnest(generate_series(0, 99)) AS r)
        ),
        weighted AS (SELECT r, x, $w AS w FROM expanded),
        means AS (
          SELECT r, CAST(sum(CAST(w AS DECIMAL(1,0)) * x) AS DOUBLE) / sum(w) AS m
          FROM weighted GROUP BY r
        ),
        ranked AS (
          SELECT r, m, ROW_NUMBER() OVER (ORDER BY m, r) AS rk FROM means
        ),
        lo AS (SELECT m AS lo FROM ranked WHERE rk = 3),
        hi AS (SELECT m AS hi FROM ranked WHERE rk = 98),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_resamples,
                 CAST(sum(CAST(round(m, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sm,
                 CAST(sum(CAST(round(m*m, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sm2
          FROM means
        ),
        est AS (SELECT CAST(sum(x) AS DOUBLE) / count(*) AS est FROM x)
        SELECT n_resamples,
               round(est, 6) AS estimate,
               round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi,
               round(sqrt((sm2 - sm*sm/n_resamples) / (n_resamples - 1)), 6) AS se
        FROM stats CROSS JOIN est CROSS JOIN lo CROSS JOIN hi
      """
    }

    // ---- dd78 simhash-join oracle (generated bit chains) -----------------
    val simhashJoinOracle: String = {
      val bitSums = (0 until 32).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")
      val bits = (0 until 32).map(b =>
        s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
      s"""
        WITH tok AS (
          SELECT doc_id, string_split(text,' ') AS arr FROM documents
          WHERE len(string_split(text,' ')) >= 3
        ),
        sh AS (
          SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s
          FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr)-2)) AS i FROM tok)
        ),
        hashed AS (SELECT doc_id, ('0x' || substr(md5(s),1,8))::BIGINT AS h FROM sh),
        votes AS (SELECT doc_id, $bitSums FROM hashed GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST($bits AS BIGINT) AS sig FROM votes),
        chunks AS (
          SELECT doc_id, sig, i AS chunk_idx, (sig >> (8*i)) & 255 AS chunk
          FROM sig CROSS JOIN (SELECT unnest(generate_series(0,3)) AS i)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
          FROM chunks a JOIN chunks b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
            AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3
      """
    }

    // ---- dd77 closed-form 3x3 solve (shared, dialect-free arithmetic) ----
    /** Adjugate solve of the SYMMETRIC system S b = g over columns
      * s00,s01,s02,s11,s12,s22,g0,g1,g2 — emitted once, used verbatim in
      * the Spark plan and the oracle so the algebra cannot drift. */
    val solve3: Seq[String] = {
      val det = "(s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02) + s02*(s01*s12 - s11*s02))"
      Seq(
        s"((s11*s22 - s12*s12)*g0 + (s02*s12 - s01*s22)*g1 + (s01*s12 - s02*s11)*g2) / $det",
        s"((s02*s12 - s01*s22)*g0 + (s00*s22 - s02*s02)*g1 + (s01*s02 - s00*s12)*g2) / $det",
        s"((s01*s12 - s02*s11)*g0 + (s01*s02 - s00*s12)*g1 + (s00*s11 - s01*s01)*g2) / $det")
    }

    /** Shared CTE chain (feats -> s1 -> beta1 -> scored -> s2 -> beta2)
      * used by both the dd77 trainer and the dd80 calibration eval. */
    val logregCtes: String = {
      val Seq(e0, e1, e2) = solve3
      s"""
        WITH feats AS (
          SELECT ln(CAST(len(string_split(text,' ')) AS DOUBLE)) AS x1,
                 CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                   / len(string_split(text,' ')) AS x2,
                 CASE WHEN lang='en' THEN 1.0 ELSE 0.0 END AS y
          FROM documents
        ),
        s1 AS (
          SELECT CAST(sum(CAST(round(1.0, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s00,
                 CAST(sum(CAST(round(x1, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s01,
                 CAST(sum(CAST(round(x2, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s02,
                 CAST(sum(CAST(round(x1*x1, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s11,
                 CAST(sum(CAST(round(x1*x2, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s12,
                 CAST(sum(CAST(round(x2*x2, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s22,
                 CAST(sum(CAST(round((y-0.5), 9) AS DECIMAL(28,9))) AS DOUBLE) AS g0,
                 CAST(sum(CAST(round(x1*(y-0.5), 9) AS DECIMAL(28,9))) AS DOUBLE) AS g1,
                 CAST(sum(CAST(round(x2*(y-0.5), 9) AS DECIMAL(28,9))) AS DOUBLE) AS g2
          FROM feats
        ),
        beta1 AS (SELECT 4*($e0) AS b0, 4*($e1) AS b1, 4*($e2) AS b2 FROM s1),
        scored AS (
          SELECT f.*, b.b0, b.b1, b.b2,
                 1.0/(1.0 + exp(-(b.b0 + b.b1*f.x1 + b.b2*f.x2))) AS p
          FROM feats f CROSS JOIN beta1 b
        ),
        s2 AS (
          SELECT b0, b1, b2,
                 CAST(sum(CAST(round(p*(1.0-p), 9) AS DECIMAL(28,9))) AS DOUBLE) AS s00,
                 CAST(sum(CAST(round(p*(1.0-p)*x1, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s01,
                 CAST(sum(CAST(round(p*(1.0-p)*x2, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s02,
                 CAST(sum(CAST(round(p*(1.0-p)*x1*x1, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s11,
                 CAST(sum(CAST(round(p*(1.0-p)*x1*x2, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s12,
                 CAST(sum(CAST(round(p*(1.0-p)*x2*x2, 9) AS DECIMAL(28,9))) AS DOUBLE) AS s22,
                 CAST(sum(CAST(round((y-p), 9) AS DECIMAL(28,9))) AS DOUBLE) AS g0,
                 CAST(sum(CAST(round(x1*(y-p), 9) AS DECIMAL(28,9))) AS DOUBLE) AS g1,
                 CAST(sum(CAST(round(x2*(y-p), 9) AS DECIMAL(28,9))) AS DOUBLE) AS g2
          FROM scored GROUP BY b0, b1, b2
        ),
        beta2 AS (SELECT b0 + ($e0) AS c0, b1 + ($e1) AS c1, b2 + ($e2) AS c2 FROM s2)
      """
    }

    val logregOracle: String = logregCtes + """
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(max(c0), 6) AS b0, round(max(c1), 6) AS b1, round(max(c2), 6) AS b2,
               round(sum(CASE WHEN (c0 + c1*x1 + c2*x2 >= 0) = (y = 1.0)
                         THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS accuracy
        FROM feats CROSS JOIN beta2
      """

    val calibrationOracle: String = logregCtes + """
        , scored2 AS (
          SELECT y, 1.0/(1.0 + exp(-(c0 + c1*x1 + c2*x2))) AS p
          FROM feats CROSS JOIN beta2
        ),
        binned AS (
          SELECT least(CAST(floor(p*10) AS BIGINT), 9) AS bin, y, p FROM scored2
        )
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(round(p, 9) AS DECIMAL(28,9))) AS DOUBLE)/count(*), 6) AS mean_predicted,
               round(CAST(sum(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE)/count(*), 6) AS observed_rate,
               round(CAST(sum(CAST(round((p-y)*(p-y), 9) AS DECIMAL(28,9))) AS DOUBLE)/count(*), 6) AS brier
        FROM binned GROUP BY bin ORDER BY bin
      """

    val rocAucOracle: String = logregCtes + """
        , scored3 AS (
          SELECT y, 1.0/(1.0 + exp(-(c0 + c1*x1 + c2*x2))) AS p
          FROM feats CROSS JOIN beta2
        ),
        cells AS (
          SELECT least(CAST(floor(p*1000) AS BIGINT), 999) AS bin,
                 CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
                 CAST(sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS BIGINT) AS neg
          FROM scored3 GROUP BY 1
        ),
        cum AS (
          SELECT a.bin, a.pos, a.neg,
                 CAST(COALESCE(sum(b.neg), 0) AS BIGINT) AS cumneg
          FROM cells a LEFT JOIN cells b ON b.bin < a.bin
          GROUP BY a.bin, a.pos, a.neg
        ),
        tot AS (SELECT CAST(sum(pos) AS BIGINT) AS np, CAST(sum(neg) AS BIGINT) AS nn FROM cells)
        SELECT max(np) AS n_pos, max(nn) AS n_neg,
               round(CAST(sum(CAST(pos AS DECIMAL(38,0)) * (2*cumneg + neg)) AS DOUBLE)
                     / CAST(2 * CAST(max(np) AS DECIMAL(38,0)) * max(nn) AS DOUBLE), 6) AS auc,
               round(CAST(sum(CAST(pos AS DECIMAL(38,0)) * (2*cumneg + neg)) AS DOUBLE)
                     / CAST(2 * CAST(max(np) AS DECIMAL(38,0)) * max(nn) AS DOUBLE) * 2 - 1, 6) AS gini
        FROM cum CROSS JOIN tot
      """

    // ---- e10 sign-LSH projection literals --------------------------------
    /** md5-seeded +-1 sign for (plane p, dim d) — computed ONCE here and
      * embedded as identical literals in the Spark plan and the oracle. */
    def lshSigns(p: Int): Seq[Int] = (1 to 64).map { d =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"p${p}d$d".getBytes("UTF-8"))
      val hex0 = (md(0) >> 4) & 0xf
      if (hex0 % 2 == 0) 1 else -1
    }

    val bcubedOracle: String = {
      def planeSql(p: Int): String =
        "list_dot_product(v, [" + lshSigns(p).map(s => s"CAST($s AS DOUBLE)").mkString(", ") + "])"
      s"""
        WITH vecs AS (
          SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        bucketed AS (
          SELECT label,
                 (CASE WHEN ${planeSql(0)} >= 0 THEN 4 ELSE 0 END +
                  CASE WHEN ${planeSql(1)} >= 0 THEN 2 ELSE 0 END +
                  CASE WHEN ${planeSql(2)} >= 0 THEN 1 ELSE 0 END) AS bucket
          FROM vecs
        ),
        cells AS (SELECT bucket, label, CAST(count(*) AS BIGINT) AS n_cl FROM bucketed GROUP BY 1,2),
        cl AS (SELECT bucket, CAST(sum(n_cl) AS BIGINT) AS n_c FROM cells GROUP BY 1),
        lb AS (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l FROM cells GROUP BY 1),
        tot AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n FROM cells),
        terms AS (
          SELECT CAST(round(CAST(c.n_cl AS DOUBLE)*c.n_cl/cl.n_c, 9) AS DECIMAL(28,9)) AS pterm,
                 CAST(round(CAST(c.n_cl AS DOUBLE)*c.n_cl/lb.n_l, 9) AS DECIMAL(28,9)) AS rterm
          FROM cells c JOIN cl ON c.bucket = cl.bucket JOIN lb ON c.label = lb.label
        )
        SELECT CAST(tot.n AS BIGINT) AS n_items,
               round(CAST(sum(pterm) AS DOUBLE)/tot.n, 6) AS b3_precision,
               round(CAST(sum(rterm) AS DOUBLE)/tot.n, 6) AS b3_recall,
               round(2*(CAST(sum(pterm) AS DOUBLE)/tot.n)*(CAST(sum(rterm) AS DOUBLE)/tot.n) /
                     ((CAST(sum(pterm) AS DOUBLE)/tot.n)+(CAST(sum(rterm) AS DOUBLE)/tot.n)), 6) AS b3_f1
        FROM terms CROSS JOIN tot GROUP BY tot.n
      """
    }

    // ---- dd71 Luhn chains, emitted per SQL dialect -----------------------
    /** digit i (1-based) of the md5-hex column `h`, mapped to 0-9. */
    private def digit(h: String, i: Int, spark: Boolean): String =
      if (spark) s"((instr('0123456789abcdef', substring($h,$i,1))-1) % 10)"
      else s"((strpos('0123456789abcdef', substr($h,$i,1))-1) % 10)"

    /** Luhn contribution: digits at odd left-positions of a 16-digit
      * number (even positions from the right) double, folding >9 to -9. */
    private def luhnTerm(d: String, doubled: Boolean): String =
      if (doubled) s"(CASE WHEN 2*$d > 9 THEN 2*$d - 9 ELSE 2*$d END)" else d

    def luhnSum15(h: String, spark: Boolean): String =
      (1 to 15).map(i => luhnTerm(digit(h, i, spark), i % 2 == 1)).mkString(" + ")

    def luhnSum16(s: String, spark: Boolean): String =
      (1 to 16).map(i => luhnTerm(digit(s, i, spark), i % 2 == 1)).mkString(" + ")

    def luhnPlant15(h: String, spark: Boolean): String =
      (1 to 15).map(i =>
        s"CAST(${digit(h, i, spark)} AS ${if (spark) "STRING" else "VARCHAR"})")
        .mkString(if (spark) "concat(" else "", if (spark) ", " else " || ",
          if (spark) ")" else "")

    val luhnOracle: String = s"""
      WITH seeds AS (
        SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
      ),
      planted AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN
            text || ' card ' || ${luhnPlant15("h", spark = false)} ||
            CAST(CASE WHEN doc_id % 2 = 0
                 THEN (10 - (${luhnSum15("h", spark = false)}) % 10) % 10
                 ELSE ((10 - (${luhnSum15("h", spark = false)}) % 10) % 10 + 5) % 10
                 END AS VARCHAR)
          ELSE text END AS text
        FROM seeds
      ),
      cands AS (
        SELECT doc_id, regexp_extract(text, '[0-9]{16}') AS num
        FROM planted WHERE regexp_matches(text, '[0-9]{16}')
      )
      SELECT CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN (${luhnSum16("num", spark = false)}) % 10 = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_luhn_valid,
             CAST(count(*) - sum(CASE WHEN (${luhnSum16("num", spark = false)}) % 10 = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_luhn_rejected
      FROM cands
    """

    val bpeOracle: String = {
      val enc = merges.foldLeft(
        "array_to_string(list_transform(generate_series(1,length(word)), i -> word[i]), chr(31))") {
        case (acc, (a, b)) => s"replace($acc, '$a'||chr(31)||'$b', '$a$b')"
      }
      s"""
        WITH words AS (
          SELECT doc_id, lang, unnest(string_split(text,' ')) AS word FROM documents
        ),
        enc AS (SELECT doc_id, lang, word, $enc AS s FROM words WHERE word <> '')
        SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(sum(length(word)) AS BIGINT) AS n_chars,
               CAST(sum(length(s) - length(replace(s, chr(31), '')) + 1) AS BIGINT) AS n_bpe_tokens,
               round(sum(length(word)) / CAST(sum(length(s) - length(replace(s, chr(31), '')) + 1) AS DOUBLE), 6) AS compression
        FROM enc GROUP BY lang ORDER BY lang
      """
    }
  }
}
