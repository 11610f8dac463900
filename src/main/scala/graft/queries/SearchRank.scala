package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.{Bm25, IndexMaintain, Text}

/** Text-retrieval surface over the document corpus: inverted-index
  * construction and BM25 ranked search. The reference reaches for
  * Postgres full-text search (`to_tsvector` GIN indexes) for its
  * narrative-text lookups; the Spark-native equivalents are the
  * index-build as a dataflow (posting lists ARE a groupBy) and scoring
  * as a fold over the query terms' postings.
  *
  * Scale shape: every stage is term- or doc-keyed — tokenize is a
  * narrow explode, tf/df/posting-heads ride ONE shuffle on the term key
  * (the ranking window and the posting aggregation reuse the same hash
  * partitioning), and scoring joins the tf table against a
  * query-term relation that is top-k-bounded, so it broadcasts at any
  * corpus size. Nothing is ever all-pairs and no stage needs the whole
  * index on one node — this is the shape a 100 TB corpus index build
  * wants.
  */
object SearchRank {

  val defs: Seq[QueryDef] = Seq(

    // ---- IR1: inverted index with impact-ordered posting heads ----------
    QueryDef(
      "ir1_inverted_index",
      "Inverted-index build as a dataflow: per term its document frequency, collection frequency, and the tf-impact-ordered top-3 posting head 'doc:tf,...' — tf, the ranking window, and the posting aggregation all ride ONE term-keyed shuffle (window and groupBy reuse the same partitioning); stop-terms (df<2) dropped",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        heads AS (
          SELECT w, doc_id, tf,
                 ROW_NUMBER() OVER (PARTITION BY w ORDER BY tf DESC, doc_id) AS rn
          FROM tf
        )
        SELECT w AS term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
               string_agg(CASE WHEN rn <= 3 THEN doc_id || ':' || tf END, ',' ORDER BY rn) AS posting_head
        FROM heads GROUP BY w HAVING count(*) >= 2
      """)) { (s, dir) =>
      IndexMaintain.buildIndex(IndexMaintain.postings(t(s, dir, "documents")))
    },

    // ---- IR2: BM25 ranked retrieval -------------------------------------
    QueryDef(
      "ir2_bm25_topk",
      "BM25 top-10 retrieval (k1=1.2, b=0.75): the query is the corpus's own 3 highest-df terms (deterministic), idf=ln((N-df+.5)/(df+.5)+1); scoring is tf-table x broadcast query-terms — per-term contributions round(9) into DECIMAL so the sum is order-free, distributed TakeOrdered top-10",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
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
        )
        SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25
        FROM contrib GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT 10
      """)) { (s, dir) =>
      // ONE corpus pass: tf is the only relation built from tokens; doc
      // length, df, and the scoring join all derive from it (cached — it
      // is the index a retrieval system materializes anyway)
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf)
      // top-3 df terms: TakeOrderedAndProject (distributed top-k), then the
      // 3-row result broadcasts into the scoring join
      val qterms = Bm25.topTerms(Bm25.docFreqs(tf), 3)
      Bm25.docScores(Bm25.contributions(tf, qterms, dl), "bm25")
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
    },

    // ---- IR3: positional phrase search -----------------------------------
    QueryDef(
      "ir3_phrase_search",
      "Positional phrase search: per-doc occurrence counts of the corpus's most frequent bigram (deterministic query), matched by intersecting the first term's positions+1 with the second term's — the positional postings build is ONE doc-keyed groupBy over the term-filtered token stream (both lists in one pass), the 1-row query phrase broadcasts; position bases differ across engines (0- vs 1-indexed) but the relative-offset match is base-invariant",
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text,' ') AS arr FROM documents
                     WHERE len(string_split(text,' ')) >= 2),
        pos AS (SELECT doc_id, i.g AS p, arr[i.g] AS w
                FROM tok, LATERAL unnest(generate_series(1, len(arr))) AS i(g)),
        big AS (SELECT unnest(list_transform(generate_series(1, len(arr)-1),
                        i -> struct_pack(a := arr[i], b := arr[i+1]))) AS bg FROM tok),
        pairs AS (SELECT bg.a AS a, bg.b AS b, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY 1,2),
        top1 AS (SELECT a, b FROM pairs ORDER BY c DESC, a, b LIMIT 1),
        lists AS (
          SELECT pos.doc_id,
                 list(pos.p) FILTER (pos.w = top1.a) AS pa,
                 list(pos.p) FILTER (pos.w = top1.b) AS pb
          FROM pos JOIN top1 ON pos.w = top1.a OR pos.w = top1.b
          GROUP BY pos.doc_id
        )
        SELECT doc_id,
               CAST(len(list_intersect(list_transform(pa, x -> x + 1), pb)) AS BIGINT) AS n_occ
        FROM lists
        WHERE len(list_intersect(list_transform(pa, x -> x + 1), pb)) > 0
      """)) { (s, dir) =>
      val docs = Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id")), 2)
      val pos = docs.select(col("doc_id"),
        posexplode(col("arr")).as(Seq("p", "w")))
      val pairs = docs.select(explode(Text.bigrams(col("arr"), "a", "b")).as("bg"))
        .groupBy(col("bg.a").as("a"), col("bg.b").as("b"))
        .agg(count(lit(1)).as("c"))
      val top1 = pairs.orderBy(col("c").desc, col("a"), col("b")).limit(1)
        .select(col("a"), col("b"))
      // one pass builds BOTH position lists: collect_list skips the nulls
      // the per-term when() produces
      pos.join(broadcast(top1), col("w") === col("a") || col("w") === col("b"))
        .groupBy(col("doc_id"))
        .agg(collect_list(when(col("w") === col("a"), col("p"))).as("pa"),
          collect_list(when(col("w") === col("b"), col("p"))).as("pb"))
        .select(col("doc_id"),
          size(array_intersect(transform(col("pa"), x => x + 1), col("pb")))
            .cast("long").as("n_occ"))
        .filter(col("n_occ") > 0)
    },

    // ---- IR4: incremental index refresh ≡ full rebuild -------------------
    QueryDef(
      "ir4_index_refresh",
      "Incremental index maintenance (search/IndexMaintain): base index over 6/7 of the corpus, then the remaining 1/7 arrives as a delta batch — postings splice by broadcast anti-join (the base never shuffles), term stats recomputed ONLY for the delta's vocabulary, untouched rows carried verbatim. The oracle is the FULL-corpus ir1 index, so the hash compare IS the incremental-equals-rebuild proof",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        heads AS (
          SELECT w, doc_id, tf,
                 ROW_NUMBER() OVER (PARTITION BY w ORDER BY tf DESC, doc_id) AS rn
          FROM tf
        )
        SELECT w AS term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
               string_agg(CASE WHEN rn <= 3 THEN doc_id || ':' || tf END, ',' ORDER BY rn) AS posting_head
        FROM heads GROUP BY w HAVING count(*) >= 2
      """)) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") % 7 =!= 0)
      val delta = docs.filter(col("doc_id") % 7 === 0)
      val basePostings = IndexMaintain.postings(base).cache()
      val baseIndex = IndexMaintain.buildIndex(basePostings)
      // the refresh's caches must outlive this lazy result: the query
      // runner's Sessions.release frees them with the other query caches
      IndexMaintain.refresh(basePostings, baseIndex, delta, new graft.core.CacheScope)._2
    },

    // ---- IR5: two-stage retrieval (BM25 recall + positional rerank) ------
    QueryDef(
      "ir5_positional_rerank",
      "Two-stage retrieval: BM25 top-50 recall (ir2's pipeline), then rerank by first-position proximity — sum over query terms of each term's earliest position (lead/title matching), integer-exact so the rerank order is float-free. The expensive positional pass touches ONLY the 50 candidates: the candidate list and the query terms both broadcast into one posexplode over 50 docs — stage-2 cost is independent of corpus size, the shape a reranker on a 100 TB corpus needs",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        qterms AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 3),
        scored AS (
          SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS matched,
            round(CAST(SUM(CAST(round( ln((CAST(n.n AS DOUBLE) - q.df + 0.5)/(q.df + 0.5) + 1)
                 * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9) AS DECIMAL(28,9))) AS DOUBLE), 6) AS bm25
          FROM tf JOIN qterms q ON tf.w = q.w JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
          GROUP BY tf.doc_id
        ),
        cand AS (SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50),
        pos AS (
          SELECT d.doc_id, t.w, MIN(t.p) AS first_pos
          FROM (SELECT doc_id, string_split(text,' ') AS arr FROM documents) d,
               unnest([{'w': d.arr[i], 'p': i} for i in range(1, len(d.arr)+1)]) AS u(t)
          WHERE t.w IN (SELECT w FROM qterms) AND d.doc_id IN (SELECT doc_id FROM cand)
          GROUP BY d.doc_id, t.w
        ),
        prox AS (SELECT doc_id, CAST(SUM(first_pos) AS BIGINT) AS first_pos_sum
                 FROM pos GROUP BY doc_id)
        SELECT c.doc_id, c.matched, c.bm25, p.first_pos_sum
        FROM cand c JOIN prox p ON c.doc_id = p.doc_id
        ORDER BY p.first_pos_sum ASC, c.bm25 DESC, c.doc_id LIMIT 10
      """)) { (s, dir) =>
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf)
      val qterms = Bm25.topTerms(Bm25.docFreqs(tf), 3)
      val scored = Bm25.contributions(tf, qterms, dl)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("matched"), Bm25.total(col("c")).as("bm25"))
      // cand is consumed twice (positional filter + final join): cache the
      // 50-row result instead of recomputing the whole scoring pipeline
      val cand = scored.orderBy(col("bm25").desc, col("doc_id")).limit(50).cache()
      // stage 2: positions computed only for candidate docs — candidate
      // ids and query terms broadcast, the corpus scan is semi-join-pruned
      val pos = t(s, dir, "documents")
        .join(broadcast(cand.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), posexplode(Text.tokens).as(Seq("p0", "w")))
        .join(broadcast(qterms.select(col("w"))), Seq("w"))
        // DuckDB list positions are 1-based; posexplode is 0-based
        .groupBy(col("doc_id"), col("w")).agg(min(col("p0") + 1).as("first_pos"))
      val prox = pos.groupBy(col("doc_id"))
        .agg(sum(col("first_pos")).cast("long").as("first_pos_sum"))
      cand.join(prox, Seq("doc_id"))
        .select(col("doc_id"), col("matched"), col("bm25"), col("first_pos_sum"))
        .orderBy(col("first_pos_sum").asc, col("bm25").desc, col("doc_id"))
        .limit(10)
    },

    // ---- IR6: pseudo-relevance-feedback query expansion ------------------
    QueryDef(
      "ir6_prf_expansion",
      "Rocchio pseudo-relevance feedback: BM25 on the corpus's top-3-df seed terms picks 5 feedback docs, their 2 highest tf*idf non-seed terms join the query at half weight, and the expanded query rescores the corpus — every stage reads the ONE cached tf relation; feedback docs, expansion terms, and the final query are tiny broadcast relations, so expansion costs one extra scoring join, not a second corpus pass",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        seed AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 3),
        c1 AS (
          SELECT tf.doc_id,
            CAST(round( ln((CAST(n.n AS DOUBLE) - q.df + 0.5)/(q.df + 0.5) + 1)
                 * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9) AS DECIMAL(28,9)) AS c
          FROM tf JOIN seed q ON tf.w = q.w JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
        ),
        s1 AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25 FROM c1 GROUP BY doc_id),
        fb AS (SELECT doc_id FROM s1 ORDER BY bm25 DESC, doc_id LIMIT 5),
        exp0 AS (
          SELECT tf.w, CAST(SUM(tf.tf) AS BIGINT) AS fbtf
          FROM tf JOIN fb ON tf.doc_id = fb.doc_id
          WHERE tf.w NOT IN (SELECT w FROM seed)
          GROUP BY tf.w
        ),
        expd AS (
          SELECT e.w, round(ln(CAST(n.n AS DOUBLE) / d.df) * e.fbtf, 9) AS escore
          FROM exp0 e JOIN df d ON e.w = d.w CROSS JOIN n
        ),
        exps AS (SELECT w FROM expd ORDER BY escore DESC, w LIMIT 2),
        qall AS (SELECT w, 1.0 AS wt FROM seed UNION ALL SELECT w, 0.5 AS wt FROM exps),
        c2 AS (
          SELECT tf.doc_id,
            CAST(round( q.wt * ln((CAST(n.n AS DOUBLE) - d.df + 0.5)/(d.df + 0.5) + 1)
                 * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9) AS DECIMAL(28,9)) AS c
          FROM tf JOIN qall q ON tf.w = q.w JOIN df d ON tf.w = d.w
               JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
        )
        SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
        FROM c2 GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10
      """)) { (s, dir) =>
      // The PRF loop's cost model at 100 TB: ONE cached doc-length-
      // enriched tf relation (tfd) feeds both scoring stages AND the
      // feedback slice — cached partitioned on doc_id, so both stage
      // groupBys reuse the exchange instead of re-planning it (the r6
      // audit counted 12 exchanges on the naive form; sharing the
      // lineage drops the repeated dl/df joins entirely). Per-term df
      // rides INSIDE the broadcast query relations (3-, then 5-row), so
      // neither scoring stage ever joins the vocabulary-sized df table.
      // Per-term contributions round(9) into DECIMAL so both engines sum
      // order-free; the half-weight expansion terms are exact binary
      // fractions (0.5), so the weighting introduces no cross-engine
      // float drift.
      val tf = IndexMaintain.postings(t(s, dir, "documents"))
      val dl = Bm25.docLengths(tf).cache()
      val n = Bm25.corpusStats(dl)
      val tfd = tf.join(dl, Seq("doc_id")).cache()
      val df = Bm25.docFreqs(tfd).cache()
      val seed = Bm25.topTerms(df, 3)
      val s1 = Bm25.docScores(tfd.join(broadcast(seed), Seq("w"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), Bm25.frozen(Bm25.weight(col("df"))).as("c")), "bm25")
      val fb = s1.orderBy(col("bm25").desc, col("doc_id")).limit(5)
        .select(col("doc_id"))
      val exp0 = tfd.join(broadcast(fb), Seq("doc_id"))
        .join(broadcast(seed.select(col("w"))), Seq("w"), "left_anti")
        .groupBy(col("w")).agg(sum(col("tf")).cast("long").as("fbtf"))
      // exp0 is feedback-bounded (vocabulary of 5 docs): broadcast it
      // into the w-partitioned df instead of shuffling either side
      val exps = df.join(broadcast(exp0), Seq("w"))
        .crossJoin(broadcast(n))
        .select(col("w"), col("df"),
          round(log(col("n").cast("double") / col("df")) * col("fbtf"), 9)
            .as("escore"))
        .orderBy(col("escore").desc, col("w")).limit(2)
      // both query relations carry their own df, so stage 2 joins ONLY
      // the 5-row broadcast — never the vocabulary table
      val qall = seed.select(col("w"), col("df"), lit(1.0).as("wt"))
        .unionByName(exps.select(col("w"), col("df"), lit(0.5).as("wt")))
      Bm25.docScores(tfd.join(broadcast(qall), Seq("w"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), Bm25.frozen(col("wt") * Bm25.weight(col("df"))).as("c")),
        "score")
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    },

    // ---- IR7: best-window snippet extraction -----------------------------
    QueryDef(
      "ir7_snippet_extraction",
      "Search-result snippets: for each BM25 top-10 doc, the 15-token window holding the most query-term hits (earliest wins ties) — hit positions come from ONE token pass over the candidate-pruned corpus, the densest window is a RANGE +14 FOLLOWING frame over hit positions (never a window self-join), and the snippet text is an array slice of the already-split doc",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        qterms AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 3),
        contrib AS (
          SELECT tf.doc_id,
            CAST(round( ln((CAST(n.n AS DOUBLE) - q.df + 0.5)/(q.df + 0.5) + 1)
                 * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9) AS DECIMAL(28,9)) AS c
          FROM tf JOIN qterms q ON tf.w = q.w JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
        ),
        cand AS (
          SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25
          FROM contrib GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
        ),
        arrs AS (
          SELECT d.doc_id, string_split(d.text, ' ') AS arr
          FROM documents d JOIN cand ON d.doc_id = cand.doc_id
        ),
        hits AS (
          SELECT a.doc_id, i.g AS p
          FROM arrs a, LATERAL unnest(generate_series(1, len(arr))) AS i(g)
          WHERE arr[i.g] IN (SELECT w FROM qterms)
        ),
        win AS (
          SELECT doc_id, p,
                 CAST(COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                        RANGE BETWEEN CURRENT ROW AND 14 FOLLOWING) AS BIGINT)
                   AS win_hits
          FROM hits
        ),
        best AS (
          SELECT doc_id, p AS best_start, win_hits,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY win_hits DESC, p) AS rn
          FROM win
        )
        SELECT cand.doc_id, cand.bm25, b.best_start, b.win_hits,
               array_to_string(a.arr[b.best_start : b.best_start + 14], ' ')
                 AS snippet
        FROM cand
        JOIN best b ON cand.doc_id = b.doc_id AND b.rn = 1
        JOIN arrs a ON cand.doc_id = a.doc_id
      """)) { (s, dir) =>
      // Stage 2 never rescans the corpus: candidate ids broadcast into a
      // semi-join prune, positions explode only for 10 docs, and the
      // densest-window scan is a RANGE frame (hit positions are integers,
      // so "hits within the next 14 tokens" is frame arithmetic, not a
      // positions self-join). Both engines index the split array 1-based
      // here (posexplode is 0-based → +1), making best_start and the
      // slice cross-engine identical.
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf)
      val qterms = Bm25.topTerms(Bm25.docFreqs(tf), 3)
      val cand = Bm25.docScores(Bm25.contributions(tf, qterms, dl), "bm25")
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .cache()
      val arrs = t(s, dir, "documents")
        .join(broadcast(cand.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), Text.tokens.as("arr"))
      val hits = arrs
        .select(col("doc_id"), posexplode(col("arr")).as(Seq("p0", "w")))
        .join(broadcast(qterms.select(col("w"))), Seq("w"))
        .select(col("doc_id"), (col("p0") + 1).as("p"))
      val winFrame = Window.partitionBy("doc_id").orderBy("p")
        .rangeBetween(Window.currentRow, 14)
      val best = hits
        .withColumn("win_hits", count(lit(1)).over(winFrame))
        .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("win_hits").desc, col("p"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("p").cast("long").as("best_start"),
          col("win_hits").cast("long").as("win_hits"))
      cand.join(best, Seq("doc_id"))
        .join(arrs, Seq("doc_id"))
        .select(col("doc_id"), col("bm25"), col("best_start"), col("win_hits"),
          array_join(slice(col("arr"), col("best_start").cast("int"), lit(15)), " ")
            .as("snippet"))
    },

    // ---- IR9: BM25 hard-negative mining ------------------------------------
    QueryDef(
      "ir9_hard_negatives",
      "Retrieval-training data prep: for each query doc (doc_id%100=0, queried by its own 3 RAREST tokens) the top-2 BM25-similar docs that are NOT exact-bag duplicates — lexically close but non-duplicate, the hard negatives a contrastive retriever trains against. Scoring joins the cached tf relation against a (queries x 3)-row broadcast; the exact-dup exclusion is a bag-key inequality against dd1's md5 bag keys; top-2 per query is a query-bounded window",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        bag AS (SELECT doc_id,
                  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS k
                FROM documents),
        q AS (
          SELECT doc_id AS q_id, w, df FROM (
            SELECT tf.doc_id, tf.w, df.df,
                   ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                      ORDER BY df.df, tf.w) AS rn
            FROM tf JOIN df ON tf.w = df.w
            WHERE tf.doc_id % 100 = 0
          ) WHERE rn <= 3
        ),
        scored AS (
          SELECT q.q_id, tf.doc_id AS neg_id,
            CAST(round( ln((CAST(n.n AS DOUBLE) - q.df + 0.5)/(q.df + 0.5) + 1)
                 * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9)
                 AS DECIMAL(28,9)) AS c
          FROM tf JOIN q ON tf.w = q.w
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
          WHERE tf.doc_id <> q.q_id
        ),
        agg AS (SELECT q_id, neg_id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25
                FROM scored GROUP BY 1, 2),
        filt AS (
          SELECT a.q_id, a.neg_id, a.bm25
          FROM agg a
          JOIN bag bq ON a.q_id = bq.doc_id
          JOIN bag bn ON a.neg_id = bn.doc_id
          WHERE bq.k <> bn.k
        )
        SELECT q_id, neg_id, bm25 FROM (
          SELECT q_id, neg_id, bm25,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY bm25 DESC, neg_id) AS rn
          FROM filt
        ) WHERE rn <= 2
      """)) { (s, dir) =>
      // Why exclude bag-duplicates: a near-identical doc is a FALSE
      // negative — training against it teaches the retriever to push
      // apart things that should rank together. The bag-key join is the
      // same dedup key dd1 gates on, so "hard negative" here means
      // lexically-close-but-distinct by the engine's own dedup notion.
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf)
      val q = tf.filter(col("doc_id") % 100 === 0)
        .join(Bm25.docFreqs(tf), Seq("w"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("w"))))
        .filter(col("rn") <= 3)
        .select(col("doc_id").as("q_id"), col("w"), col("df"))
      val bag = t(s, dir, "documents").select(col("doc_id"), Text.bagKey.as("k"))
      val agg = Bm25.contributions(tf, q, dl,
          Seq(col("q_id"), col("doc_id").as("neg_id")))
        .filter(col("neg_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("neg_id"))
        .agg(Bm25.total(col("c")).as("bm25"))
      val filt = agg
        .join(bag.select(col("doc_id").as("q_id"), col("k").as("kq")), Seq("q_id"))
        .join(bag.select(col("doc_id").as("neg_id"), col("k").as("kn")), Seq("neg_id"))
        .filter(col("kq") =!= col("kn"))
      filt.withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("bm25").desc, col("neg_id"))))
        .filter(col("rn") <= 2)
        .select(col("q_id"), col("neg_id"), col("bm25"))
    },

    // ---- IR15: ranker agreement (Kendall tau-b) ---------------------------
    QueryDef(
      "ir15_rank_agreement",
      "Kendall tau-b between the BM25 and Dirichlet-QL (mu=100) rankings over the SHARED BM25 top-10 cut: concordant/discordant/tied pair counts from a bounded inequality self-join on the 10-row score relation — never a global rank window; tau-b's tie correction folds from the same integer pair counts. The ranker-swap decision metric: high tau means the cheaper ranker can serve, low tau means the rankings genuinely disagree",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        qterms AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 3),
        cf AS (SELECT tf.w, CAST(sum(tf.tf) AS BIGINT) AS cf FROM tf
               JOIN qterms q ON tf.w = q.w GROUP BY tf.w),
        ctot AS (SELECT CAST(sum(dl) AS BIGINT) AS ctot FROM dl),
        contrib AS (
          SELECT tf.doc_id,
            CAST(round( ln((CAST(n.n AS DOUBLE) - q.df + 0.5)/(q.df + 0.5) + 1)
                 * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9) AS DECIMAL(28,9)) AS c
          FROM tf JOIN qterms q ON tf.w = q.w JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
        ),
        cut AS (
          SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25
          FROM contrib GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
        ),
        qlc AS (
          SELECT cut.doc_id,
            CAST(round( ln((COALESCE(tf.tf, 0) + 100.0*cf.cf/ctot.ctot)
                           / (dl.dl + 100.0)), 9) AS DECIMAL(28,9)) AS c
          FROM cut CROSS JOIN cf
          LEFT JOIN tf ON tf.doc_id = cut.doc_id AND tf.w = cf.w
          JOIN dl ON dl.doc_id = cut.doc_id CROSS JOIN ctot
        ),
        ql AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS ql FROM qlc GROUP BY doc_id),
        scores AS (SELECT cut.doc_id, cut.bm25, ql.ql FROM cut JOIN ql ON cut.doc_id = ql.doc_id),
        pairs AS (
          SELECT CAST(count(*) AS BIGINT) AS n0,
            CAST(sum(CASE WHEN (a.bm25 - b.bm25)*(a.ql - b.ql) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
            CAST(sum(CASE WHEN (a.bm25 - b.bm25)*(a.ql - b.ql) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
            CAST(sum(CASE WHEN a.bm25 = b.bm25 THEN 1 ELSE 0 END) AS BIGINT) AS tie_bm25,
            CAST(sum(CASE WHEN a.ql = b.ql THEN 1 ELSE 0 END) AS BIGINT) AS tie_ql
          FROM scores a JOIN scores b ON a.doc_id < b.doc_id
        )
        SELECT n0 AS n_pairs, conc AS concordant, disc AS discordant, tie_bm25, tie_ql,
               round((conc - disc) / sqrt(CAST((n0 - tie_bm25)*(n0 - tie_ql) AS DOUBLE)), 6) AS tau_b
        FROM pairs
      """)) { (s, dir) =>
      // Two rankers, one cached tf relation (ir6's discipline): BM25
      // picks the cut, QL rescores ONLY the 10 cut docs (a broadcast
      // 10x3 term grid LEFT-joined onto tf so absent terms keep the
      // smoothed background mass — the point of Dirichlet smoothing).
      // Every pair statistic is an exact BIGINT count off the 45-pair
      // bounded self-join; tau-b's single sqrt division is the only
      // float. Scores compare after round(6), so tie detection is
      // cross-engine exact.
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf).cache()
      val qterms = Bm25.topTerms(Bm25.docFreqs(tf), 3)
      val cf = tf.join(broadcast(qterms.select(col("w"))), Seq("w"))
        .groupBy(col("w")).agg(sum(col("tf")).as("cf"))
      val ctot = dl.agg(sum(col("dl")).as("ctot"))
      val cut = Bm25.docScores(Bm25.contributions(tf, qterms, dl), "bm25")
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .cache()
      val grid = cut.select(col("doc_id"))
        .crossJoin(broadcast(cf))
      // prune tf to the 10 cut docs BEFORE the left join: the grid is 30
      // rows, so the corpus-sized tf must never shuffle to meet it — the
      // semi-join prune is a broadcast filter on the scan, and the pruned
      // slice is itself broadcastable
      val tfCut = tf.join(broadcast(cut.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      val contrib = grid
        .join(broadcast(tfCut), Seq("doc_id", "w"), "left")
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(ctot))
        .select(col("doc_id"), Text.dirichlet(100, col("ctot")).as("c"))
      val ql = Bm25.docScores(contrib, "ql")
      val scores = cut.join(ql, Seq("doc_id"))
      scores.as("a").join(broadcast(scores.as("b")),
          col("a.doc_id") < col("b.doc_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when((col("a.bm25") - col("b.bm25")) * (col("a.ql") - col("b.ql")) > 0, 1L)
            .otherwise(0L)).as("concordant"),
          sum(when((col("a.bm25") - col("b.bm25")) * (col("a.ql") - col("b.ql")) < 0, 1L)
            .otherwise(0L)).as("discordant"),
          sum(when(col("a.bm25") === col("b.bm25"), 1L).otherwise(0L)).as("tie_bm25"),
          sum(when(col("a.ql") === col("b.ql"), 1L).otherwise(0L)).as("tie_ql"))
        .select(col("n_pairs"), col("concordant"), col("discordant"),
          col("tie_bm25"), col("tie_ql"),
          round((col("concordant") - col("discordant")) /
            sqrt(((col("n_pairs") - col("tie_bm25")) *
              (col("n_pairs") - col("tie_ql"))).cast("double")), 6).as("tau_b"))
    },

    // ---- IR16: BM25F field-weighted retrieval -----------------------------
    // Structured docs rank better when the title field outweighs the body
    // (Robertson & Zaragoza's BM25F): per-field tf is normalized by ITS
    // OWN field-length ratio and field weight BEFORE the shared k1
    // saturation — a title hit saturates independently of body spam. The
    // first 8 tokens stand in for the title field (the corpus is
    // single-column), weights w_title=2 / w_body=1, b_title=0.5 /
    // b_body=0.75, k1=1.2.
    QueryDef(
      "ir16_bm25f",
      "BM25F field-weighted top-10: positional tokenize once (title = first 8 tokens), per-(term,doc) field tfs fold in ONE conditional groupBy (the same single term-keyed shuffle as ir2 — fields add columns, not passes), field lengths and averages derive from the same relation, the 3-term query broadcasts, per-term contributions round(9) into DECIMAL so the doc score is order-free, distributed TakeOrdered top-10",
      Some("""
        WITH tok AS (
          SELECT doc_id, CASE WHEN i.g <= 8 THEN 1 ELSE 0 END AS ist,
                 arr[i.g] AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents) t,
               LATERAL unnest(generate_series(1, len(arr))) AS i(g)
        ),
        tff AS (
          SELECT w, doc_id, CAST(sum(ist) AS BIGINT) AS tft,
                 CAST(sum(1 - ist) AS BIGINT) AS tfb
          FROM tok GROUP BY 1, 2
        ),
        fl AS (
          SELECT doc_id, CAST(sum(ist) AS BIGINT) AS lt,
                 CAST(sum(1 - ist) AS BIGINT) AS lb
          FROM tok GROUP BY 1
        ),
        g AS (
          SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lt) AS BIGINT) AS slt,
                 CAST(sum(lb) AS BIGINT) AS slb
          FROM fl
        ),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tff GROUP BY 1),
        qterms AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 3),
        contrib AS (
          SELECT f.doc_id,
                 CAST(round(
                   ln((CAST(g.n AS DOUBLE) - q.df + 0.5) / (q.df + 0.5) + 1)
                   * (2.0 * (f.tft / (1.0 + 0.5 * (fl.lt / (CAST(g.slt AS DOUBLE) / g.n) - 1)))
                      + f.tfb / (1.0 + 0.75 * (fl.lb / (CAST(g.slb AS DOUBLE) / g.n) - 1)))
                   / (1.2
                      + 2.0 * (f.tft / (1.0 + 0.5 * (fl.lt / (CAST(g.slt AS DOUBLE) / g.n) - 1)))
                      + f.tfb / (1.0 + 0.75 * (fl.lb / (CAST(g.slb AS DOUBLE) / g.n) - 1))), 9)
                 AS DECIMAL(28,9)) AS c
          FROM tff f JOIN qterms q ON f.w = q.w
          JOIN fl ON f.doc_id = fl.doc_id CROSS JOIN g
        )
        SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25f
        FROM contrib GROUP BY doc_id
        ORDER BY bm25f DESC, doc_id LIMIT 10
      """)) { (s, dir) =>
      // positional tokenize ONCE; the field flag is a column, so the field
      // split costs no extra corpus pass (posexplode p is 0-based — p < 8
      // matches the oracle's 1-based g <= 8)
      val tokp = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(Text.tokens).as(Seq("p", "w")))
        .withColumn("ist", when(col("p") < 8, 1).otherwise(0))
      val tff = tokp.groupBy(col("w"), col("doc_id"))
        .agg(sum(col("ist")).cast("long").as("tft"),
          sum(lit(1) - col("ist")).cast("long").as("tfb")).cache()
      val fl = tokp.groupBy(col("doc_id"))
        .agg(sum(col("ist")).cast("long").as("lt"),
          sum(lit(1) - col("ist")).cast("long").as("lb"))
      val g = fl.agg(count(lit(1)).as("n"), sum(col("lt")).cast("long").as("slt"),
        sum(col("lb")).cast("long").as("slb"))
      val qterms = Bm25.topTerms(Bm25.docFreqs(tff), 3)
      val ntft = col("tft") / (lit(1.0) + lit(0.5)
        * (col("lt") / (col("slt").cast("double") / col("n")) - 1))
      val ntfb = col("tfb") / (lit(1.0) + lit(0.75)
        * (col("lb") / (col("slb").cast("double") / col("n")) - 1))
      Bm25.docScores(tff.join(broadcast(qterms), Seq("w"))
        .join(fl, Seq("doc_id"))
        .crossJoin(broadcast(g))
        .select(col("doc_id"), Bm25.frozen(Bm25.idf(col("df")) *
          (lit(2.0) * ntft + ntfb) / (lit(1.2) + lit(2.0) * ntft + ntfb)).as("c")), "bm25f")
        .orderBy(col("bm25f").desc, col("doc_id")).limit(10)
    },

    // ---- IR17: Block-Max WAND exact top-k with measured pruning ----------
    QueryDef(
      "ir17_blockmax_topk",
      "Block-Max WAND (Ding & Suel 2011) in relational form: EXACT BM25 top-10 that provably skips postings. Pass 1 scores cheap per-term top-decile impact champions; their 10th-best DECIMAL score is a LOWER bound theta on the true 10th-best (champion score <= true score per doc, order dominance). Pass 2 keeps only doc-id blocks (8 docs: blk = doc_id // 8) whose summed per-term block-max contribution >= theta — any true top-10 doc's block satisfies score <= blocksum, so completeness is algebraic, not sampled (plain fixed-size champions were measured first: recall 0.1-0.4 on this corpus's conjunctive stopword-grade query — term-level upper bounds cannot discriminate it, block-level ones can) — then exact-scores candidates only. All threshold comparisons run in DECIMAL(38,9) (no float boundary); output = the exact top-10 (bit-equal to ir2) plus measured blocks/postings pruning counters",
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY w, doc_id),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        qterms AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 3),
        postq AS (
          SELECT tf.w, tf.doc_id, tf.doc_id // 8 AS blk,
            CAST(round( ln((CAST(n.n AS DOUBLE) - q.df + 0.5)/(q.df + 0.5) + 1)
                 * (tf.tf * 2.2) / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/n.avgdl)), 9)
              AS DECIMAL(28,9)) AS c
          FROM tf JOIN qterms q ON tf.w = q.w
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n
        ),
        champ AS (
          SELECT doc_id, c FROM (
            SELECT p.w, p.doc_id, p.c,
                   ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.c DESC, p.doc_id) AS rn
            FROM postq p) r JOIN df ON r.w = df.w
          WHERE rn <= (df + 9) // 10
        ),
        cs AS (SELECT doc_id, SUM(c) AS cs FROM champ GROUP BY doc_id),
        cand0 AS (SELECT doc_id FROM cs ORDER BY cs DESC, doc_id LIMIT 50),
        s0 AS (SELECT p.doc_id, SUM(p.c) AS s FROM postq p
               JOIN cand0 ON p.doc_id = cand0.doc_id GROUP BY p.doc_id),
        theta AS (SELECT MIN(s) AS theta FROM
                    (SELECT s FROM s0 ORDER BY s DESC, doc_id LIMIT 10)),
        bub AS (SELECT w, blk, MAX(c) AS bub FROM postq GROUP BY w, blk),
        bsum AS (SELECT blk, SUM(bub) AS bsum FROM bub GROUP BY blk),
        cand AS (SELECT blk FROM bsum CROSS JOIN theta WHERE bsum >= theta),
        scored AS (SELECT p.* FROM postq p JOIN cand ON p.blk = cand.blk),
        top AS (
          SELECT doc_id, round(CAST(SUM(c) AS DOUBLE), 6) AS bm25
          FROM scored GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
        ),
        st AS (SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM bsum) AS blocks_total,
          (SELECT CAST(count(*) AS BIGINT) FROM cand) AS blocks_scored,
          (SELECT CAST(count(*) AS BIGINT) FROM postq) AS postings_total,
          (SELECT CAST(count(*) AS BIGINT) FROM scored) AS postings_scored)
        SELECT top.doc_id, top.bm25,
               st.blocks_total, st.blocks_scored,
               st.postings_total, st.postings_scored,
               round(1 - st.postings_scored / CAST(st.postings_total AS DOUBLE), 6)
                 AS pruned_frac
        FROM top CROSS JOIN st
      """)) { (s, dir) =>
      val tf = IndexMaintain.postings(t(s, dir, "documents")).cache()
      val dl = Bm25.docLengths(tf)
      val df = Bm25.docFreqs(tf)
      val qterms = Bm25.topTerms(df, 3)
      // the query's postings with their DECIMAL-rounded BM25 contribution
      // and an 8-doc block id (blk = doc_id >> 3, matching the oracle's
      // doc_id // 8); query-bounded (3 terms), cached — both passes and
      // all four counters read it
      val postq = Bm25.contributions(tf, qterms, dl,
          Seq(col("w"), col("doc_id"), shiftright(col("doc_id"), 3).as("blk")))
        .cache()
      // pass 1: per-term top-decile impact champions -> theta, a DECIMAL
      // lower bound on the true 10th-best score (champion partial sums
      // dominate from below)
      val wW = Window.partitionBy(col("w")).orderBy(col("c").desc, col("doc_id"))
      val champ = postq.withColumn("rn", row_number().over(wW))
        .join(df, Seq("w"))
        .filter(col("rn") <= expr("(df + 9) div 10"))
      val cs = champ.groupBy(col("doc_id")).agg(sum(col("c")).as("cs"))
      // stage 2 of the bootstrap: exact-score the 50 best champion
      // candidates (a bounded, broadcastable set) — their 10th-best TRUE
      // score is a far tighter lower bound than the champion partial sums
      // (independent per-term tf noise keeps top docs out of some terms'
      // deciles, so partial sums undercount; measured theta 0.87 vs true
      // 1.27 before this stage — zero blocks pruned)
      val cand0 = cs.orderBy(col("cs").desc, col("doc_id")).limit(50)
        .select(col("doc_id"))
      val s0 = postq.join(broadcast(cand0), Seq("doc_id"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("s"))
      val theta = broadcast(s0.orderBy(col("s").desc, col("doc_id")).limit(10)
        .agg(min(col("s")).as("theta")))
      // pass 2: block-max upper bounds; a block survives iff its summed
      // per-term maxima could still beat theta — completeness is algebraic
      val bub = postq.groupBy(col("w"), col("blk")).agg(max(col("c")).as("bub"))
      val bsum = bub.groupBy(col("blk")).agg(sum(col("bub")).as("bsum"))
      val cand = bsum.crossJoin(theta).filter(col("bsum") >= col("theta"))
        .select(col("blk"))
      val scored = postq.join(cand, Seq("blk")).cache()
      val top = Bm25.docScores(scored, "bm25")
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      val stats = broadcast(
        bsum.agg(count(lit(1)).as("blocks_total"))
          .crossJoin(cand.agg(count(lit(1)).as("blocks_scored")))
          .crossJoin(postq.agg(count(lit(1)).as("postings_total")))
          .crossJoin(scored.agg(count(lit(1)).as("postings_scored"))))
      top.crossJoin(stats)
        .select(col("doc_id"), col("bm25"),
          col("blocks_total"), col("blocks_scored"),
          col("postings_total"), col("postings_scored"),
          round(lit(1) - col("postings_scored") / col("postings_total").cast("double"), 6)
            .as("pruned_frac"))
    })
}
