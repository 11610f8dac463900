package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Parity
import graft.core.Tables.{apply => t}
import graft.functions.NativeExpressions.dot_native
import graft.search.Text

/** Scale-pattern operators: the join/sampling/sketch shapes a 100 TB
  * deployment leans on once the basic relational inventory is done.
  *
  * Each query is the *pattern* demonstrated at test scale with the exact
  * result pinned against the DuckDB oracle:
  *
  *   - bucketized range join (interval overlap WITHOUT a nested-loop
  *     join — the classic expand-to-buckets + equi-join + residual),
  *   - Bloom-filter pruned join (prune the fact BEFORE the exchange;
  *     result provably identical to the plain join),
  *   - SemDeDup-style semantic dedup (cluster-blocked cosine pairs,
  *     never all-pairs; reference analog of E5 similarity,
  *     `geo_resolver.py:123-190`, lifted to corpus curation),
  *   - greedy sequence packing (token-budget bins for LLM pretraining,
  *     pure integer window math),
  *   - sketch-vs-exact tolerance gates (HLL distinct + approximate
  *     percentile pinned within tolerance of the exact answers), and
  *   - temperature-scaled mixture resampling (per-language rates derived
  *     from the corpus itself, deterministic hash selection),
  *   - percentile-boundary range sharding (plan the shard boundaries,
  *     don't sample them — reproducible export layout).
  */
object ScaleOps {

  val defs: Seq[QueryDef] = Seq(

    // ---- J15: bucketized interval-overlap (range) join -------------------
    QueryDef(
      "j15_range_join",
      "Interval-overlap join via bucket expansion: intervals explode to fixed-width buckets, points equi-join on bucket, residual BETWEEN — never a nested-loop join",
      Some("""
        WITH periods AS (
          SELECT CAST(n_nationkey AS INT) AS period_id,
                 DATE '1995-01-01' + CAST(n_nationkey * 99 AS INT) AS p_start,
                 DATE '1995-01-01' + CAST(n_nationkey * 99 + 14 AS INT) AS p_end
          FROM nation
        )
        SELECT period_id, COUNT(*) AS n_ship,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM periods
        JOIN lineitem ON CAST(l_shipdate AS DATE) BETWEEN p_start AND p_end
        GROUP BY period_id
      """)) { (s, dir) =>
      // The at-scale shape: a range predicate join compiles to
      // BroadcastNestedLoopJoin (every point × every interval). Instead:
      // buckets of width 16 days ≥ the 15-day interval span, so each
      // interval covers ≤ 2 buckets; intervals EXPLODE to their buckets,
      // points land in exactly one, and the join is a plain equi-join on
      // the bucket key with the BETWEEN as a cheap residual. Cost is
      // O(|points| + |intervals| × spanBuckets), shuffle is hash — the
      // pattern holds for billions of points and millions of intervals.
      val base = lit("1995-01-01").cast("date")
      val periods = t(s, dir, "nation")
        .select(col("n_nationkey").cast("int").as("period_id"))
        .withColumn("p_start", date_add(base, col("period_id") * 99))
        .withColumn("p_end", date_add(col("p_start"), 14))
        .withColumn("b",
          // div-by-16 is a power-of-two exponent shift — exact in double,
          // so the truncating cast is a true floor for non-negative days
          explode(sequence((datediff(col("p_start"), base) / 16).cast("int"),
            (datediff(col("p_end"), base) / 16).cast("int"))))
      val points = t(s, dir, "lineitem")
        .select(col("l_shipdate").cast("date").as("ship_date"), col("l_quantity"))
        .filter(col("ship_date") >= base)
        .withColumn("b", (datediff(col("ship_date"), base) / 16).cast("int"))
      points.join(periods, Seq("b"))
        .filter(col("ship_date").between(col("p_start"), col("p_end")))
        .groupBy(col("period_id"))
        .agg(count(lit(1)).as("n_ship"), Parity.dsum(col("l_quantity")).as("sum_qty"))
    },

    // ---- J16: Bloom-filter pruned selective join -------------------------
    QueryDef(
      "j16_bloom_prune",
      "Bloom-filter pruned join: fact rows filtered by a Bloom filter of the selective dim's keys BEFORE the exchange; false positives die in the exact join, so the result ≡ the plain join",
      Some("""
        SELECT c.c_mktsegment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_acctbal > 9900
        GROUP BY c.c_mktsegment
      """)) { (s, dir) =>
      // At 100 TB the selective dim can exceed the broadcast budget, so
      // the join shuffles BOTH sides; a Bloom filter of the dim keys
      // (built once, ~1.2 MB per million keys at 1% fpp) prunes the fact
      // to ~|matching| × (1 + fpp) rows before the exchange — the shuffle
      // carries ~1% of the fact instead of all of it. Correctness does
      // not depend on the filter: Bloom has no false negatives and the
      // exact join removes the false positives. (Spark's own runtime
      // bloom-filter rule does this under AQE for suitable plans; spelled
      // explicitly here so the pattern is pinned and oracle-gated.)
      val dim = t(s, dir, "customer")
        .filter(col("c_acctbal") > 9900)
        .select(col("c_custkey"), col("c_mktsegment"))
      val bf = dim.stat.bloomFilter("c_custkey", 100000L, 0.01)
      val mightContain = udf((k: java.lang.Long) => k != null && bf.mightContain(k.longValue()))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
        .filter(mightContain(col("o_custkey")))
        .hint("shuffle_hash") // model the at-scale non-broadcast join shape
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), Parity.dsum(col("o_totalprice")).as("revenue"))
    },

    // ---- DD25: SemDeDup-style semantic dedup -----------------------------
    QueryDef(
      "dd25_semantic_dedup",
      "Semantic dedup (SemDeDup): k-means cluster assignment blocks the corpus, cosine pairs are computed only WITHIN a cluster; planted duplicate embeddings flag as semdups of their source",
      Some("""
        WITH vecs0 AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        planted AS (
          SELECT vec_id + (SELECT max(vec_id) + 1 FROM vecs0) AS vec_id, v
          FROM vecs0 WHERE vec_id % 25 = 0
        ),
        allv AS (SELECT * FROM vecs0 UNION ALL SELECT * FROM planted),
        seeds AS (
          SELECT CASE vec_id WHEN 7 THEN 0 WHEN 23 THEN 1
                             WHEN 41 THEN 2 ELSE 3 END AS cid, v AS cv
          FROM vecs0 WHERE vec_id IN (7, 23, 41, 59)
        ),
        d AS (
          SELECT vec_id,
                 list(round(list_dot_product(v, v) + list_dot_product(cv, cv)
                            - 2 * list_dot_product(v, cv), 6) ORDER BY cid) AS ds
          FROM allv CROSS JOIN seeds GROUP BY vec_id
        ),
        assigned AS (
          SELECT a.vec_id, v,
                 CASE WHEN ds[1] <= ds[2] AND ds[1] <= ds[3] AND ds[1] <= ds[4] THEN 0
                      WHEN ds[2] <= ds[3] AND ds[2] <= ds[4] THEN 1
                      WHEN ds[3] <= ds[4] THEN 2 ELSE 3 END AS cluster
          FROM d a JOIN allv USING (vec_id)
        ),
        n AS (SELECT vec_id, cluster, v, sqrt(list_dot_product(v, v)) AS nrm FROM assigned),
        dup_ids AS (
          SELECT DISTINCT b.vec_id
          FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.99
        )
        SELECT n.vec_id, n.cluster, d.vec_id IS NOT NULL AS is_semdup
        FROM n LEFT JOIN dup_ids d ON n.vec_id = d.vec_id
      """)) { (s, dir) =>
      // SemDeDup at scale: all-pairs cosine over the corpus is O(N²);
      // clustering first bounds the pair stage to Σ|cluster|² — and k is
      // chosen ∝ N so clusters stay O(N/k) ≈ constant-sized (the paper
      // uses k ≈ N/1000 on billions of embeddings). Here k=4 seeded
      // clusters (dd23's seeds) demonstrate the blocking; the pair join
      // is an equi-join on the cluster id, never a cartesian product.
      val vecs0 = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val planted = vecs0.filter(col("vec_id") % 25 === 0)
        .crossJoin(broadcast(vecs0.agg(max(col("vec_id")).as("max_id"))))
        .select((col("vec_id") + col("max_id") + 1).as("vec_id"), col("v"))
      val allv = vecs0.unionByName(planted)
      val seeds = vecs0.filter(col("vec_id").isin(7L, 23L, 41L, 59L))
        .select(
          when(col("vec_id") === 7, 0).when(col("vec_id") === 23, 1)
            .when(col("vec_id") === 41, 2).otherwise(3).as("cid"),
          col("v").as("cv"))
      // one packed broadcast row carries all k centroids; distances fuse
      // through the codegen'd dot product; argmin CASE = stated tie rule
      val packed = seeds.groupBy()
        .agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("cs"))
      val dist = (c: Column) =>
        round(dot_native(col("v"), col("v")) + dot_native(c, c) - lit(2) * dot_native(col("v"), c), 6)
      val assigned = allv.crossJoin(broadcast(packed))
        .withColumn("ds", transform(col("cs"), c => dist(c.getField("cv"))))
        .withColumn("cluster",
          when(col("ds")(0) <= col("ds")(1) && col("ds")(0) <= col("ds")(2)
            && col("ds")(0) <= col("ds")(3), 0)
            .when(col("ds")(1) <= col("ds")(2) && col("ds")(1) <= col("ds")(3), 1)
            .when(col("ds")(2) <= col("ds")(3), 2)
            .otherwise(3))
        .select(col("vec_id"), col("cluster"), col("v"),
          sqrt(dot_native(col("v"), col("v"))).as("nrm"))
      val lhs = assigned.select(col("cluster"), col("vec_id").as("a_id"),
        col("v").as("av"), col("nrm").as("an"))
      val dupIds = lhs.join(assigned, Seq("cluster"))
        .filter(col("a_id") < col("vec_id"))
        .filter(round(dot_native(col("av"), col("v")) / (col("an") * col("nrm")), 6) >= 0.99)
        .select(col("vec_id")).distinct()
        .withColumn("is_semdup", lit(true))
      assigned.select(col("vec_id"), col("cluster"))
        .join(dupIds, Seq("vec_id"), "left")
        .withColumn("is_semdup", coalesce(col("is_semdup"), lit(false)))
    },

    // ---- DD26: greedy token-budget sequence packing ----------------------
    QueryDef(
      "dd26_sequence_pack",
      "Sequence packing for pretraining: docs fill fixed 512-token sequences greedily in deterministic id order per language; pure integer window math, one partitioned shuffle",
      Some("""
        WITH toks AS (
          SELECT doc_id, lang, len(string_split(text, ' ')) AS tok
          FROM documents
        ),
        packed AS (
          SELECT lang, doc_id, tok,
                 CAST(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS w
          FROM toks
        )
        SELECT lang, (w - tok) // 512 AS seq_id,
               COUNT(*) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS seq_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM packed GROUP BY lang, seq_id
      """)) { (s, dir) =>
      // The packing rule is "a doc starts the sequence its running-offset
      // falls in": seq = (cumsum − tok) div budget. All-integer, so the
      // binning is exact in both engines, and the only exchange is the
      // hash partition on lang for the window — each language packs
      // independently and in parallel, which is exactly how a 100 TB
      // corpus shards (window per shard key, never a global order).
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), size(Text.tokens).cast("long").as("tok"))
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks.withColumn("w", sum(col("tok")).over(w))
        .withColumn("seq_id", expr("(w - tok) DIV 512"))
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("seq_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    },

    // ---- DD27: sketch-vs-exact tolerance gates ---------------------------
    QueryDef(
      "dd27_sketch_gates",
      "Approximate sketches gated against exact answers: HLL distinct within 5% of exact, approx-percentile within 5% of the exact interpolated median — the booleans ARE the compared result",
      Some("""
        WITH words AS (
          SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        dw AS (SELECT lang, COUNT(DISTINCT w) AS exact_distinct FROM words GROUP BY lang),
        pc AS (
          SELECT lang, COUNT(*) AS n_docs,
                 round(quantile_cont(n_chars, 0.5), 6) AS p50_chars
          FROM documents GROUP BY lang
        )
        SELECT pc.lang, n_docs, exact_distinct,
               TRUE AS hll_ok, p50_chars, TRUE AS p50_ok
        FROM pc JOIN dw ON pc.lang = dw.lang
      """)) { (s, dir) =>
      // The 100 TB reality: exact COUNT(DISTINCT) and exact percentiles
      // need a full shuffle of the distinct keys; HLL and quantile
      // sketches are one streaming pass with mergeable state. This query
      // runs BOTH and emits `|approx − exact| ≤ tol·exact` booleans; the
      // oracle pins the exact values and asserts the booleans TRUE, so a
      // sketch drifting out of tolerance fails CORRECTNESS, not just a
      // spec. rsd=0.01 against a 5% gate leaves ~5σ of margin.
      val docs = t(s, dir, "documents")
      val words = Text.tokenRows(docs, Seq(col("lang")))
      val dw = words.groupBy("lang").agg(
        countDistinct(col("w")).as("exact_distinct"),
        approx_count_distinct(col("w"), 0.01).as("hll_distinct"))
      val pc = docs.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("p50_chars"),
        percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("p50_approx"))
      pc.join(dw, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("exact_distinct"),
          (abs(col("hll_distinct") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05).as("hll_ok"),
          col("p50_chars"),
          (abs(col("p50_approx") - col("p50_chars"))
            <= col("p50_chars") * 0.05).as("p50_ok"))
    },

    // ---- DD28: temperature-scaled mixture resampling ---------------------
    QueryDef(
      "dd28_mixture_reweight",
      "Data-mixture reweighting: per-language target weights p^0.5 (temperature-flattened), deterministic md5-hash selection at the derived rate; rates computed FROM the corpus in the same job",
      Some("""
        WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        tot AS (
          SELECT CAST(SUM(n) AS DOUBLE) AS big_n, SUM(sqrt(CAST(n AS DOUBLE))) AS s
          FROM counts
        ),
        rates AS (
          SELECT lang, n,
                 round(least(1.0, 0.6 * big_n / (s * sqrt(CAST(n AS DOUBLE)))), 9) AS rate
          FROM counts CROSS JOIN tot
        ),
        sel AS (
          SELECT d.lang, d.doc_id, r.n, r.rate,
                 ('0x' || substr(md5('mix#' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                   / 4294967296.0 < r.rate AS keep
          FROM documents d JOIN rates r ON d.lang = r.lang
        )
        SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs, MAX(rate) AS rate,
               CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_selected
        FROM sel GROUP BY lang
      """)) { (s, dir) =>
      // Mixture math: w_l ∝ p_l^τ with τ=0.5 flattens head languages and
      // boosts the tail (the standard multilingual-pretraining reweight);
      // rate_l = min(1, target·w_l/n_l) with target=0.6·N. The per-doc
      // keep decision is a pure md5 hash — reproducible across runs,
      // engines, and partitionings; only the tiny per-language rate table
      // shuffles (two 5-row aggregates), the corpus itself maps once.
      // round(rate, 9) pins the one float that crosses engines (house
      // pattern: dd9's ln parity).
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val tot = counts.agg(
        sum(col("n")).cast("double").as("big_n"),
        sum(sqrt(col("n").cast("double"))).as("s"))
      val rates = counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n"),
          round(least(lit(1.0),
            lit(0.6) * col("big_n") / (col("s") * sqrt(col("n").cast("double")))), 9)
            .as("rate"))
      docs.select(col("lang"), col("doc_id"))
        .join(broadcast(rates), Seq("lang"))
        .withColumn("keep",
          conv(substring(md5(concat(lit("mix#"), col("doc_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") / 4294967296.0 < col("rate"))
        .groupBy("lang")
        .agg(max(col("n")).cast("long").as("n_docs"), max(col("rate")).as("rate"),
          count(when(col("keep"), 1)).as("n_selected"))
    },

    // ---- DD29: bigram LM statistics (conditional next-token table) -------
    QueryDef(
      "dd29_bigram_lm",
      "Bigram language-model table: per-token top-3 next tokens with exact conditional probabilities, for frequent tokens only — counts are map-side-combined, the window partitions by token",
      Some("""
        WITH tok AS (
          SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
        ),
        big AS (
          SELECT w AS prev, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS next
          FROM tok
        ),
        pair_counts AS (
          SELECT prev, next, COUNT(*) AS n FROM big
          WHERE next IS NOT NULL GROUP BY prev, next
        ),
        with_tot AS (
          SELECT prev, next, n,
                 CAST(SUM(n) OVER (PARTITION BY prev) AS BIGINT) AS total,
                 ROW_NUMBER() OVER (PARTITION BY prev ORDER BY n DESC, next) AS rnk
          FROM pair_counts
        )
        SELECT prev, next, n, CAST(rnk AS INT) AS rnk,
               round(CAST(n AS DOUBLE) / total, 9) AS cond_prob
        FROM with_tot WHERE rnk <= 3 AND total >= 100
      """)) { (s, dir) =>
      // The LM-statistics shape at corpus scale: bigram extraction is a
      // NARROW per-doc array pass (no pos-explode join), the (prev,next)
      // count is ONE map-side-combined groupBy, and the top-3 window
      // partitions by the token — per-token groups are vocabulary-bounded
      // so no partition outgrows an executor. The ≥100 support floor is
      // the classic LM cutoff and also bounds the result.
      val docs = Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id")), 2)
      val pairs = docs.select(explode(Text.bigrams(col("arr"), "prev", "next")).as("p"))
        .select(col("p.prev").as("prev"), col("p.next").as("next"))
      val counts = pairs.groupBy(col("prev"), col("next")).agg(count(lit(1)).as("n"))
      val wTot = Window.partitionBy("prev")
      val wRnk = Window.partitionBy("prev").orderBy(col("n").desc, col("next"))
      counts
        .withColumn("total", sum(col("n")).over(wTot))
        .withColumn("rnk", row_number().over(wRnk))
        .filter(col("rnk") <= 3 && col("total") >= 100)
        .select(col("prev"), col("next"), col("n"), col("rnk"),
          round(col("n").cast("double") / col("total"), 9).as("cond_prob"))
    },

    // ---- DD34: PageRank as relational algebra (link-graph curation) ------
    QueryDef(
      "dd34_pagerank",
      "PageRank over the part↔supplier link graph, 3 power iterations unrolled — each iteration is ONE edge equi-join + ONE dst-keyed groupBy; per-edge contributions round then sum in DECIMAL so the ranks are bit-reproducible",
      Some("""
        WITH e0 AS (
          SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                          's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM lineitem
        ),
        edges AS (
          SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
        ),
        deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
        it1 AS (
          SELECT n.node,
                 round(0.15 / nn.n + CAST(SUM(CAST(round(0.85 * r.r / deg.d, 12) AS DECIMAL(28,12))) AS DOUBLE), 12) AS r
          FROM nodes n
          JOIN edges e ON e.dst = n.node
          JOIN r0 r ON r.node = e.src
          JOIN deg ON deg.src = e.src
          CROSS JOIN nn
          GROUP BY n.node, nn.n
        ),
        it2 AS (
          SELECT n.node,
                 round(0.15 / nn.n + CAST(SUM(CAST(round(0.85 * r.r / deg.d, 12) AS DECIMAL(28,12))) AS DOUBLE), 12) AS r
          FROM nodes n
          JOIN edges e ON e.dst = n.node
          JOIN it1 r ON r.node = e.src
          JOIN deg ON deg.src = e.src
          CROSS JOIN nn
          GROUP BY n.node, nn.n
        ),
        it3 AS (
          SELECT n.node,
                 round(0.15 / nn.n + CAST(SUM(CAST(round(0.85 * r.r / deg.d, 12) AS DECIMAL(28,12))) AS DOUBLE), 12) AS r
          FROM nodes n
          JOIN edges e ON e.dst = n.node
          JOIN it2 r ON r.node = e.src
          JOIN deg ON deg.src = e.src
          CROSS JOIN nn
          GROUP BY n.node, nn.n
        )
        SELECT node, round(r, 9) AS rank FROM it3
        ORDER BY rank DESC, node LIMIT 20
      """)) { (s, dir) =>
      // Link-graph ranking is a first-class curation signal for web-crawl
      // corpora (domain authority gates what enters the training set).
      // The relational formulation: ranks live in a node-keyed table,
      // every power iteration is edges⋈ranks (src key) + groupBy(dst) —
      // two shuffle keys, zero driver-side graph state, so the iteration
      // cost is O(|E|/cluster) regardless of graph size. Determinism
      // across engines: per-edge contributions are IEEE double ops
      // rounded to 12 dp, summed in DECIMAL (order-free), re-rounded —
      // the same freeze-the-float recipe as dd30/TF-IDF. The undirected
      // part↔supplier graph keeps every node reachable, matching the
      // random-walk form; a 100 TB web graph swaps the edge source and
      // nothing else.
      // LONG node ids (tag<<40 | key) for the iterations — the edge set
      // is the thing that grows with data, and shuffling/caching longs
      // beats strings ~3× on bytes; the display string materializes only
      // in the final node-bounded projection, BEFORE the rank/node
      // orderBy so rank-tie ordering across the LIMIT cut still follows
      // the string collation the oracle uses.
      // ENCODER CEILING: the tag bit lives at 2^40, so keys must stay
      // below 2^40 (~1.1e12) — guarded with raise_error so a graph whose
      // keys outgrow the tag scheme fails loudly and diagnosably instead
      // of silently colliding part/supplier node ids.
      def ck(c: Column): Column =
        when(c >= (1L << 40), raise_error(concat(
          lit("PageRank node encoder supports keys < 2^40, got "),
          c.cast("string")))).otherwise(c)
      val e0 = t(s, dir, "lineitem").select(
        ck(col("l_partkey")).as("src"),
        (ck(col("l_suppkey")) + lit(1L << 40)).as("dst")).distinct()
      def dec(c: Column): Column = concat(
        when(c < (1L << 40), "p").otherwise("s"),
        pmod(c, lit(1L << 40)).cast("string"))
      // plain cache, no pre-partitioning on the broadcast path: the
      // iteration joins edges against a BROADCAST contribution table, so
      // the edge set is never shuffled at all — a keyed repartition would
      // add a shuffle the loop never repays (measured: +0.5 s here)
      val edges0 = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst"))).cache()
      // the rank/degree state is NODE-bounded, orders of magnitude
      // smaller than the edge set — in the undirected graph every node
      // appears as a src, so deg doubles as the node table
      val deg = edges0.groupBy(col("src")).agg(count(lit(1)).as("d")).cache()
      // BROADCAST GATE (round-10): the contribution table is node-scale,
      // and an unconditional broadcast hint would throw (not degrade) on
      // a graph whose nodes outgrow the broadcast budget. Gate on the
      // measured node count (deg is cached and needed anyway): over the
      // budget, drop the hint and re-cache the edges pre-partitioned on
      // the join key so the per-iteration hash join reuses the cached
      // partitioning instead of re-exchanging the edge set every round.
      // Default budget 10M nodes ≈ 0.5 GB serialized — comfortably under
      // executor/driver broadcast limits; tune via session conf.
      val nNodes = deg.count()
      val useBroadcast = nNodes <= s.conf
        .get("spark.graft.pagerank.broadcastMaxNodes", "10000000").toLong
      val edges = if (useBroadcast) edges0 else {
        val e = edges0.repartition(col("src")).cache()
        e.count() // materialize before dropping the unpartitioned cache
        edges0.unpersist(blocking = false)
        e
      }
      val nn = broadcast(deg.agg(count(lit(1)).as("n")))
      var ranks = deg.crossJoin(nn)
        .select(col("src").as("node"), (lit(1.0) / col("n")).as("r"))
      for (_ <- 1 to 3) {
        // per-NODE contribution computed once on the small table, THEN
        // replicated across edges by a broadcast join (gated above) —
        // the edge set is never shuffled; the dst groupBy is each
        // iteration's only exchange.
        val contrib = ranks.join(deg, col("node") === col("src"))
          .select(col("src").as("c_src"),
            round(lit(0.85) * col("r") / col("d"), 12)
              .cast("decimal(28,12)").as("contrib"))
        val withContrib =
          if (useBroadcast) edges.join(broadcast(contrib), col("src") === col("c_src"))
          else edges.join(contrib, col("src") === col("c_src"))
        ranks = withContrib
          .groupBy(col("dst").as("node"))
          .agg(sum(col("contrib")).as("acc"))
          .crossJoin(nn)
          .select(col("node"),
            round(lit(0.15) / col("n") + col("acc").cast("double"), 12).as("r"))
      }
      ranks.select(dec(col("node")).as("node"), round(col("r"), 9).as("rank"))
        .orderBy(col("rank").desc, col("node")).limit(20)
    },

    // ---- W11: Z-order (Morton) clustering for multi-dim data skipping ----
    QueryDef(
      "w11_zorder_layout",
      "Z-order layout vs linear layout, measured: rows binned into 32 'files' by Morton-interleaved (nation, balance-bucket) vs by balance alone; per-file min-max spans of BOTH dims show the multi-dim pruning bound",
      Some("""
        WITH b AS (
          SELECT c_custkey,
                 CAST(c_nationkey AS INT) AS nat,
                 LEAST(31, GREATEST(0, CAST(floor((c_acctbal + 999.0) / 344.0) AS INT))) AS bb
          FROM customer
        ),
        z AS (
          SELECT *,
                 (((nat >> 0) & 1) << 1) + (((bb >> 0) & 1) << 0)
               + (((nat >> 1) & 1) << 3) + (((bb >> 1) & 1) << 2)
               + (((nat >> 2) & 1) << 5) + (((bb >> 2) & 1) << 4)
               + (((nat >> 3) & 1) << 7) + (((bb >> 3) & 1) << 6)
               + (((nat >> 4) & 1) << 9) + (((bb >> 4) & 1) << 8) AS zv
          FROM b
        ),
        files AS (
          SELECT 'zorder' AS layout, CAST(zv // 32 AS INT) AS file, nat, bb FROM z
          UNION ALL
          SELECT 'linear' AS layout, bb AS file, nat, bb FROM z
        )
        SELECT layout, file, COUNT(*) AS n_rows,
               MAX(nat) - MIN(nat) AS nat_span,
               MAX(bb) - MIN(bb) AS bb_span
        FROM files GROUP BY layout, file
      """)) { (s, dir) =>
      // Data skipping at 100 TB lives or dies on file-level min/max zone
      // maps: a predicate prunes a file only if the file's value RANGE
      // misses it. Sorting by one column makes that column tight and
      // every other column full-range; Morton interleaving bounds BOTH
      // dims per file (here: nat_span ≤ 3, bb_span ≤ 7 by construction
      // — the low 5 z-bits hold 2 nation + 3 balance bits). The result
      // quantifies it: every zorder file is a small box, every linear
      // file is a full-height stripe. Writing is one narrow map + the
      // same groupBy a partitioned write would do — no extra shuffles.
      val b = t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey").cast("int").as("nat"),
        least(lit(31), greatest(lit(0),
          floor((col("c_acctbal") + 999.0) / 344.0).cast("int"))).as("bb"))
      val zbits = (0 until 5).map { i =>
        shiftleft(shiftright(col("nat"), i).bitwiseAND(lit(1)), 2 * i + 1) +
          shiftleft(shiftright(col("bb"), i).bitwiseAND(lit(1)), 2 * i)
      }.reduce(_ + _)
      val z = b.withColumn("zv", zbits)
      val files = z.select(lit("zorder").as("layout"),
        (col("zv") / 32).cast("int").as("file"), col("nat"), col("bb"))
        .unionByName(z.select(lit("linear").as("layout"),
          col("bb").as("file"), col("nat"), col("bb")))
      files.groupBy(col("layout"), col("file"))
        .agg(count(lit(1)).as("n_rows"),
          (max(col("nat")) - min(col("nat"))).as("nat_span"),
          (max(col("bb")) - min(col("bb"))).as("bb_span"))
    },

    // ---- W10: percentile-boundary range sharding -------------------------
    QueryDef(
      "w10_range_shards",
      "Range-sharded export layout: shard boundaries are EXACT septile percentiles (planned, not sampled), shard = #boundaries below the value; per-shard counts + key checksum pin the layout",
      Some("""
        WITH bs AS (
          SELECT list_transform(
                   quantile_cont(o_totalprice,
                     [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
                   b -> round(b, 6)) AS bs
          FROM orders
        )
        SELECT len(list_filter(bs, b -> o_totalprice > b)) AS shard,
               COUNT(*) AS n_rows,
               round(MIN(o_totalprice), 2) AS min_price,
               round(MAX(o_totalprice), 2) AS max_price,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
        FROM orders CROSS JOIN bs
        GROUP BY shard
      """)) { (s, dir) =>
      // repartitionByRange SAMPLES boundaries — fast but non-reproducible
      // run to run. For an export layout that must be stable (resumable
      // writes, downstream bucket joins, audits), compute the boundaries
      // exactly from the data, broadcast the 7-value array, and assign
      // shard = count(boundaries < value). Two passes over the keys, no
      // sampling nondeterminism; the checksum column makes layout drift
      // visible immediately.
      val orders = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val bs = orders.agg(
        transform(
          percentile(col("o_totalprice"),
            array(Seq(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875).map(lit): _*)),
          b => round(b, 6)).as("bs"))
      orders.crossJoin(broadcast(bs))
        .withColumn("shard", size(filter(col("bs"), b => col("o_totalprice") > b)))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"),
          sum(col("o_orderkey")).as("key_checksum"))
    },

    // ---- DD91: label-propagation communities ------------------------------
    QueryDef(
      "dd91_label_propagation",
      "Community detection by SYNCHRONOUS label propagation (Raghavan et al. '07 made deterministic: every node adopts its neighbors' modal label each round, ties to the MIN label) over the part↔supplier graph, 3 unrolled rounds — per round ONE edge⋈label join + ONE (dst,label)-keyed count + a dst-keyed argmax window; label state stays node-bounded, edges cached and never re-shuffled. Complements dd34 (authority) and dd11 (connectivity): LPA finds DENSE regions, which connected components cannot — a component is one island regardless of internal structure",
      Some("""
        WITH e0 AS (
          SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                          's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM lineitem
        ),
        edges AS (
          SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
        ),
        l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
        c1 AS (SELECT e.dst AS node, l.lbl, CAST(count(*) AS BIGINT) AS c
               FROM edges e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
        l1 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (PARTITION BY node
                          ORDER BY c DESC, lbl) AS rn FROM c1) WHERE rn = 1),
        c2 AS (SELECT e.dst AS node, l.lbl, CAST(count(*) AS BIGINT) AS c
               FROM edges e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
        l2 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (PARTITION BY node
                          ORDER BY c DESC, lbl) AS rn FROM c2) WHERE rn = 1),
        c3 AS (SELECT e.dst AS node, l.lbl, CAST(count(*) AS BIGINT) AS c
               FROM edges e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
        l3 AS (SELECT node, lbl FROM (
                 SELECT node, lbl, row_number() OVER (PARTITION BY node
                          ORDER BY c DESC, lbl) AS rn FROM c3) WHERE rn = 1),
        tot AS (SELECT CAST(count(DISTINCT lbl) AS BIGINT) AS n_communities FROM l3)
        SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
               max(tot.n_communities) AS n_communities
        FROM l3 CROSS JOIN tot
        GROUP BY lbl ORDER BY n_members DESC, community LIMIT 20
      """)) { (s, dir) =>
      // Synchronous + min-label tie-break = fully deterministic (async
      // LPA's update-order dependence cannot cross an engine boundary).
      // Three engine-level moves make this the fast form of the oracle's
      // general recurrence (rows identical; measured 8.9 s → see bench):
      //  1. ORDER-PRESERVING LONG NODE IDS. Labels are node ids and the
      //     tie-break is MIN STRING label, so the iterations would
      //     otherwise shuffle/cache strings. Encode "p<digits>" as
      //     tag<<62 | scaled<<5 | len where scaled = key·10^(9-len)
      //     left-aligns the digits: long order == lexicographic string
      //     order (shorter prefix wins via len), so numeric min IS the
      //     string min. Decode only at the final 21k-row projection.
      //  2. ROUND-1 ALGEBRA. With identity init every (dst, lbl=src)
      //     pair is unique (edges are distinct), so round 1's join +
      //     count + argmax collapses to min(src) per dst — one aggregate
      //     over the edge table, no join.
      //  3. The per-round argmax is a node-keyed HASH aggregate
      //     (min(struct(-c, lbl)) = the (c DESC, lbl ASC) winner) with
      //     map-side partial aggregation — no per-round sort; and the
      //     edge table is cached pre-partitioned on the join key so only
      //     the node-bounded label state moves per round.
      // Parallelism grows with the node count; nothing is driver-side;
      // all state is exact integer counts and longs.
      val pow10 = array((1 to 9).map(i =>
        lit(math.pow(10, 9 - i).toLong)): _*)
      // ENCODER CEILING: the left-aligned scheme supports keys of at most
      // 9 decimal digits (pow10 has 9 entries; a 10th digit would make
      // element_at out-of-range). Guarded with raise_error so a scale-up
      // past the ceiling fails loudly with a diagnosable message instead
      // of an opaque ANSI element_at error (or silent NULL edges).
      def enc(tag: Int, key: Column): Column = {
        val len = length(key.cast("string"))
        when(len > 9, raise_error(concat(
          lit("LPA long-id encoder supports keys up to 9 decimal digits, got "),
          key.cast("string"))))
          .otherwise(lit(tag.toLong * (1L << 62)) +
            key * element_at(pow10, len) * 32L + len).cast("long")
      }
      val decTag = (c: Column) => shiftright(c, 62)
      val decLen = (c: Column) => pmod(c, lit(32L))
      def dec(c: Column): Column = concat(
        when(decTag(c) === 0L, "p").otherwise("s"),
        (pmod(shiftright(c, 5), lit(1L << 31)) / element_at(pow10, decLen(c).cast("int")))
          .cast("long").cast("string"))
      val e0 = t(s, dir, "lineitem").select(
        enc(0, col("l_partkey")).as("src"),
        enc(1, col("l_suppkey")).as("dst")).distinct()
      val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src")).sortWithinPartitions("src").cache()
      var labels = edges.groupBy(col("dst").as("node"))
        .agg(min(col("src")).as("lbl"))
      for (_ <- 2 to 3) {
        val cnt = edges.join(labels.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node"), col("lbl"))
          .agg(count(lit(1)).as("c"))
        labels = cnt
          .groupBy(col("node"))
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("lbl"))).as("m"))
          .select(col("node"), col("m.lbl").as("lbl"))
      }
      // distinct-label count = row count of the per-label rollup; the
      // decode to display strings happens on label-bounded rows only
      val byLbl = labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_members"))
      val tot = byLbl.agg(count(lit(1)).as("n_communities"))
      byLbl.crossJoin(broadcast(tot))
        .select(dec(col("lbl")).as("community"), col("n_members"),
          col("n_communities"))
        .orderBy(col("n_members").desc, col("community")).limit(20)
    },

    // ---- J18: interval x interval overlap self-join ----------------------
    // j15 solved point-in-interval; this is the harder sibling both sides
    // need at scale: BOTH relations are intervals (order-activity windows),
    // and the ask is overlapping WINDOW PAIRS per customer. A naive
    // overlap predicate compiles to a nested-loop join; the bucketized
    // form stays an equi-join and dedups pairs without a distinct.
    QueryDef(
      "j18_interval_overlap",
      "Interval x interval overlap self-join: order-activity windows [o_orderdate, +1+key%13 days] per customer; both sides explode to width-16 day buckets (span<=14 => <=2 buckets each), pairs equi-join on (custkey, bucket), and each overlapping pair is emitted EXACTLY ONCE by the canonical-bucket rule (bucket == bucket(max(start_a, start_b)) — the overlap's start lies in both windows, so its bucket is shared) — no distinct, no nested-loop join, key cardinality grows with data",
      Some("""
        WITH w AS (
          SELECT o_orderkey AS k, o_custkey AS c,
                 date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS s,
                 date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
                   + 1 + CAST(o_orderkey % 13 AS INT) AS e
          FROM orders
        )
        SELECT a.c AS custkey, COUNT(*) AS n_overlap_pairs,
               CAST(SUM(least(a.e, b.e) - greatest(a.s, b.s) + 1) AS BIGINT)
                 AS sum_overlap_days,
               MIN(a.k * 10000000 + b.k) AS min_pair_id
        FROM w a JOIN w b
          ON a.c = b.c AND a.k < b.k
         AND greatest(a.s, b.s) <= least(a.e, b.e)
        GROUP BY 1
      """)) { (s, dir) =>
      val base = lit("1990-01-01").cast("date")
      val w0 = t(s, dir, "orders").select(
        col("o_orderkey").as("k"), col("o_custkey").as("c"),
        datediff(col("o_orderdate").cast("date"), base).as("s"))
        .withColumn("e", col("s") + lit(1) + (col("k") % 13).cast("int"))
      // each window spans <=15 days => covers <=2 width-16 buckets
      val bw = w0.withColumn("b",
        explode(sequence((col("s") / 16).cast("int"), (col("e") / 16).cast("int"))))
      val a = bw.select(col("c"), col("b"), col("k").as("ka"),
        col("s").as("sa"), col("e").as("ea"))
      val b = bw.select(col("c"), col("b"), col("k").as("kb"),
        col("s").as("sb"), col("e").as("eb"))
      a.join(b, Seq("c", "b"))
        .filter(col("ka") < col("kb")
          && greatest(col("sa"), col("sb")) <= least(col("ea"), col("eb"))
          // canonical bucket: emit the pair only from the bucket holding
          // the overlap's first day — shared by construction, so exactly
          // one of the <=4 bucket-collisions survives (no distinct needed)
          && (greatest(col("sa"), col("sb")) / 16).cast("int") === col("b"))
        .groupBy(col("c").as("custkey"))
        .agg(count(lit(1)).as("n_overlap_pairs"),
          sum(least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")) + 1)
            .cast("long").as("sum_overlap_days"),
          min(col("ka") * 10000000 + col("kb")).as("min_pair_id"))
    })
}
