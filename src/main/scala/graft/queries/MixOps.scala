package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** Corpus planning + survivorship operators: the "what do we actually
  * train on" layer that sits above the dedup/quality funnel (dd17) —
  * temperature-weighted mixture planning with epoch caps, the marginal
  * novelty curve that tells you when more of a source stops paying, and
  * the MDM-style golden-record vote the reference's person-dedup tables
  * feed into (`create_person_deduplication_table.py` survivorship step).
  *
  * House float discipline throughout: normalizers accumulate in DECIMAL
  * (order-free), doubles appear only in expressions whose operand order is
  * written identically on the Spark and DuckDB sides, outputs round(6).
  */
object MixOps {

  val defs: Seq[QueryDef] = Seq(

    // ---- DD50: temperature-sampled training-mixture planner ---------------
    QueryDef(
      "dd50_mix_epochs",
      "Training-mix epoch planner: per-source token counts, temperature tau=0.5 mixture weights (p_i ~ sqrt(tokens), the multilingual-sampling standard), a 3x-corpus token budget, and per-source repeat epochs capped at 4 (the data-constrained-scaling rule of thumb) — sqrt weights round(6) into DECIMAL so the normalizer is order-free; everything after the one source groupBy is source-bounded (20 rows) and broadcasts",
      Some("""
        WITH avail AS (
          SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
          FROM documents GROUP BY 1
        ),
        r AS (
          SELECT source, tok,
                 CAST(round(sqrt(tok), 6) AS DECIMAL(18,6)) AS rs
          FROM avail
        ),
        tot AS (
          SELECT CAST(SUM(rs) AS DOUBLE) AS total_rs,
                 CAST(SUM(tok) AS BIGINT) AS total_tok
          FROM r
        ),
        plan AS (
          SELECT source, tok,
                 round(CAST(rs AS DOUBLE) / total_rs, 6) AS mix_weight,
                 (CAST(rs AS DOUBLE) / total_rs) * 3.0 * total_tok / tok AS raw
          FROM r, tot
        )
        SELECT source, tok AS avail_tokens, mix_weight,
               round(LEAST(raw, 4.0), 6) AS epochs,
               raw > 4.0 AS capped,
               CAST(round(round(LEAST(raw, 4.0), 6) * tok, 0) AS BIGINT)
                 AS effective_tokens
        FROM plan
      """)) { (s, dir) =>
      // The entire planner is ONE shuffle (the per-source token groupBy);
      // the 20-row source relation then cross-joins a broadcast 1-row
      // normalizer — at 100 TB the token count is the only thing that
      // touches the corpus, and it's a map-side-combined sum. tau=0.5
      // flattens the source distribution (sqrt), the 4-epoch cap encodes
      // that repeating data beyond ~4x stops helping (data-constrained
      // scaling), and effective_tokens is the budget auditors read.
      val avail = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(size(Text.tokens).cast("long")).as("tok"))
      val r = avail.withColumn("rs",
        round(sqrt(col("tok")), 6).cast("decimal(18,6)"))
      val tot = r.agg(
        sum(col("rs")).cast("double").as("total_rs"),
        sum(col("tok")).cast("long").as("total_tok"))
      val raw = (col("rs").cast("double") / col("total_rs")) * lit(3.0) *
        col("total_tok") / col("tok")
      r.crossJoin(broadcast(tot))
        .withColumn("mix_weight", round(col("rs").cast("double") / col("total_rs"), 6))
        .withColumn("raw", raw)
        .select(col("source"), col("tok").as("avail_tokens"), col("mix_weight"),
          round(least(col("raw"), lit(4.0)), 6).as("epochs"),
          (col("raw") > 4.0).as("capped"),
          round(round(least(col("raw"), lit(4.0)), 6) * col("tok"), 0)
            .cast("long").as("effective_tokens"))
    },

    // ---- DD51: n-gram saturation / marginal-novelty curve -----------------
    QueryDef(
      "dd51_gram_saturation",
      "Corpus saturation curve: docs in arrival (doc_id) order split into 10 tranches; per tranche, how many of its distinct word-8-grams are NEW vs already seen in earlier tranches — first-appearance attribution is one gram-keyed min-bucket groupBy (the w18 first-seen identity applied to grams), the curve itself is tranche-bounded (10 rows) so the cumulative sum is a broadcast inequality join, never a window",
      Some("""
        WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        dg AS (
          SELECT DISTINCT doc_id, CAST((doc_id * 10) // m AS INT) AS bucket,
                 unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS gram
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents), mx
        ),
        per AS (
          SELECT bucket, CAST(count(*) AS BIGINT) AS n_instances
          FROM dg GROUP BY 1
        ),
        fb AS (SELECT gram, MIN(bucket) AS bucket FROM dg GROUP BY 1),
        nw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_grams FROM fb GROUP BY 1),
        cm AS (
          SELECT p.bucket, CAST(SUM(COALESCE(n.new_grams, 0)) AS BIGINT) AS cum_grams
          FROM per p LEFT JOIN nw n ON n.bucket <= p.bucket
          GROUP BY 1
        )
        SELECT per.bucket, per.n_instances,
               COALESCE(nw.new_grams, 0) AS new_grams,
               cm.cum_grams,
               round(CAST(COALESCE(nw.new_grams, 0) AS DOUBLE) / per.n_instances, 6)
                 AS novelty_rate
        FROM per
        LEFT JOIN nw ON per.bucket = nw.bucket
        JOIN cm ON per.bucket = cm.bucket
      """)) { (s, dir) =>
      // Scale shape: the gram stream (sum of per-doc distinct grams ~ total
      // tokens) pays exactly TWO gram-keyed aggregations — per-bucket
      // instance counts and the min-bucket first-appearance — and nothing
      // downstream ever sees a gram again: per/nw/cm are 10-row relations
      // stitched with broadcast joins. The inequality cumsum join replaces
      // a global window (the single-partition antipattern) at zero cost
      // because the left side is tranche-bounded.
      val docs = t(s, dir, "documents")
      val m = broadcast(docs.agg((max(col("doc_id")) + 1).as("m")))
      val dg = docs
        .select(col("doc_id"), Text.tokens.as("w"))
        .crossJoin(m)
        .select(col("doc_id"),
          expr("CAST((doc_id * 10) div m AS INT)").as("bucket"),
          explode(Text.shingleSet(col("w"), 8)).as("gram"))
      val per = dg.groupBy(col("bucket")).agg(count(lit(1)).as("n_instances"))
      val fb = dg.groupBy(col("gram")).agg(min(col("bucket")).as("bucket"))
      val nw = fb.groupBy(col("bucket")).agg(count(lit(1)).as("new_grams"))
      val cm = per.as("p")
        .join(broadcast(nw.as("n")), col("n.bucket") <= col("p.bucket"), "left")
        .groupBy(col("p.bucket"))
        .agg(sum(coalesce(col("n.new_grams"), lit(0L))).as("cum_grams"))
      per
        .join(broadcast(nw), Seq("bucket"), "left")
        .join(broadcast(cm), Seq("bucket"))
        .select(col("bucket"), col("n_instances"),
          coalesce(col("new_grams"), lit(0L)).as("new_grams"),
          col("cum_grams"),
          round(coalesce(col("new_grams"), lit(0L)).cast("double") /
            col("n_instances"), 6).as("novelty_rate"))
    },

    // ---- E7: golden-record survivorship vote ------------------------------
    QueryDef(
      "e7_golden_record",
      "MDM survivorship: within each e1-style fingerprint cluster (>=2 members), elect the canonical market segment by majority vote with a deterministic (count DESC, value ASC) tie-break, plus min-name and max-balance survivor rules — votes, sizes, and the winner window all ride ONE cluster-keyed exchange",
      Some("""
        WITH cl AS (
          SELECT c_custkey, c_mktsegment, c_acctbal, c_name,
                 md5(concat_ws('|', c_nationkey,
                               CAST(floor(c_acctbal / 500) AS BIGINT))) AS cluster_id
          FROM customer
        ),
        sz AS (
          SELECT cluster_id, CAST(count(*) AS BIGINT) AS group_size,
                 MIN(c_name) AS survivor_name,
                 MAX(c_acctbal) AS max_bal
          FROM cl GROUP BY 1 HAVING count(*) >= 2
        ),
        votes AS (
          SELECT cluster_id, c_mktsegment, CAST(count(*) AS BIGINT) AS c
          FROM cl GROUP BY 1, 2
        ),
        win AS (
          SELECT cluster_id, c_mktsegment, c,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY c DESC, c_mktsegment) AS rn
          FROM votes
        )
        SELECT sz.cluster_id, sz.group_size,
               win.c_mktsegment AS canonical_segment,
               round(CAST(win.c AS DOUBLE) / sz.group_size, 6) AS vote_share,
               sz.survivor_name, sz.max_bal
        FROM sz JOIN win ON sz.cluster_id = win.cluster_id AND win.rn = 1
      """)) { (s, dir) =>
      // Survivorship = the step AFTER matching: e1 finds the clusters,
      // this elects one golden row per cluster. Every relation here keys
      // on cluster_id, so Catalyst reuses a single hash-partitioning for
      // the size aggregate, the vote count, and the winner window — the
      // max(acctbal)/min(name) rules are exact picks (no float
      // accumulation), and the vote tie-break is total-ordered so the
      // golden record is stable under any shuffle order.
      val cl = t(s, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"), col("c_name"),
        md5(concat_ws("|", col("c_nationkey"),
          floor(col("c_acctbal") / 500).cast("long"))).as("cluster_id"))
      val sz = cl.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("group_size"),
          min(col("c_name")).as("survivor_name"),
          max(col("c_acctbal")).as("max_bal"))
        .filter(col("group_size") >= 2)
      val votes = cl.groupBy(col("cluster_id"), col("c_mktsegment"))
        .agg(count(lit(1)).as("c"))
      val win = votes.withColumn("rn",
        row_number().over(Window.partitionBy("cluster_id")
          .orderBy(col("c").desc, col("c_mktsegment"))))
        .filter(col("rn") === 1)
      sz.join(win, "cluster_id")
        .select(col("cluster_id"), col("group_size"),
          col("c_mktsegment").as("canonical_segment"),
          round(col("c").cast("double") / col("group_size"), 6).as("vote_share"),
          col("survivor_name"), col("max_bal"))
    },

    // ---- DD56: cross-source duplication matrix ----------------------------
    QueryDef(
      "dd56_source_overlap",
      "Data-card source-overlap matrix: per unordered source pair, how many 8-word-prefix document fingerprints they share (the cross-provider duplication a mixture planner must not double-count) — fingerprint groups are source-bounded (<=20), so the per-fingerprint pair fan-out is capped and the matrix build is one fingerprint-keyed self-join; per-source totals broadcast",
      Some("""
        WITH fs AS (
          SELECT DISTINCT array_to_string(string_split(text, ' ')[1:8], ' ') AS fp,
                 source
          FROM documents
        ),
        cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS nf FROM fs GROUP BY 1),
        pairs AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(count(*) AS BIGINT) AS shared
          FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT source_a, source_b, shared, ca.nf AS nf_a, cb.nf AS nf_b,
               round(CAST(shared AS DOUBLE) / (ca.nf + cb.nf - shared), 6) AS overlap
        FROM pairs
        JOIN cnt ca ON source_a = ca.source
        JOIN cnt cb ON source_b = cb.source
      """)) { (s, dir) =>
      // Same scale law as every fingerprint op here: the corpus is touched
      // once to build (fp, source) pairs, the self-join fans out only
      // within a fingerprint's source set (bounded by the source count,
      // not the corpus), and everything after the pair groupBy is a
      // source-pair-bounded relation joined against a broadcast 20-row
      // count table. Prefix fingerprints (not exact-text md5) because
      // cross-provider duplicates in the wild are near-dups: shared
      // openings with divergent tails.
      val fs = t(s, dir, "documents")
        .select(Text.fingerprint.as("fp"), col("source"))
        .distinct()
        .cache()
      val cnt = fs.groupBy(col("source")).agg(count(lit(1)).as("nf"))
      val pairs = fs.as("a").join(fs.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("shared"))
      val ca = broadcast(cnt.select(col("source").as("source_a"), col("nf").as("nf_a")))
      val cb = broadcast(cnt.select(col("source").as("source_b"), col("nf").as("nf_b")))
      pairs.join(ca, Seq("source_a")).join(cb, Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("shared"),
          col("nf_a"), col("nf_b"),
          round(col("shared").cast("double") /
            (col("nf_a") + col("nf_b") - col("shared")), 6).as("overlap"))
    },

    // ---- DD92: HLL inclusion-exclusion overlap ----------------------------
    QueryDef(
      "dd92_hll_overlap",
      "dd56's overlap matrix by HLL inclusion-exclusion — est(A∩B) = hll(A) + hll(B) − hll(A∪B), each a ONE-PASS mergeable sketch, gated |est − exact| <= 5%·(|A|+|B|) against the exact self-join answer (dd27's booleans-ARE-the-result pattern). The scale story dd56 can't tell: a superstar fingerprint shared by every source blows the exact self-join's fan-out, but the sketch path never materializes a pair — at 100 TB the gate is how you prove the cheap estimator is safe to serve",
      Some("""
        WITH fs AS (
          SELECT DISTINCT array_to_string(string_split(text, ' ')[1:8], ' ') AS fp,
                 source
          FROM documents
        ),
        cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS nf FROM fs GROUP BY 1),
        pairs AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(count(*) AS BIGINT) AS shared
          FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT source_a, source_b, shared, ca.nf AS nf_a, cb.nf AS nf_b,
               TRUE AS hll_ok
        FROM pairs
        JOIN cnt ca ON source_a = ca.source
        JOIN cnt cb ON source_b = cb.source
      """)) { (s, dir) =>
      // Mergeable-sketch plan (the whole point of HLL at 100 TB): ONE
      // corpus pass builds a per-source DataSketches HLL blob
      // (hll_sketch_agg, lgK=16 ≈ rsd 0.004), so the source table is ~S
      // rows of ~48 KB sketches. The pairwise stage then runs entirely
      // on those S rows — hll_union(a, b) merges two blobs driver-cheap,
      // no fingerprint ever re-expands across pairs (the previous
      // OR-predicate join replicated the distinct corpus ≈(S−1)× and made
      // this the inventory's slowest, most GC-bound query). Three lgK=16
      // sketches stack ~sqrt(3)·0.004·(nf_a+nf_b) of 1σ error on the
      // inclusion-exclusion difference; the 5% gate leaves >5σ.
      val fs = t(s, dir, "documents")
        .select(Text.fingerprint.as("fp"), col("source"))
        .distinct()
        .cache()
      val sk = fs.groupBy(col("source"))
        .agg(count(lit(1)).as("nf"), hll_sketch_agg(col("fp"), 16).as("sk"))
      val exact = fs.as("a").join(fs.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("shared"))
      // S×S sketch-blob pairing: tens of rows a side, broadcast NLJ is fine.
      val pairs = sk.as("x").join(broadcast(sk.as("y")),
          col("x.source") < col("y.source"))
        .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
          col("x.nf").as("nf_a"), col("y.nf").as("nf_b"),
          hll_sketch_estimate(col("x.sk")).as("hll_a"),
          hll_sketch_estimate(col("y.sk")).as("hll_b"),
          hll_sketch_estimate(hll_union(col("x.sk"), col("y.sk")))
            .as("hll_union"))
      exact.join(broadcast(pairs), Seq("source_a", "source_b"))
        .select(col("source_a"), col("source_b"), col("shared"),
          col("nf_a"), col("nf_b"),
          (abs(col("hll_a") + col("hll_b") - col("hll_union") - col("shared"))
            <= (col("nf_a") + col("nf_b")) * 0.05).as("hll_ok"))
    },

    // ---- DD58: BPE first-merge mining -------------------------------------
    QueryDef(
      "dd58_bpe_pairs",
      "Tokenizer bootstrap: the top-20 adjacent character pairs by corpus frequency — the first merge candidates BPE training would pick. Computed on the WORD VOCABULARY weighted by word counts (the standard BPE scalability move: pair statistics over distinct words x counts, never over the raw token stream), so the explode is vocabulary-bounded",
      Some("""
        WITH words AS (
          SELECT w, CAST(count(*) AS BIGINT) AS wc
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE len(w) >= 2
          GROUP BY w
        ),
        pairs AS (
          SELECT substring(w, i.g, 2) AS pair, CAST(SUM(wc) AS BIGINT) AS freq
          FROM words, LATERAL unnest(generate_series(1, len(w) - 1)) AS i(g)
          GROUP BY 1
        )
        SELECT pair, freq FROM pairs ORDER BY freq DESC, pair LIMIT 20
      """)) { (s, dir) =>
      // Two vocabulary-bounded exchanges: the word-count groupBy (the only
      // pass over the corpus) and the pair rollup; the top-20 rides
      // TakeOrdered. At 100 TB the vocabulary is millions of rows where
      // the token stream is trillions — BPE pair statistics on (distinct
      // word, count) is what makes tokenizer training tractable, and the
      // same shape iterates: apply the winning merge to the vocab column
      // and re-run.
      val words = Text.tokenRows(t(s, dir, "documents"), Nil)
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      words
        .select(col("w"), col("wc"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"), col("wc"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("freq"))
        .orderBy(col("freq").desc, col("pair")).limit(20)
    },

    // ---- DD59: train/test split leakage ------------------------------------
    QueryDef(
      "dd59_split_leakage",
      "Eval-hygiene audit: near-duplicate (8-word-prefix fingerprint) documents that LEAK across dd12's hash splits — per split pair, the fingerprints present on both sides and the rate vs the smaller side; the reason splits must be assigned per dedup CLUSTER, not per document. One fingerprint-keyed self-join; split totals broadcast",
      Some("""
        WITH f AS (
          SELECT DISTINCT array_to_string(string_split(text, ' ')[1:8], ' ') AS fp,
                 CASE WHEN CAST(('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) < 204 THEN 'train'
                      WHEN CAST(('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) < 230 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents
        ),
        cnt AS (SELECT split, CAST(count(*) AS BIGINT) AS nf FROM f GROUP BY 1),
        pairs AS (
          SELECT a.split AS split_a, b.split AS split_b,
                 CAST(count(*) AS BIGINT) AS leaked
          FROM f a JOIN f b ON a.fp = b.fp AND a.split < b.split
          GROUP BY 1, 2
        )
        SELECT split_a, split_b, leaked, ca.nf AS nf_a, cb.nf AS nf_b,
               round(leaked / CAST(LEAST(ca.nf, cb.nf) AS DOUBLE), 6) AS leakage_rate
        FROM pairs
        JOIN cnt ca ON split_a = ca.split
        JOIN cnt cb ON split_b = cb.split
      """)) { (s, dir) =>
      // The detector that motivates cluster-aware splitting (dd11's
      // components feeding dd12): a random per-document split puts
      // near-identical docs on both sides of the eval boundary, and the
      // benchmark silently measures memorization. Same capped-fan-out
      // shape as dd56: fingerprint groups are split-bounded (<=3), the
      // 3-row totals broadcast.
      val b = conv(substring(md5(concat(lit("split#"), col("doc_id").cast("string"))),
        1, 2), 16, 10).cast("long")
      val f = t(s, dir, "documents")
        .select(Text.fingerprint.as("fp"),
          when(b < 204, "train").when(b < 230, "val").otherwise("test").as("split"))
        .distinct()
        .cache()
      val cnt = f.groupBy(col("split")).agg(count(lit(1)).as("nf"))
      val pairs = f.as("a").join(f.as("b"),
        col("a.fp") === col("b.fp") && col("a.split") < col("b.split"))
        .groupBy(col("a.split").as("split_a"), col("b.split").as("split_b"))
        .agg(count(lit(1)).as("leaked"))
      val ca = broadcast(cnt.select(col("split").as("split_a"), col("nf").as("nf_a")))
      val cb = broadcast(cnt.select(col("split").as("split_b"), col("nf").as("nf_b")))
      pairs.join(ca, Seq("split_a")).join(cb, Seq("split_b"))
        .select(col("split_a"), col("split_b"), col("leaked"),
          col("nf_a"), col("nf_b"),
          round(col("leaked") / least(col("nf_a"), col("nf_b")).cast("double"), 6)
            .as("leakage_rate"))
    },

    // ---- DD65: cluster-aware split (the dd59 fix) --------------------------
    QueryDef(
      "dd65_cluster_split",
      "The fix dd59 motivates: assign train/val/test by hashing the near-dup CLUSTER key (the 8-word-prefix fingerprint) instead of the doc id, so every member of a duplicate group lands on the same side of the eval boundary. Output: per-split doc/cluster counts plus the leaked-fingerprint count recomputed the dd59 way — zero BY CONSTRUCTION, and the audit join proving it runs in the result. Same 80/10/10 md5 split bands as dd12/dd59",
      Some("""
        WITH f AS (
          SELECT doc_id,
                 array_to_string(string_split(text, ' ')[1:8], ' ') AS fp
          FROM documents
        ),
        assigned AS (
          SELECT doc_id, fp,
                 CASE WHEN CAST(('0x' || substr(md5('split#' || fp), 1, 2)) AS BIGINT) < 204 THEN 'train'
                      WHEN CAST(('0x' || substr(md5('split#' || fp), 1, 2)) AS BIGINT) < 230 THEN 'val'
                      ELSE 'test' END AS split
          FROM f
        ),
        fps AS (SELECT DISTINCT fp, split FROM assigned),
        leaks AS (
          SELECT a.split AS split, CAST(count(*) AS BIGINT) AS leaked
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.split <> b.split
          GROUP BY 1
        )
        SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT s.fp) AS BIGINT) AS n_clusters,
               CAST(COALESCE(MAX(l.leaked), 0) AS BIGINT) AS leaked_fps
        FROM assigned s LEFT JOIN leaks l ON s.split = l.split
        GROUP BY s.split
      """)) { (s, dir) =>
      // hash(fp) not hash(doc_id): the ONLY change vs dd12's assignment,
      // and the leakage term dd59 measures collapses to zero. The audit
      // join stays in the query (a fp-keyed self-join over the distinct
      // (fp, split) relation, empty by construction) so the output states
      // the guarantee rather than assuming it.
      val b = conv(substring(md5(concat(lit("split#"), col("fp"))), 1, 2), 16, 10)
        .cast("long")
      val assigned = t(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint.as("fp"))
        .withColumn("split",
          when(b < 204, "train").when(b < 230, "val").otherwise("test"))
        .cache()
      val fps = assigned.select(col("fp"), col("split")).distinct()
      val leaks = fps.as("a")
        .join(fps.select(col("fp").as("fpb"), col("split").as("splitb")),
          col("fp") === col("fpb") && col("split") =!= col("splitb"))
        .groupBy(col("split")).agg(count(lit(1)).as("leaked"))
      assigned
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_clusters"))
        .join(broadcast(leaks), Seq("split"), "left")
        .select(col("split"), col("n_docs"), col("n_clusters"),
          coalesce(col("leaked"), lit(0L)).as("leaked_fps"))
    })
}
