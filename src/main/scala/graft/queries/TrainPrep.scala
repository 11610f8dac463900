package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** Global training-stream packing — the complement of dd26's per-shard
  * packing (ScaleOps.scala:210). dd26 packs each language independently
  * (window per shard key), which is the right shape when a shard key
  * exists; dd40 is the case when the training order is a single GLOBAL
  * stream (curriculum order, epoch shuffle output) and the cumulative
  * token sum looks like it needs one global-order window. It doesn't:
  * the cumsum is two-phase — per-bucket totals lifted to global prefix
  * offsets by a tiny bucket-level join — the same distributed
  * zipWithIndex shape as dd35's ordinals.
  */
object TrainPrep {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "dd40_seq_packing",
      "Training-sequence packing over the GLOBAL doc_id stream (vs dd26's per-language): concat-and-chunk at 256 tokens, per-doc sequence id / offset / straddle flag. The global cumulative sum is TWO-PHASE: per-bucket token totals (bucket = doc_id div 64) become bucket offsets via a tiny bucket-level inequality join — never a single-partition window — then a within-bucket window lifts local prefix sums to global ones; widening the bucket scales the pattern to any corpus size",
      Some("""
        WITH toks AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents
        ),
        cum AS (
          SELECT doc_id, n_tokens,
            COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
          FROM toks
        )
        SELECT doc_id, n_tokens,
          CAST(before // 256 AS BIGINT) AS seq_id,
          CAST(before % 256 AS BIGINT) AS seq_offset,
          CAST((before + n_tokens - 1) // 256 AS BIGINT) AS end_seq_id,
          ((before + n_tokens - 1) // 256) > (before // 256) AS straddles
        FROM cum
      """)) { (s, dir) =>
      val cap = 256L
      val toks = t(s, dir, "documents").select(col("doc_id"),
        size(Text.tokens).cast("long").as("n_tokens"), floor(col("doc_id") / 64).as("bucket"))
      val counts = toks.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("c"))
      // bucket offsets via an inequality join over the TINY bucket-count
      // relation (O(B^2) pairs, B = corpus/64 buckets — broadcastable at
      // any realistic scale), not a global-order window
      val offsets = counts.as("x")
        .join(counts.as("y"), col("y.bucket") < col("x.bucket"), "left")
        .groupBy(col("x.bucket").as("bucket"))
        .agg(coalesce(sum(col("y.c")), lit(0L)).as("off"))
      val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val before = col("off") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L))
      toks.join(broadcast(offsets), Seq("bucket"))
        .withColumn("before", before)
        .select(col("doc_id"), col("n_tokens"),
          floor(col("before") / cap).as("seq_id"),
          (col("before") % cap).as("seq_offset"),
          floor((col("before") + col("n_tokens") - 1) / cap).as("end_seq_id"),
          (floor((col("before") + col("n_tokens") - 1) / cap) >
            floor(col("before") / cap)).as("straddles"))
    },

    // ---- dd44: fixed-size deterministic sample per group -----------------
    QueryDef(
      "dd44_group_sample",
      "Fixed-k deterministic sample: exactly min(k,|group|)=5 docs per language, ranked by md5 of the id (uniform-ish, reproducible across runs and engines) — the complement of dd10's rate-based sampling when the contract is a firm per-group quota; one language-keyed window, rows beyond k never leave the partial sort",
      Some("""
        WITH ranked AS (
          SELECT lang, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents
        )
        SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 5
      """)) { (s, dir) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents").select(col("lang"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
    },

    // ---- dd45: Bloom-prefiltered incremental dedup ------------------------
    QueryDef(
      "dd45_bloom_dedup",
      "Incremental dedup with a Bloom pre-filter (dd24's scale twin for a batch too big to broadcast): bloom_filter_agg over the corpus keys builds a fixed-size bitmap that broadcasts to the batch scan, might_contain prunes definite-new rows for free, and only the bloom-positive sliver pays the exact semi-join — final result is EXACT (no false negatives; positives are verified), so the oracle is the plain anti-join semantics",
      Some("""
        WITH corpus AS (
          SELECT doc_id, md5(text) AS k FROM documents WHERE doc_id % 10 <> 7
        ),
        batch AS (
          SELECT doc_id, md5(text) AS k FROM documents WHERE doc_id % 10 = 7
        )
        SELECT b.doc_id,
               CASE WHEN EXISTS (SELECT 1 FROM corpus c WHERE c.k = b.k)
                    THEN 'duplicate' ELSE 'new' END AS status
        FROM batch b
      """)) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("k"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      // distributed bitmap build (each task ORs a local bitmap; only
      // fixed-size bitmaps merge — the corpus never shuffles rows), sized
      // for ~3% fpp; the bitmap broadcasts once and the membership probe
      // is the justified UDF (bloom_filter_agg/might_contain are not in
      // Spark's public registry)
      val bf = corpus.stat.bloomFilter(col("k"), 5000L, 0.03)
      val bfB = s.sparkContext.broadcast(bf)
      val mightContain = udf((k: String) => bfB.value.mightContainString(k))
      val candidates = batch.filter(mightContain(col("k")))
        .select(col("doc_id"), col("k"))
      // exact verify only the bloom-positive sliver (false positives die
      // here); bloom-negative rows are definitely new — no second look
      val dups = candidates
        .join(corpus.select(col("k")).distinct(), Seq("k"), "left_semi")
        .select(col("doc_id")).withColumn("status", lit("duplicate"))
      batch.select(col("doc_id"))
        .join(dups.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("status", lit("new"))
        .unionByName(dups)
    },

    // ---- dd46: deterministic weighted sampling (Efraimidis–Spirakis) -----
    QueryDef(
      "dd46_weighted_sample",
      "Weighted sampling without replacement (Efraimidis–Spirakis 2006): key = u^(1/w) with u derived from md5(doc_id) — deterministic across runs and engines — and w = n_chars, so longer docs are proportionally likelier; global top-k by key rides TakeOrdered (each partition keeps k, the driver merges k×partitions rows), never a global sort or single-partition window",
      Some("""
        WITH keyed AS (
          SELECT doc_id, lang, n_chars,
                 pow(('0x' || substr(md5('ws#' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                     / 4503599627370496.0, 1.0 / n_chars) AS sk
          FROM documents WHERE n_chars > 0
        )
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM keyed ORDER BY sk DESC, doc_id LIMIT 50
      """)) { (s, dir) =>
      // u in [0,1): 13 hex digits = 52 bits, exact in a double; division
      // by 2^52 is exact, so u is bit-identical in both engines
      val u = conv(substring(
        md5(concat(lit("ws#"), col("doc_id").cast("string"))), 1, 13), 16, 10)
        .cast("double") / lit(4503599627370496.0)
      t(s, dir, "documents")
        .filter(col("n_chars") > 0)
        .withColumn("sk", pow(u, lit(1.0) / col("n_chars")))
        .orderBy(col("sk").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    },

    // ---- DD86: packing-efficiency sweep (the dd40 design question) --------
    // Before committing a training run to a sequence length, measure what
    // each candidate costs: per-example PADDING (every doc padded to a
    // chunk multiple — the naive collator) vs concat-and-chunk PACKING
    // (dd40's stream — waste only in the final chunk). Closed-form integer
    // math from per-doc token counts; one narrow pass + a 3-row rollup,
    // so the sweep is free at any corpus size.
    QueryDef(
      "dd86_packing_efficiency",
      "Sequence-length sweep (64/128/256): padded vs packed token waste and efficiency from closed-form integer math — one corpus pass, 3-row rollup",
      Some("""
        WITH nt AS (
          SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          FROM documents WHERE len(string_split(text, ' ')) > 0
        ),
        sw AS (SELECT nt.n, s.cs FROM nt CROSS JOIN (VALUES (64), (128), (256)) AS s(cs))
        SELECT cs AS chunk_size,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS total_tokens,
               CAST(sum(((n + cs - 1) // cs) * cs - n) AS BIGINT) AS padded_waste,
               round(sum(n) / CAST(sum(((n + cs - 1) // cs) * cs) AS DOUBLE), 6)
                 AS padded_efficiency,
               CAST(((sum(n) + cs - 1) // cs) * cs - sum(n) AS BIGINT) AS packed_waste,
               round(sum(n) / CAST(((sum(n) + cs - 1) // cs) * cs AS DOUBLE), 6)
                 AS packed_efficiency
        FROM sw GROUP BY cs
      """)) { (s, dir) =>
      val nt = t(s, dir, "documents")
        .select(size(Text.tokens).cast("long").as("n"))
        .filter(col("n") > 0)
      val cs = col("cs")
      val padChunks = floor((col("n") + cs - 1) / cs)
      nt.select(col("n"), explode(array(lit(64L), lit(128L), lit(256L))).as("cs"))
        .groupBy(cs.as("chunk_size"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("long").as("total_tokens"),
          sum(padChunks * cs - col("n")).cast("long").as("padded_waste"),
          round(sum(col("n")) / sum(padChunks * cs).cast("double"), 6)
            .as("padded_efficiency"),
          (floor((sum(col("n")) + first(cs) - 1) / first(cs)) * first(cs) -
            sum(col("n"))).cast("long").as("packed_waste"),
          round(sum(col("n")) /
            (floor((sum(col("n")) + first(cs) - 1) / first(cs)) * first(cs))
              .cast("double"), 6).as("packed_efficiency"))
    },

    // ---- DD83: overlapping chunker with provenance (RAG/packing prep) -----
    // The retrieval-corpus (and long-context training) prep step: split
    // each document into fixed-size overlapping word windows (size 8,
    // stride 6 → 2-token overlap) carrying full provenance (doc, index,
    // start offset, actual length). The whole chunker is one narrow
    // posexplode — zero exchanges before the write, the only acceptable
    // shape for re-chunking a 100 TB corpus. sequence(1, n, 6) has a
    // positive step, so the dd70 descending-range trap does not apply;
    // the size>=1 guard is symmetric anyway.
    QueryDef(
      "dd83_chunk_overlap",
      "Overlapping word-window chunker (size 8 / stride 6) with provenance columns — one narrow posexplode, no shuffle",
      Some("""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 1
        ),
        c AS (
          SELECT doc_id, arr, unnest([i for i in range(1, len(arr)+1, 6)]) AS st
          FROM tok
        )
        SELECT doc_id, CAST((st - 1) / 6 AS BIGINT) AS chunk_idx,
               CAST(st AS BIGINT) AS start_tok,
               array_to_string(arr[st:st+7], ' ') AS chunk_text,
               CAST(least(8, len(arr) - st + 1) AS BIGINT) AS n_tokens
        FROM c
      """)) { (s, dir) =>
      Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id")), 1)
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(1, size(arr), 6), i -> struct(
             i as st,
             array_join(slice(arr, i, 8), ' ') as txt,
             least(8, size(arr) - i + 1) as ntk))""")).as(Seq("idx", "ch")))
        .select(col("doc_id"), col("idx").cast("long").as("chunk_idx"),
          col("ch.st").cast("long").as("start_tok"),
          col("ch.txt").as("chunk_text"),
          col("ch.ntk").cast("long").as("n_tokens"))
    })
}
