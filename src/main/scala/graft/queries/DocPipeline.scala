package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** Training-data document pipeline: deduplication (exact, MinHash+LSH,
  * SimHash signatures, n-gram Jaccard) and text analysis (quality
  * scoring, token stats, language-ID, fingerprinting) over the
  * `documents` table — the beyond-reference components the 100 TB
  * engine needs (builder brief; reference analogs: E1/E2 dedup,
  * `geo_resolver.py` similarity, `extractor_drugs.py:159-304` scoring).
  *
  * Scale design: every pairwise operation is *blocked* — MinHash bands,
  * language blocks, or fingerprint buckets — so candidate generation is
  * an equi-join, never an all-pairs product. MinHash signatures are 8
  * deterministic md5-based hashes banded 4×2: band join cost is
  * O(docs × bands), verification touches only band-colliding pairs.
  */
object DocPipeline {

  /** Corpus with planted near-duplicates: every 5th doc reappears with
    * its first 3 tokens stripped (id + 10000) — exercising the near-dup
    * detectors on known ground truth. */
  private[graft] def corpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), "^(\\w+ ){3}", "").as("text"))
    base.unionByName(variants)
  }

  /** dd31's tokenized corpus, shared by dd31, dd75 and dd103. */
  private def dd31Tok(s: SparkSession, dir: String): DataFrame =
    // fan the tokenized rows out before the 8-gram explode: the shingle
    // expansion is the pipeline's dominant per-row work and otherwise
    // runs on however few tasks the documents row groups allow
    // (size-gated — a no-op at scale, where the scan parallelizes itself)
    graft.core.Fanout.bySize(s, Text.tokenArrays(corpus(s, dir), Seq(col("doc_id")), 8),
      dir, "documents")

  /** dd31's positioned 8-gram shingle relation under the round-11
    * shuffle diet: the exchanged key is the 12-byte pair
    * (xxhash64(gram), hash(gram)), never the gram string. */
  private def dd31Shingles(tok: DataFrame): DataFrame =
    tok.select(col("doc_id"), explode(transform(
      sequence(lit(1), size(col("arr")) - 7),
      i => struct(i.as("s"),
        array_join(slice(col("arr"), i, lit(8)), " ").as("gs")))).as("p"))
      .select(col("doc_id"), col("p.s").as("s"),
        xxhash64(col("p.gs")).as("g1"), hash(col("p.gs")).as("g2"))

  /** dd31's duplicated-8-gram hit positions: shingles appearing in >1
    * distinct doc (min≠max — one exchange with map-side combine),
    * joined back to keep (doc, position). */
  private def dd31Hits(s: SparkSession, dir: String): DataFrame = {
    val sh = dd31Shingles(dd31Tok(s, dir))
    val dup = sh.groupBy(col("g1"), col("g2"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select(col("g1"), col("g2"))
    sh.join(dup, Seq("g1", "g2")).select(col("doc_id"), col("s"))
  }

  private val corpusSql = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, regexp_replace(text, '^(\w+ ){3}', '') AS text
      FROM documents WHERE doc_id % 5 = 0
    )"""

  /** The oracle's shingle relation: a lead() window and DISTINCT, where
    * the engine builds `Text.shingleArr` by array index; the shingle
    * *sets* are identical. */
  private val shinglesSql = """
    tok AS (
      SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM corpus)
    ),
    sh0 AS (
      SELECT doc_id,
             w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS sh
      FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh IS NOT NULL)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- exact dedup on canonical bag-of-words form ---------------------
    QueryDef(
      "dd1_exact_dedup",
      "Exact dedup: md5 over sorted distinct tokens; group size + canonical (first) doc per group",
      Some("""
        WITH keyed AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS dedup_key
          FROM documents
        )
        SELECT doc_id, dedup_key,
               COUNT(*) OVER (PARTITION BY dedup_key) AS group_size,
               MIN(doc_id) OVER (PARTITION BY dedup_key) AS canonical_doc,
               doc_id <> MIN(doc_id) OVER (PARTITION BY dedup_key) AS is_duplicate
        FROM keyed
      """)) { (s, dir) =>
      val keyed = t(s, dir, "documents").select(col("doc_id"), Text.bagKey.as("dedup_key"))
      val w = Window.partitionBy("dedup_key")
      keyed
        .withColumn("group_size", count(lit(1)).over(w))
        .withColumn("canonical_doc", min(col("doc_id")).over(w))
        .withColumn("is_duplicate", col("doc_id") =!= col("canonical_doc"))
    },

    // ---- MinHash + banded LSH near-dup detection ------------------------
    QueryDef(
      "dd2_minhash_lsh",
      "MinHash (8 md5 hashes) banded 4×2 → candidate pairs → exact shingle-Jaccard verify ≥ 0.4",
      Some(s"""
        WITH $corpusSql,
        $shinglesSql,
        mh AS (
          SELECT doc_id,
                 min(CAST(('0x' || substring(md5('0#' || sh), 1, 15)) AS BIGINT)) AS mh0,
                 min(CAST(('0x' || substring(md5('1#' || sh), 1, 15)) AS BIGINT)) AS mh1,
                 min(CAST(('0x' || substring(md5('2#' || sh), 1, 15)) AS BIGINT)) AS mh2,
                 min(CAST(('0x' || substring(md5('3#' || sh), 1, 15)) AS BIGINT)) AS mh3,
                 min(CAST(('0x' || substring(md5('4#' || sh), 1, 15)) AS BIGINT)) AS mh4,
                 min(CAST(('0x' || substring(md5('5#' || sh), 1, 15)) AS BIGINT)) AS mh5,
                 min(CAST(('0x' || substring(md5('6#' || sh), 1, 15)) AS BIGINT)) AS mh6,
                 min(CAST(('0x' || substring(md5('7#' || sh), 1, 15)) AS BIGINT)) AS mh7
          FROM sh GROUP BY doc_id
        ),
        bands AS (
          SELECT doc_id, 0 AS band_idx, md5(CAST(mh0 AS VARCHAR) || CAST(mh1 AS VARCHAR)) AS bkey FROM mh
          UNION ALL SELECT doc_id, 1, md5(CAST(mh2 AS VARCHAR) || CAST(mh3 AS VARCHAR)) FROM mh
          UNION ALL SELECT doc_id, 2, md5(CAST(mh4 AS VARCHAR) || CAST(mh5 AS VARCHAR)) FROM mh
          UNION ALL SELECT doc_id, 3, md5(CAST(mh6 AS VARCHAR) || CAST(mh7 AS VARCHAR)) FROM mh
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        ),
        n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        com AS (
          SELECT c.a_id, c.b_id, COUNT(*) AS common
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.a_id
          JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh
          GROUP BY c.a_id, c.b_id
        )
        SELECT m.a_id, m.b_id,
               CAST(m.common AS DOUBLE) / (na.n + nb.n - m.common) AS jacc
        FROM com m
        JOIN n na ON na.doc_id = m.a_id
        JOIN n nb ON nb.doc_id = m.b_id
        WHERE CAST(m.common AS DOUBLE) / (na.n + nb.n - m.common) >= 0.4
      """)) { (s, dir) =>
      // shingle dedup is NARROW (array_distinct per doc — no global
      // distinct exchange); the 8-way minhash signature is the NATIVE
      // byte-level expression (functions/NativeExpressions.MinHashSig):
      // value-identical to min(conv(substring(md5("i#"||sh),1,15),16,10))
      // per seed — the DuckDB oracle keeps that formulation — but computed
      // per doc in one generated-code loop: no exploded stream, no hex
      // round-trips, no aggregate probe per (shingle × seed). (History:
      // explode+groupBy measured 1.8s vs 2.5s for the transform+array_min
      // HOF — lambdas run interpreted; the native loop beats both.)
      // fanned out before the shingle build (size-gated no-op at scale):
      // the cache otherwise pins the scan's 1-2 partitions, serializing
      // every downstream consumer of the cached relation
      val docsArr = Text.shingleArr(
        graft.core.Fanout.bySize(s, corpus(s, dir), dir, "documents")).cache()
      val sh = Text.shingles(docsArr)
      // two projections: CollapseProject keeps the non-cheap signature
      // expression single-evaluation instead of inlining it 8×
      val mh = docsArr.select(col("doc_id"),
        graft.functions.NativeExpressions.minhash_sig_native(col("shArr")).as("sig"))
        .select(col("doc_id") +: (0 until 8).map(i =>
          element_at(col("sig"), i + 1).as(s"mh$i")): _*)
      val bands = mh.select(col("doc_id"), explode(array(
        (0 until 4).map(b => struct(lit(b).as("band_idx"),
          md5(concat(col(s"mh${2 * b}").cast("string"),
            col(s"mh${2 * b + 1}").cast("string"))).as("bkey"))): _*))
        .as("band"))
        .select(col("doc_id"), col("band.band_idx").as("band_idx"),
          col("band.bkey").as("bkey"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val n = docsArr.select(col("doc_id"), size(col("shArr")).cast("long").as("n"))
      val common = cand
        .join(sh.select(col("doc_id").as("a_id"), col("sh")), Seq("a_id"))
        .join(sh.select(col("doc_id").as("b_id"), col("sh")), Seq("b_id", "sh"))
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("common"))
      common
        .join(n.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
        .join(n.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          (col("common").cast("double") / (col("na") + col("nb") - col("common")))
            .as("jacc"))
        .filter(col("jacc") >= 0.4)
    },

    // ---- brute-force token Jaccard within language blocks ---------------
    QueryDef(
      "dd3_token_jaccard",
      "Unigram Jaccard top-3 per query doc, candidates blocked by language (never all-pairs)",
      Some("""
        WITH tokd AS (
          SELECT DISTINCT d.doc_id, d.lang, t.w
          FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(w)
        ),
        n AS (SELECT doc_id, COUNT(*) AS n FROM tokd GROUP BY doc_id),
        qd AS (SELECT doc_id, lang FROM documents WHERE doc_id % 100 = 0),
        com AS (
          SELECT q.doc_id AS q_id, c.doc_id AS c_id, COUNT(*) AS common
          FROM qd q
          JOIN tokd tq ON tq.doc_id = q.doc_id
          JOIN tokd c ON c.lang = q.lang AND c.w = tq.w AND c.doc_id <> q.doc_id
          GROUP BY q.doc_id, c.doc_id
        )
        SELECT q_id, c_id, jacc FROM (
          SELECT m.q_id, m.c_id,
                 CAST(m.common AS DOUBLE) / (nq.n + nc.n - m.common) AS jacc,
                 ROW_NUMBER() OVER (PARTITION BY m.q_id
                   ORDER BY CAST(m.common AS DOUBLE) / (nq.n + nc.n - m.common) DESC,
                            m.c_id) AS rn
          FROM com m
          JOIN n nq ON nq.doc_id = m.q_id
          JOIN n nc ON nc.doc_id = m.c_id
        ) WHERE rn <= 3
      """)) { (s, dir) =>
      // per-doc distinct token ARRAY first (narrow) — the global distinct
      // and the count-per-doc groupBy were two shuffles for what
      // array_distinct + size compute map-side (same rewrite as dd2)
      val docsTok = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), array_distinct(Text.tokens).as("toks"))
      val tokd = docsTok.select(col("doc_id"), col("lang"),
        explode(col("toks")).as("w"))
      val n = docsTok.select(col("doc_id"), size(col("toks")).cast("long").as("n"))
      val q = tokd.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("q_id"), col("lang"), col("w"))
      val c = tokd.select(col("doc_id").as("c_id"), col("lang"), col("w"))
      val common = q.join(c, Seq("lang", "w"))
        .filter(col("q_id") =!= col("c_id"))
        .groupBy(col("q_id"), col("c_id")).agg(count(lit(1)).as("common"))
      val scored = common
        .join(n.select(col("doc_id").as("q_id"), col("n").as("nq")), Seq("q_id"))
        .join(n.select(col("doc_id").as("c_id"), col("n").as("nc")), Seq("c_id"))
        .select(col("q_id"), col("c_id"),
          (col("common").cast("double") / (col("nq") + col("nc") - col("common")))
            .as("jacc"))
      val w = Window.partitionBy("q_id").orderBy(col("jacc").desc, col("c_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("q_id"), col("c_id"), col("jacc"))
    },

    // ---- SimHash signatures ---------------------------------------------
    QueryDef(
      "dd4_simhash_sig",
      "16-bit SimHash signature from md5-derived token hashes (bit-majority vote)",
      Some {
        val bitSums = (0 until 16).map(b =>
          s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(",\n                 ")
        val bits = (0 until 16).map(b =>
          s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
        s"""
        WITH $corpusSql,
        tokd AS (
          SELECT DISTINCT doc_id, w
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
        ),
        hashed AS (
          SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM tokd
        ),
        votes AS (
          SELECT doc_id,
                 $bitSums
          FROM hashed GROUP BY doc_id
        )
        SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes
        """
      }) { (s, dir) =>
      val tokd = Text.tokenRows(corpus(s, dir), Seq(col("doc_id")))
        .distinct()
      val hashed = tokd.select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h"))
      val voteExprs = (0 until 16).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"s$b"))
      val votes = hashed.groupBy(col("doc_id")).agg(voteExprs.head, voteExprs.tail: _*)
      votes.select(col("doc_id"),
        (0 until 16).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    },

    // ---- quality scoring --------------------------------------------------
    QueryDef(
      "dd5_quality_score",
      "Doc quality: length score, stopword ratio, avg token length → weighted grade (extractor_drugs.py:159-304 shape)",
      Some("""
        WITH stats AS (
          SELECT doc_id, lang, n_chars,
                 len(string_split(text, ' ')) AS n_tokens,
                 len(list_filter(string_split(text, ' '), x -> x IN ('a', 'the'))) AS n_stop
          FROM documents
        ), scored AS (
          SELECT doc_id, lang, n_tokens,
                 least(CAST(n_chars AS DOUBLE) / 500, 1.0) AS len_score,
                 CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
                 CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token
          FROM stats
        )
        SELECT doc_id, lang, n_tokens, len_score, stop_ratio,
               0.5 * len_score + 0.3 * (1.0 - stop_ratio)
                 + 0.2 * least(chars_per_token / 6, 1.0) AS quality,
               CASE WHEN 0.5 * len_score + 0.3 * (1.0 - stop_ratio)
                         + 0.2 * least(chars_per_token / 6, 1.0) >= 0.75 THEN 'good'
                    WHEN 0.5 * len_score + 0.3 * (1.0 - stop_ratio)
                         + 0.2 * least(chars_per_token / 6, 1.0) >= 0.55 THEN 'fair'
                    ELSE 'poor' END AS grade
        FROM scored
      """)) { (s, dir) =>
      val toks = Text.tokens
      val stats = t(s, dir, "documents").select(
        col("doc_id"), col("lang"), col("n_chars"),
        size(toks).as("n_tokens"),
        size(filter(toks, x => x.isin("a", "the"))).as("n_stop"))
      val scored = stats.select(
        col("doc_id"), col("lang"), col("n_tokens"),
        least(col("n_chars").cast("double") / 500, lit(1.0)).as("len_score"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("n_chars").cast("double") / col("n_tokens")).as("chars_per_token"))
      val quality = lit(0.5) * col("len_score") +
        lit(0.3) * (lit(1.0) - col("stop_ratio")) +
        lit(0.2) * least(col("chars_per_token") / 6, lit(1.0))
      scored.select(col("doc_id"), col("lang"), col("n_tokens"),
        col("len_score"), col("stop_ratio"), quality.as("quality"),
        when(quality >= 0.75, "good").when(quality >= 0.55, "fair")
          .otherwise("poor").as("grade"))
    },

    // ---- token counting (whitespace + regex tokenizer) --------------------
    QueryDef(
      "dd6_token_stats",
      "Per-language token stats: whitespace tokens vs regex ([a-z0-9]+) tokens, chars per token",
      Some("""
        SELECT lang,
               COUNT(*) AS docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS re_tokens,
               CAST(SUM(n_chars) AS DOUBLE) / SUM(len(string_split(text, ' '))) AS chars_per_token
        FROM documents GROUP BY lang
      """)) { (s, dir) =>
      t(s, dir, "documents").groupBy(col("lang")).agg(
        count(lit(1)).as("docs"),
        sum(size(Text.tokens)).as("ws_tokens"),
        sum(size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))).as("re_tokens"),
        (sum(col("n_chars")).cast("double") /
          sum(size(Text.tokens))).as("chars_per_token"))
    },

    // ---- language-ID via per-language token profiles ----------------------
    QueryDef(
      "dd7_lang_id",
      "n-gram-profile language ID: top-3 tokens per language as profile, argmax profile hits per doc",
      Some("""
        WITH tokd AS (
          SELECT DISTINCT d.doc_id, d.lang, t.w
          FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(w)
        ),
        freq AS (
          SELECT lang, w, COUNT(*) AS n FROM tokd GROUP BY lang, w
        ),
        profile AS (
          SELECT lang AS p_lang, w FROM (
            SELECT lang, w, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rn
            FROM freq
          ) WHERE rn <= 3
        ),
        hits AS (
          SELECT t.doc_id, p.p_lang, COUNT(*) AS score
          FROM tokd t JOIN profile p ON t.w = p.w
          GROUP BY t.doc_id, p.p_lang
        )
        SELECT h.doc_id, d.lang AS actual, h.p_lang AS predicted,
               d.lang = h.p_lang AS correct
        FROM (
          SELECT doc_id, p_lang,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rn
          FROM hits
        ) h JOIN documents d ON d.doc_id = h.doc_id
        WHERE h.rn = 1
      """)) { (s, dir) =>
      // within-doc distinct via array_distinct (narrow), not a global
      // distinct shuffle — same rewrite as dd2/dd3
      val tokd = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(array_distinct(Text.tokens)).as("w"))
      val freq = tokd.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
      val wProfile = Window.partitionBy("lang").orderBy(col("n").desc, col("w"))
      val profile = freq.withColumn("rn", row_number().over(wProfile))
        .filter(col("rn") <= 3)
        .select(col("lang").as("p_lang"), col("w"))
      val hits = tokd.join(profile, Seq("w"))
        .groupBy(col("doc_id"), col("p_lang")).agg(count(lit(1)).as("score"))
      val wBest = Window.partitionBy("doc_id").orderBy(col("score").desc, col("p_lang"))
      hits.withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang").as("actual"),
          col("p_lang").as("predicted"),
          (col("lang") === col("p_lang")).as("correct"))
    },

    // ---- transitive dedup clustering (connected components) ---------------
    QueryDef(
      "dd11_dedup_clusters",
      "Near-dup edges → connected components → canonical id per cluster; Spark iterative min-label vs DuckDB recursive CTE",
      Some(s"""
        WITH RECURSIVE $corpusSql,
        keyed AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS k
          FROM corpus
        ),
        edges0(a, b) AS (
          SELECT x.doc_id, y.doc_id
          FROM keyed x JOIN keyed y ON x.k = y.k AND x.doc_id < y.doc_id
          UNION ALL
          SELECT doc_id, doc_id + 10000 FROM documents WHERE doc_id % 5 = 0
        ),
        edges(a, b) AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
        reach(node, root) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
        ),
        clusters AS (SELECT node, MIN(root) AS cluster FROM reach GROUP BY node)
        SELECT cluster, COUNT(*) AS size,
               CAST(MAX(node) AS BIGINT) AS max_member
        FROM clusters GROUP BY cluster
        HAVING COUNT(*) > 1
      """)) { (s, dir) =>
      val keyed = corpus(s, dir).select(col("doc_id"), Text.bagKey.as("k"))
      // star edges, not all-pairs: each member links to the group minimum.
      // Same connected components, but a g-sized duplicate group emits g-1
      // edges instead of g(g-1)/2 — at 100 TB a 100k-duplicate mega-group
      // would otherwise produce 5e9 edges. The key-partitioned window is
      // one shuffle, same as the self-join it replaces.
      val wk = Window.partitionBy("k")
      val bagEdges = keyed
        .withColumn("root", min(col("doc_id")).over(wk))
        .filter(col("doc_id") =!= col("root"))
        .select(col("root").as("a"), col("doc_id").as("b"))
      val variantEdges = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 10000).as("b"))
      val cc = graft.resolve.DocCluster.connectedComponents(
        bagEdges.unionByName(variantEdges))
      cc.groupBy(col("cluster"))
        .agg(count(lit(1)).as("size"), max(col("node")).as("max_member"))
        .filter(col("size") > 1)
    },

    // ---- TF-IDF term scoring ---------------------------------------------
    QueryDef(
      "dd9_tfidf",
      "TF-IDF over the corpus: tf × ln(N/df), top-3 terms per doc with deterministic tiebreak",
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents WHERE doc_id % 3 = 0
        ),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
        df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok)
        SELECT doc_id, w, tfidf FROM (
          SELECT doc_id, w, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rn
          FROM (
            -- round(9): java Math.log and libm ln can differ by 1 ulp
            SELECT tf.doc_id, tf.w,
                   round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 9) AS tfidf
            FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
          )
        ) WHERE rn <= 3
      """)) { (s, dir) =>
      val docsF = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      val tok = Text.tokenRows(docsF, Seq(col("doc_id")))
      val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      // df: COUNT(DISTINCT doc_id) per term ≡ plain count over the
      // per-doc-deduped explode — array_distinct is narrow, so the
      // distinct-expansion shuffle inside countDistinct disappears.
      // n likewise: every doc splits to ≥1 token, so the oracle's
      // COUNT(DISTINCT doc_id) over tokens is just the doc count.
      val df = docsF
        .select(col("doc_id"), explode(array_distinct(Text.tokens)).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = docsF.agg(count(lit(1)).as("n"))
      val scored = tf.join(df, Seq("w")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("w"),
          // round(9): java Math.log and DuckDB's libm ln differ by 1 ulp
          // on some arguments — observed at sf0.1, not sf0.01
          round(col("tf") * log(col("n").cast("double") / col("df")), 9).as("tfidf"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("w"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("doc_id"), col("w"), col("tfidf"))
    },

    // ---- deterministic stratified sampling --------------------------------
    QueryDef(
      "dd10_stratified_sample",
      "Hash-based stratified sample: per-language rate via md5 prefix — deterministic, shuffle-free, cross-engine stable",
      Some("""
        WITH rated AS (
          SELECT doc_id, lang,
                 CASE lang WHEN 'en' THEN 64 WHEN 'zh' THEN 128 ELSE 192 END AS keep_below,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS bucket
          FROM documents
        )
        SELECT lang, COUNT(*) AS sampled,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT) AS max_doc
        FROM rated WHERE bucket < keep_below
        GROUP BY lang
      """)) { (s, dir) =>
      val rated = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        when(col("lang") === "en", 64).when(col("lang") === "zh", 128)
          .otherwise(192).as("keep_below"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long").as("bucket"))
      rated.filter(col("bucket") < col("keep_below"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("sampled"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    },

    // ---- deterministic train/val/test split --------------------------------
    QueryDef(
      "dd12_train_split",
      "Hash-range 80/10/10 train/val/test split: disjoint, exhaustive, reproducible",
      Some("""
        WITH bucketed AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS b
          FROM documents
        )
        SELECT CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val' ELSE 'test' END AS split,
               COUNT(*) AS docs,
               COUNT(DISTINCT lang) AS langs,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        FROM bucketed GROUP BY 1
      """)) { (s, dir) =>
      val b = conv(substring(md5(concat(lit("split#"), col("doc_id").cast("string"))),
        1, 2), 16, 10).cast("long")
      t(s, dir, "documents")
        .withColumn("b", b)
        .groupBy(when(col("b") < 204, "train").when(col("b") < 230, "val")
          .otherwise("test").as("split"))
        .agg(count(lit(1)).as("docs"), countDistinct(col("lang")).as("langs"),
          sum(col("doc_id")).as("id_checksum"))
    },

    // ---- exact percentiles --------------------------------------------------
    QueryDef(
      "dd13_percentiles",
      "Exact interpolated percentiles per group (p50/p90): Spark percentile ≡ DuckDB quantile_cont",
      Some("""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 9) AS p50,
               round(quantile_cont(value, 0.9), 9) AS p90,
               COUNT(*) AS n
        FROM events GROUP BY event_type
      """)) { (s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 9).as("p50"),
          round(expr("percentile(value, 0.9)"), 9).as("p90"),
          count(lit(1)).as("n"))
    },

    // ---- mod-sampled shingle fingerprint (winnowing-lite) ------------------
    QueryDef(
      "dd8_doc_fingerprint",
      "Document fingerprint: shingle hashes mod-sampled (hex prefix 0/1), md5 over the sorted kept set",
      Some(s"""
        WITH $corpusSql,
        $shinglesSql,
        kept AS (
          SELECT doc_id, md5(sh) AS h FROM sh
          WHERE substr(md5(sh), 1, 1) IN ('0', '1')
        )
        SELECT doc_id, COUNT(*) AS n_kept,
               md5(string_agg(h, ',' ORDER BY h)) AS fingerprint
        FROM kept GROUP BY doc_id
      """)) { (s, dir) =>
      Text.shingles(Text.shingleArr(corpus(s, dir)))
        .select(col("doc_id"), md5(col("sh")).as("h"))
        .filter(substring(col("h"), 1, 1).isin("0", "1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(array_sort(collect_list(col("h"))), ",")).as("fingerprint"))
    },

    // ---- DD15: benchmark decontamination (8-gram overlap) ----------------
    // The training-data op that keeps eval sets out of the corpus: flag
    // any training document sharing >=1 word-8-gram with the benchmark
    // set (the n-gram-overlap decontamination used for LLM corpora).
    // Planted contamination: a 12-word excerpt of each benchmark doc is
    // appended as a synthetic training doc (ids offset past max), so the
    // expected flags are exact; organic word-8-gram collisions between
    // independent random documents don't occur. The gram equi-join keeps
    // this far from all-pairs: cost is |shared gram| pairs only, and the
    // distinct (doc, gram) explode shuffles on the gram key — the same
    // blocked-join scale shape as the MinHash/Jaccard family.
    QueryDef(
      "dd15_decontaminate",
      "Benchmark decontamination: flag training docs sharing any word-8-gram with the benchmark slice (planted 12-word excerpts; distinct-gram equi-join, never all-pairs)",
      Some("""
        WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        bench AS (
          SELECT doc_id AS b_id, string_split(text, ' ') AS w
          FROM documents WHERE doc_id % 97 = 0
        ),
        train AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
          UNION ALL
          SELECT b_id + (SELECT m + 1 FROM mx) AS doc_id,
                 array_to_string(w[3:14], ' ') AS text
          FROM bench
        ),
        bg AS (
          SELECT DISTINCT b_id,
                 unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS gram
          FROM bench
        ),
        tg AS (
          SELECT DISTINCT doc_id,
                 unnest([array_to_string(w2[i:i+7], ' ') for i in range(1, len(w2) - 6)]) AS gram
          FROM (SELECT doc_id, string_split(text, ' ') AS w2 FROM train)
        )
        SELECT tg.doc_id, COUNT(DISTINCT tg.gram) AS hits, MIN(bg.b_id) AS first_bench
        FROM tg JOIN bg ON tg.gram = bg.gram
        GROUP BY tg.doc_id
      """)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("b_id"), Text.tokens.as("w"))
      val planted = bench
        .crossJoin(broadcast(docs.agg(max(col("doc_id")).as("m"))))
        .select((col("b_id") + col("m") + 1).as("doc_id"),
          array_join(slice(col("w"), 3, 12), " ").as("text"))
      val train = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionByName(planted)
      // within-doc distinct via array_distinct (narrow) — the id is part
      // of both downstream join keys, so the global distincts were wasted
      // exchanges (same rewrite as dd2/dd3/dd7)
      val bg = bench.select(col("b_id"), explode(Text.shingleSet(col("w"), 8)).as("gram"))
      val tg = train.select(col("doc_id"), explode(Text.shingleSet(Text.tokens, 8)).as("gram"))
      tg.join(bg, "gram")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("hits"),
          min(col("b_id")).as("first_bench"))
    },

    // ---- repetition signals (Gopher-style quality filter) ------------------
    // Fraction of bigrams taken by the single most frequent bigram, and the
    // fraction covered by any repeated bigram — the classic "repetitive
    // document" pre-training filters. Per-doc groupBy keys: scale-linear,
    // no pairwise work.
    QueryDef(
      "dd16_repetition",
      "Gopher-style repetition: top-bigram fraction + duplicate-bigram fraction per doc, repetitive flag",
      Some("""
        WITH grams AS (
          SELECT doc_id,
                 unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
          WHERE len(w) >= 2
        ),
        counts AS (
          SELECT doc_id, bg, COUNT(*) AS c FROM grams GROUP BY doc_id, bg
        )
        SELECT doc_id,
               CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac,
               CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS DOUBLE) / SUM(c)
                 AS dup_bigram_frac,
               (CAST(MAX(c) AS DOUBLE) / SUM(c) > 0.1
                 OR CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS DOUBLE) / SUM(c) > 0.15)
                 AS repetitive
        FROM counts GROUP BY doc_id
      """)) { (s, dir) =>
      val words = Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id")), 2, "w")
      val grams = words.select(col("doc_id"),
        explode(graft.functions.NativeExpressions.ngrams_native(col("w"), 2))
          .as("bg"))
      val counts = grams.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      val topFrac = max(col("c")).cast("double") / sum(col("c"))
      val dupFrac =
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).cast("double") / sum(col("c"))
      counts.groupBy(col("doc_id")).agg(
        topFrac.as("top_bigram_frac"),
        dupFrac.as("dup_bigram_frac"),
        (topFrac > 0.1 || dupFrac > 0.15).as("repetitive"))
    },

    // ---- end-to-end curation funnel ----------------------------------------
    // The whole training-data pipeline as ONE composition: quality filter →
    // exact dedup → repetition filter → benchmark holdout → n-gram
    // decontamination → hash split, reporting survivor counts + an id
    // checksum per stage. Every stage stays a distributed relational op
    // (filters, per-key windows, distinct-gram equi-joins) — nothing
    // collects to the driver, so the funnel itself is the 100 TB shape.
    QueryDef(
      "dd17_corpus_funnel",
      "Corpus curation funnel: quality -> exact-dedup -> repetition -> holdout -> decontaminate -> split, counts per stage",
      Some("""
        WITH toks AS (
          SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents
        ),
        scored AS (
          SELECT doc_id, w,
                 0.5 * least(CAST(n_chars AS DOUBLE) / 500, 1.0)
               + 0.3 * (1.0 - CAST(len(list_filter(w, x -> x IN ('a', 'the'))) AS DOUBLE) / len(w))
               + 0.2 * least((CAST(n_chars AS DOUBLE) / len(w)) / 6, 1.0) AS quality
          FROM toks
        ),
        q AS (SELECT doc_id, w FROM scored WHERE quality >= 0.55),
        ded AS (
          SELECT doc_id, w FROM (
            SELECT doc_id, w,
                   MIN(doc_id) OVER (PARTITION BY
                     md5(array_to_string(list_sort(list_distinct(w)), ' '))) AS mn
            FROM q
          ) WHERE doc_id = mn
        ),
        bg AS (
          SELECT doc_id, bgm, COUNT(*) AS c FROM (
            SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bgm
            FROM ded WHERE len(w) >= 2
          ) GROUP BY doc_id, bgm
        ),
        rep AS (
          SELECT doc_id,
                 (CAST(MAX(c) AS DOUBLE) / SUM(c) > 0.1 OR
                  CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS DOUBLE) / SUM(c) > 0.15)
                   AS repetitive
          FROM bg GROUP BY doc_id
        ),
        norep AS (
          SELECT d.doc_id, d.w FROM ded d LEFT JOIN rep r ON d.doc_id = r.doc_id
          WHERE NOT COALESCE(r.repetitive, FALSE)
        ),
        hold AS (SELECT doc_id, w FROM norep WHERE doc_id % 97 <> 0),
        bench4 AS (
          SELECT DISTINCT
            unnest([array_to_string(w[i:i+3], ' ') for i in range(1, len(w) - 2)]) AS gram
          FROM toks WHERE doc_id % 97 = 0 AND len(w) >= 4
        ),
        cont AS (
          SELECT DISTINCT h.doc_id
          FROM (SELECT doc_id,
                       unnest([array_to_string(w[i:i+3], ' ') for i in range(1, len(w) - 2)]) AS gram
                FROM hold WHERE len(w) >= 4) h
          JOIN bench4 b ON h.gram = b.gram
        ),
        clean AS (
          SELECT doc_id FROM hold WHERE doc_id NOT IN (SELECT doc_id FROM cont)
        ),
        spl AS (
          SELECT doc_id,
                 CASE WHEN b < 204 THEN 'split_train'
                      WHEN b < 230 THEN 'split_val'
                      ELSE 'split_test' END AS stage
          FROM (SELECT doc_id,
                       ('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS b
                FROM clean)
        )
        SELECT 1 AS ord, 'all' AS stage, COUNT(*) AS docs,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum FROM documents
        UNION ALL SELECT 2, 'quality', COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM q
        UNION ALL SELECT 3, 'dedup', COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM ded
        UNION ALL SELECT 4, 'repetition', COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM norep
        UNION ALL SELECT 5, 'bench_holdout', COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM hold
        UNION ALL SELECT 6, 'decontam', COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM clean
        UNION ALL SELECT 7, stage, COUNT(*), CAST(SUM(doc_id) AS BIGINT) FROM spl GROUP BY stage
      """)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), col("n_chars"), Text.tokens.as("w"))
      val quality = lit(0.5) * least(col("n_chars").cast("double") / 500, lit(1.0)) +
        lit(0.3) * (lit(1.0) -
          size(filter(col("w"), x => x.isin("a", "the"))).cast("double") / size(col("w"))) +
        lit(0.2) * least((col("n_chars").cast("double") / size(col("w"))) / 6, lit(1.0))
      val q = toks.filter(quality >= 0.55).select(col("doc_id"), col("w"))
      // survivors are re-used by several stage counts below: cache the
      // three branch points so the funnel reads the corpus once, not once
      // per stage (the bench releases blocks between queries)
      val ded = q
        .withColumn("mn", min(col("doc_id")).over(Window.partitionBy(Text.bagKey(col("w")))))
        .filter(col("doc_id") === col("mn")).drop("mn").cache()
      val bgCounts = ded.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(
          graft.functions.NativeExpressions.ngrams_native(col("w"), 2)).as("bgm"))
        .groupBy(col("doc_id"), col("bgm")).agg(count(lit(1)).as("c"))
      val rep = bgCounts.groupBy(col("doc_id")).agg(
        (max(col("c")).cast("double") / sum(col("c")) > 0.1 ||
          coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).cast("double") /
            sum(col("c")) > 0.15).as("repetitive"))
      val norep = ded.join(rep, Seq("doc_id"), "left")
        .filter(!coalesce(col("repetitive"), lit(false))).drop("repetitive")
      val hold = norep.filter(col("doc_id") % 97 =!= 0).cache()
      // 4-grams (vs dd15's 8 + planted excerpts): short enough that natural
      // overlap with the holdout occurs, so the stage provably fires
      def grams4(df: DataFrame): DataFrame =
        df.filter(size(col("w")) >= 4)
          .select(col("doc_id"), explode(Text.shingleSet(col("w"), 4)).as("gram"))
      val bench4 = grams4(toks.filter(col("doc_id") % 97 === 0)).select(col("gram")).distinct()
      val cont = grams4(hold).join(bench4, "gram").select(col("doc_id")).distinct()
      val clean = hold.join(cont, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).cache()
      val spl = clean.select(col("doc_id"),
        when(conv(substring(md5(concat(lit("split#"), col("doc_id").cast("string"))),
          1, 2), 16, 10).cast("long") < 204, "split_train")
          .when(conv(substring(md5(concat(lit("split#"), col("doc_id").cast("string"))),
            1, 2), 16, 10).cast("long") < 230, "split_val")
          .otherwise("split_test").as("stage"))
      def stageCount(ord: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("docs"), sum(col("doc_id")).as("id_checksum"))
          .select(lit(ord).as("ord"), lit(name).as("stage"),
            col("docs"), col("id_checksum"))
      stageCount(1, "all", docs)
        .unionByName(stageCount(2, "quality", q))
        .unionByName(stageCount(3, "dedup", ded))
        .unionByName(stageCount(4, "repetition", norep))
        .unionByName(stageCount(5, "bench_holdout", hold))
        .unionByName(stageCount(6, "decontam", clean))
        .unionByName(spl.groupBy(col("stage"))
          .agg(count(lit(1)).as("docs"), sum(col("doc_id")).as("id_checksum"))
          .select(lit(7).as("ord"), col("stage"), col("docs"), col("id_checksum")))
    },

    // ---- DD18: PII detection + redaction -----------------------------------
    // Pre-training corpora scrub emails/phones before release. The corpus
    // text is synthetic word-soup, so deterministic PII is planted on
    // every 7th doc (same expression in both engines); detection counts
    // occurrences per pattern and redaction rewrites them to typed tags.
    // All codegen'd regexp functions — narrow, no shuffle, no UDF: the
    // 100 TB shape is a pure map stage.
    QueryDef(
      "dd18_pii_redact",
      "PII scrub: email/phone regex detection counts + typed-tag redaction (planted PII on every 7th doc; pure narrow map stage)",
      Some("""
        WITH pii AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or call 555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE text END AS text
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text,
                 '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
               (regexp_matches(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')
                 OR regexp_matches(text, '\b555-[0-9]{4}\b')) AS has_pii,
               md5(regexp_replace(regexp_replace(text,
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
                 '\b555-[0-9]{4}\b', '[PHONE]', 'g')) AS redacted_md5
        FROM pii
      """)) { (s, dir) =>
      val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phonePat = "\\b555-[0-9]{4}\\b"
      val pii = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com or call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")).as("text"))
      pii.select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phonePat), lit(0)))
          .cast("long").as("n_phones"),
        (regexp_like(col("text"), lit(emailPat)) ||
          regexp_like(col("text"), lit(phonePat))).as("has_pii"),
        md5(regexp_replace(regexp_replace(col("text"), emailPat, "[EMAIL]"),
          phonePat, "[PHONE]")).as("redacted_md5"))
    },

    // ---- DD19: paragraph-level dedup / boilerplate removal -----------------
    // Near-dup detection at document granularity misses shared boilerplate
    // (headers, footers, nav text) repeated across otherwise-distinct
    // pages. Paragraphs here are consecutive 10-word chunks (the corpus
    // has no natural breaks) plus a planted boilerplate paragraph on
    // every 3rd doc. Document frequency per paragraph comes from a
    // groupBy on the paragraph *hash* — the shuffle key is a fixed-width
    // md5, never the paragraph text, so the 100 TB exchange stays narrow.
    QueryDef(
      "dd19_paragraph_dedup",
      "Paragraph dedup: 10-word-chunk paragraphs + planted boilerplate, doc-frequency via md5-keyed groupBy, per-doc retained fraction",
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        chunked AS (
          SELECT doc_id,
                 [array_to_string(w[10*i+1 : 10*i+10], ' ')
                  for i in range(0, ((len(w) - 1) // 10) + 1)] AS chunks
          FROM toks
        ),
        withbp AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN list_append(chunks,
                   'subscribe to our newsletter for daily updates and exclusive offers')
                 ELSE chunks END AS ps
          FROM chunked
        ),
        paras AS (SELECT doc_id, md5(unnest(ps)) AS ph FROM withbp),
        pf AS (SELECT ph, COUNT(DISTINCT doc_id) AS df FROM paras GROUP BY ph)
        SELECT p.doc_id,
               COUNT(*) AS n_paras,
               COUNT(*) FILTER (WHERE pf.df > 1) AS n_shared,
               COUNT(*) FILTER (WHERE pf.df >= 3) AS n_boiler,
               round(CAST(COUNT(*) - COUNT(*) FILTER (WHERE pf.df > 1) AS DOUBLE)
                     / COUNT(*), 9) AS retained_frac
        FROM paras p JOIN pf ON p.ph = pf.ph
        GROUP BY p.doc_id
      """)) { (s, dir) =>
      val bp = "subscribe to our newsletter for daily updates and exclusive offers"
      val arr = Text.tokens
      val chunks = transform(
        sequence(lit(0), ((size(arr) - lit(1)) / lit(10)).cast("int")),
        i => array_join(slice(arr, i * 10 + 1, lit(10)), " "))
      val ps = when(col("doc_id") % 3 === 0, concat(chunks, array(lit(bp))))
        .otherwise(chunks)
      val paras = t(s, dir, "documents")
        .select(col("doc_id"), explode(ps).as("para"))
        .select(col("doc_id"), md5(col("para")).as("ph"))
      val pf = paras.groupBy(col("ph"))
        .agg(countDistinct(col("doc_id")).as("df"))
      paras.join(pf, "ph")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_paras"),
          sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"),
          sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_boiler"),
          round((count(lit(1)) - sum(when(col("df") > 1, 1L).otherwise(0L)))
            .cast("double") / count(lit(1)), 9).as("retained_frac"))
    },

    // ---- DD20: URL extraction + per-domain stats ---------------------------
    // Web-corpus curation tracks provenance per domain (allowlists,
    // per-domain caps, license buckets). URLs are planted on every 4th
    // doc (two shapes; every 8th doc carries both) and extracted with
    // one codegen'd regexp pass; the only shuffle is the final per-domain
    // aggregation whose key cardinality is tiny.
    QueryDef(
      "dd20_url_stats",
      "URL/domain provenance: regex URL extraction (planted on every 4th doc), per-domain url + distinct-doc counts",
      Some("""
        WITH urled AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 4 = 0 THEN
                      ' see https://site' || CAST(doc_id % 10 AS VARCHAR)
                      || '.example.com/page' || CAST(doc_id AS VARCHAR)
                    ELSE '' END
                 || CASE WHEN doc_id % 8 = 0 THEN
                      ' and http://cdn.example.org/asset' || CAST(doc_id AS VARCHAR)
                    ELSE '' END AS text
          FROM documents
        ),
        urls AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(text, 'https?://[a-z0-9./-]+')) AS url
          FROM urled
        )
        SELECT regexp_extract(url, '^https?://([a-z0-9.-]+)', 1) AS domain,
               COUNT(*) AS n_urls,
               COUNT(DISTINCT doc_id) AS n_docs,
               MIN(url) AS first_url
        FROM urls
        GROUP BY 1
      """)) { (s, dir) =>
      val urlPat = "https?://[a-z0-9./-]+"
      val urled = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" see https://site"), (col("doc_id") % 10).cast("string"),
              lit(".example.com/page"), col("doc_id").cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 8 === 0,
            concat(lit(" and http://cdn.example.org/asset"),
              col("doc_id").cast("string")))
            .otherwise(lit(""))).as("text"))
      // split the rollup like a18: the distinct-doc count (long buffers)
      // rides HashAggregate; fusing min(url) into it would demote the
      // whole two-phase distinct to SortAggregate. min(url) aggregates
      // the projected (domain, url) pair set alone, then joins back on
      // the ~|domains|-sized key.
      val urls = urled
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit(urlPat), lit(0))).as("url"))
        .withColumn("domain",
          regexp_extract(col("url"), "^https?://([a-z0-9.-]+)", 1))
      val counts = urls.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
      val firsts = urls.select(col("domain"), col("url"))
        .groupBy(col("domain")).agg(min(col("url")).as("first_url"))
      counts.join(firsts, Seq("domain"))
    },

    // ---- DD21: overlapping-window chunking ---------------------------------
    // The chunk table an embedding/RAG pipeline builds: 32-word windows
    // with stride 24 (8 words of overlap), one row per chunk with a
    // stable ordinal and content hash. Entirely narrow — sequence +
    // slice + explode, no shuffle — so at 100 TB it is a pure map stage
    // feeding the embedding step, and the (doc_id, chunk_idx) key is
    // reproducible across runs.
    QueryDef(
      "dd21_chunk_overlap",
      "Overlapping chunker: 32-word windows, stride 24, per-chunk ordinal + md5 — narrow map stage, no shuffle",
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        chunks AS (
          SELECT doc_id,
                 unnest([{idx: i, words: w[24*i+1 : 24*i+32]}
                         for i in range(0, ((len(w) - 1) // 24) + 1)],
                        recursive := true)
          FROM toks
        )
        SELECT doc_id,
               CAST(idx AS BIGINT) AS chunk_idx,
               CAST(24 * idx AS BIGINT) AS start_word,
               CAST(len(words) AS BIGINT) AS n_words,
               md5(array_to_string(words, ' ')) AS chunk_md5
        FROM chunks
      """)) { (s, dir) =>
      val arr = Text.tokens
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0), ((size(arr) - lit(1)) / lit(24)).cast("int")),
            i => struct(i.as("idx"), slice(arr, i * 24 + 1, lit(32)).as("words"))))
            .as("c"))
        .select(col("doc_id"),
          col("c.idx").cast("long").as("chunk_idx"),
          (col("c.idx") * 24).cast("long").as("start_word"),
          size(col("c.words")).cast("long").as("n_words"),
          md5(array_join(col("c.words"), " ")).as("chunk_md5"))
    },

    // ---- dd22: exact heavy hitters (corpus-frequency top-k) ---------------
    QueryDef(
      "dd22_heavy_hitters",
      "Exact global top-k most frequent tokens with total-order tie-break; map-side partial agg + TakeOrdered, never a full sort",
      Some("""
        SELECT w, n FROM (
          SELECT w, COUNT(*) AS n
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          GROUP BY w)
        ORDER BY n DESC, w LIMIT 20
      """)) { (s, dir) =>
      // scale shape: explode → hash-agg on token (partial combine maps
      // the token space down before the single shuffle) → orderBy+limit
      // compiles to TakeOrderedAndProject: each partition keeps its own
      // top-20, the driver merges k×partitions rows — no global sort at
      // any corpus size
      Text.tokenRows(t(s, dir, "documents"), Nil)
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"))
        .limit(20)
    },

    // ---- dd24: incremental-batch dedup against the standing corpus --------
    QueryDef(
      "dd24_incremental_dedup",
      "New-batch docs dedup against the existing corpus WITHOUT reshuffling it: the batch's content keys anti-join the corpus scan, so the standing data is read once and never moves",
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
      // at 100 TB the batch (small) broadcasts; the corpus side is a pure
      // scan feeding the hash lookup — no shuffle of the standing corpus.
      // left join on the distinct corpus keys (not semi/anti twice) so
      // one pass labels both outcomes.
      val docs = t(s, dir, "documents").select(col("doc_id"), md5(col("text")).as("k"))
      val corpusKeys = docs.filter(col("doc_id") % 10 =!= 7)
        .select(col("k")).distinct().withColumn("seen", lit(true))
      docs.filter(col("doc_id") % 10 === 7)
        .join(corpusKeys, Seq("k"), "left")
        .select(col("doc_id"),
          when(col("seen"), "duplicate").otherwise("new").as("status"))
    },

    // ---- dd31: exact-substring dedup stats (repeated 8-gram coverage) ----
    QueryDef(
      "dd31_substring_dedup",
      "Exact-substring dedup accounting (Lee et al. 2021 shape at word-8-gram grain): cross-doc repeated spans found by ONE shingle groupBy, per-doc covered-token fraction via span expansion — no pairwise doc comparison anywhere",
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 10000 AS doc_id, regexp_replace(text, '^(\w+ ){3}', '') AS text
          FROM documents WHERE doc_id % 5 = 0
        ),
        tok AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM corpus
          WHERE len(string_split(text, ' ')) >= 8
        ),
        sh AS (
          SELECT doc_id, p.s AS s, p.g AS g
          FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)-7),
                i -> struct_pack(s := i, g := array_to_string(arr[i:i+7], ' ')))) AS p FROM tok)
        ),
        dup AS (
          SELECT g FROM sh GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1
        ),
        hits AS (SELECT sh.doc_id, sh.s FROM sh JOIN dup ON sh.g = dup.g),
        covered AS (
          SELECT DISTINCT doc_id, s + off AS pos
          FROM hits, generate_series(0, 7) AS o(off)
        ),
        per_doc AS (
          SELECT t.doc_id, len(t.arr) AS n_tokens,
                 COALESCE(c.n_cov, 0) AS covered_tokens,
                 COALESCE(h.n_hit, 0) AS n_dup_shingles
          FROM tok t
          LEFT JOIN (SELECT doc_id, COUNT(*) AS n_cov FROM covered GROUP BY doc_id) c USING (doc_id)
          LEFT JOIN (SELECT doc_id, COUNT(*) AS n_hit FROM hits GROUP BY doc_id) h USING (doc_id)
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_dup_shingles AS BIGINT) AS n_dup_shingles,
               CAST(covered_tokens AS BIGINT) AS covered_tokens,
               round(CAST(covered_tokens AS DOUBLE) / n_tokens, 6) AS dup_fraction
        FROM per_doc
      """)) { (s, dir) =>
      // The suffix-array dedup from "Deduplicating Training Data Makes
      // Language Models Better", re-expressed as Spark relational algebra:
      // a span repeats across docs iff its 8-gram shingle does, so the
      // global duplicate-span set is ONE groupBy(shingle) with a
      // distinct-doc count — never a doc×doc comparison. Coverage then
      // expands each hit to its 8 token positions and distinct-counts per
      // doc. Scale: shingle rows ≈ corpus tokens; both shuffles (shingle
      // groupBy, doc_id recount) are bounded by corpus size — the same
      // 2-pass shape MapReduce suffix-dedup implementations use. The
      // duplicated-shingle set is corpus-global; its JOIN back to shingles
      // is an equi-join the AQE planner can broadcast when the dup set is
      // small (the common case: dup spans are rare in a healthy corpus).
      val tok = dd31Tok(s, dir)
      // The shingle relation feeds BOTH the duplicate-set groupBy and the
      // hits join (inside dd31Hits). Deliberately NOT cached — measured
      // 1.5× slower with .cache(): materializing the wide
      // (doc, pos, 8-gram-string) table costs more than re-running the
      // codegen-fused explode, and at corpus scale the shingle table
      // (≈ tokens × 8-gram bytes) would blow executor storage anyway.
      // Recompute-over-cache is the right call for wide derived shingles.
      //
      // Round-11 shuffle diet (the 100× canary's 23× ratio): both shingle
      // exchanges carried the full ~60-byte 8-gram STRING, and the
      // countDistinct(doc_id) planned as TWO aggregate exchanges
      // ((g,doc) dedup, then g). Now the shuffled key is the PAIR
      // (xxhash64(gram), hash(gram)) — 12 bytes, both allocation-free
      // codegen'd hashes (md5 was tried first and REGRESSED 100× 2.5×:
      // Spark's Md5 allocates a MessageDigest + hex string per row, and
      // the shingle relation is ~1.2B rows there), jointly ~96 bits so a
      // false dup-key needs a simultaneous collision in two independent
      // hashes (P ≈ pairs·2⁻⁹⁶) — and "appears in >1 distinct doc" is
      // min(doc)≠max(doc): one exchange with map-side combine instead of
      // countDistinct's double exchange. Fixture + diet live in
      // dd31Tok/dd31Shingles/dd31Hits above.
      val hits = dd31Hits(s, dir)
      // Coverage by INTERVAL MERGE, not explode+distinct (round-11, from
      // the 100× stage profile): expanding every hit to its 8 positions
      // and distinct-ing was a 3.8B-row exchange at 100× — the single
      // largest stage of the query. A hit covers [s, s+7]; the union size
      // is the sum of merged-island lengths (dd75's gaps-and-islands,
      // whose oracle proves the equivalence), computed with O(n) running
      // frames in ONE doc-keyed window pass. n_hit rides the same pass,
      // so `hits` is consumed once and the shingle relation is built one
      // time fewer.
      val wOrd = Window.partitionBy("doc_id").orderBy("s")
      val islands = hits.withColumn("brk",
        when(col("s") > coalesce(
          max(col("s") + 7).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
          lit(-1L)) + 1, 1).otherwise(0))
        .withColumn("gid",
          sum(col("brk")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val perDoc = islands
        .groupBy(col("doc_id"), col("gid"))
        .agg(min(col("s")).as("st"), max(col("s") + 7).as("en"),
          count(lit(1)).as("nh"))
        .groupBy(col("doc_id"))
        .agg(sum(col("en") - col("st") + 1).as("n_cov"), sum(col("nh")).as("n_hit"))
      tok.select(col("doc_id"), size(col("arr")).cast("long").as("n_tokens"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_hit"), lit(0L)).as("n_dup_shingles"),
          coalesce(col("n_cov"), lit(0L)).as("covered_tokens"),
          round(coalesce(col("n_cov"), lit(0L)).cast("double") / col("n_tokens"), 6)
            .as("dup_fraction"))
    },

    // ---- dd75: maximal duplicated-span verifier (suffix-array output
    //      shape over dd31's shingle hits) ----------------------------------
    // Lee et al.'s ExactSubstr suffix-array dedup emits MAXIMAL repeated
    // substrings; dd31 emits per-position coverage. This op closes the
    // gap: merge dd31's duplicated-8-gram hit positions into maximal
    // per-doc spans (gaps-and-islands over a doc-keyed window) and report
    // span structure. VERIFIER LINK: sum(span lengths) per doc must equal
    // dd31's covered_tokens — the oracle recomputes both independently,
    // so a merge bug in either representation breaks the hash.
    QueryDef(
      "dd75_max_dup_spans",
      "Maximal cross-doc duplicated spans (ExactSubstr output shape): dd31's duplicated-shingle hits merged into per-doc maximal token spans via gaps-and-islands; n_spans + longest + total covered per doc — doc-keyed windows only, no pairwise doc scan",
      Some(s"""
        WITH $corpusSql,
        tok AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM corpus
          WHERE len(string_split(text, ' ')) >= 8
        ),
        sh AS (
          SELECT doc_id, p.s AS s, p.g AS g
          FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)-7),
                i -> struct_pack(s := i, g := array_to_string(arr[i:i+7], ' ')))) AS p FROM tok)
        ),
        dup AS (
          SELECT g FROM sh GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1
        ),
        hits AS (SELECT DISTINCT sh.doc_id, sh.s FROM sh JOIN dup ON sh.g = dup.g),
        runs AS (
          SELECT doc_id, s,
                 CASE WHEN s > COALESCE(max(s + 7) OVER (PARTITION BY doc_id ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                      THEN 1 ELSE 0 END AS brk
          FROM hits
        ),
        isl AS (
          SELECT doc_id, s, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
          FROM runs
        ),
        merged AS (
          SELECT doc_id, gid, min(s) AS sp_start, max(s + 7) AS sp_end
          FROM isl GROUP BY doc_id, gid
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(max(sp_end - sp_start + 1) AS BIGINT) AS longest_span,
               CAST(sum(sp_end - sp_start + 1) AS BIGINT) AS covered_tokens
        FROM merged GROUP BY doc_id
      """)) { (s, dir) =>
      // dd31's duplicated-hit relation VERBATIM (dd31Hits — same shingle
      // construction, same hash-pair shuffle diet, and crucially the same
      // pre-explode fan-out; this query's previous inline copy of the
      // chain skipped the fan-out, so its two shingle evaluations ran at
      // raw documents-row-group parallelism: 2 tasks × ~0.6 s each);
      // then a doc-keyed gaps-and-islands merge: a hit starts a new
      // island iff it begins past the running max end+1 (adjacent spans
      // fuse — contiguous duplicated text is ONE maximal span, exactly
      // what a suffix array would emit). Both windows share one doc-keyed
      // sort; per-doc hit counts are token-bounded, so the window
      // partition never exceeds a doc's length at any corpus scale.
      val hits = dd31Hits(s, dir)
      val wOrd = Window.partitionBy("doc_id").orderBy("s")
      val runs = hits.withColumn("brk",
        when(col("s") > coalesce(
          max(col("s") + 7).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
          lit(-1)) + 1, 1).otherwise(0))
      val isl = runs.withColumn("gid", sum(col("brk")).over(wOrd))
      isl.groupBy(col("doc_id"), col("gid"))
        .agg(min(col("s")).as("sp_start"), max(col("s") + 7).as("sp_end"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          max(col("sp_end") - col("sp_start") + 1).cast("long").as("longest_span"),
          sum(col("sp_end") - col("sp_start") + 1).cast("long").as("covered_tokens"))
    },

    // ---- dd103: dedup threshold survival curve ----------------------------
    QueryDef(
      "dd103_dedup_curve",
      "Dedup-threshold survival curve: for each Jaccard cutoff in {1/2, 3/5, 7/10, 4/5, 9/10}, the number of near-dup pairs and affected docs — the curve an operator reads before picking the dedup threshold (too low eats paraphrases, too high leaves templates). Candidates come from dd31's 8-gram discipline (pairs must SHARE a rare 8-gram — never all-pairs), exact 8-gram-set Jaccard on candidates only, thresholds compared in integer cross-multiplied form so the curve is bit-identical across engines; the 5-row threshold spine LEFT-joins so empty cutoffs report 0",
      Some(s"""
        WITH $corpusSql,
        tok AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM corpus
          WHERE len(string_split(text, ' ')) >= 8
        ),
        sh0 AS (
          SELECT doc_id, p.g AS g
          FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)-7),
                i -> struct_pack(g := array_to_string(arr[i:i+7], ' ')))) AS p FROM tok)
        ),
        sh AS (SELECT DISTINCT doc_id, g FROM sh0),
        n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS c
          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        jac AS (
          SELECT doc_a, doc_b, c, na.n + nb.n - c AS uni
          FROM pairs JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
        ),
        thr(tn, td) AS (VALUES (1, 2), (3, 5), (7, 10), (4, 5), (9, 10)),
        qp AS (
          SELECT t.tn, t.td, j.doc_a, j.doc_b
          FROM jac j JOIN thr t ON j.c * t.td >= t.tn * j.uni
        ),
        np AS (SELECT tn, td, CAST(count(*) AS BIGINT) AS n_pairs FROM qp GROUP BY 1, 2),
        nd AS (
          SELECT tn, td, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
          FROM (SELECT tn, td, doc_a AS d FROM qp
                UNION ALL SELECT tn, td, doc_b AS d FROM qp)
          GROUP BY 1, 2
        )
        SELECT round(CAST(t.tn AS DOUBLE) / t.td, 2) AS threshold,
               COALESCE(np.n_pairs, 0) AS n_pairs,
               COALESCE(nd.n_docs, 0) AS n_docs
        FROM thr t
        LEFT JOIN np ON t.tn = np.tn AND t.td = np.td
        LEFT JOIN nd ON t.tn = nd.tn AND t.td = nd.td
      """)) { (s, dir) =>
      // 8-gram candidate discipline (dd31): only docs sharing a specific
      // 8-gram ever pair, so candidate volume is duplication-bounded, not
      // corpus-quadratic. The 5-threshold expansion replicates the PAIR
      // relation (near-dup-bounded), never the corpus. Tokenized corpus
      // is dd31Tok VERBATIM (same corpus, same >=8 filter) — the shared
      // helper carries the size-gated pre-explode fan-out, without which
      // the three evaluations of the shingle relation (self-join a/b
      // sides + the per-doc size relation) each ran the ngram build as a
      // serial 2-task stage (profiled ~0.6 s × 2 + 0.25 s).
      val tok = dd31Tok(s, dir)
      val shA = tok.select(col("doc_id"), Text.shingleSet(col("arr"), 8).as("shArr"))
      val sh = shA.select(col("doc_id"), explode(col("shArr")).as("g"))
      val n = shA.select(col("doc_id"), size(col("shArr")).cast("long").as("n"))
      val pairs = sh.as("a").join(sh.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("c"))
      val jac = pairs
        .join(n.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(n.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("c"),
          (col("na") + col("nb") - col("c")).as("uni"))
      val thr = s.range(1).select(explode(array(
        struct(lit(1).as("tn"), lit(2).as("td")),
        struct(lit(3).as("tn"), lit(5).as("td")),
        struct(lit(7).as("tn"), lit(10).as("td")),
        struct(lit(4).as("tn"), lit(5).as("td")),
        struct(lit(9).as("tn"), lit(10).as("td")))).as("t"))
        .select(col("t.tn").as("tn"), col("t.td").as("td"))
      val qp = jac.join(broadcast(thr),
        col("c") * col("td") >= col("tn") * col("uni")).cache()
      val np = qp.groupBy(col("tn"), col("td")).agg(count(lit(1)).as("n_pairs"))
      val nd = qp.select(col("tn"), col("td"),
          explode(array(col("doc_a"), col("doc_b"))).as("d"))
        .groupBy(col("tn"), col("td")).agg(countDistinct(col("d")).as("n_docs"))
      // no broadcast hint: thr is the preserved side of these left joins,
      // which a broadcast join cannot build from (Spark drops such hints)
      thr.join(np, Seq("tn", "td"), "left")
        .join(nd, Seq("tn", "td"), "left")
        .select(round(col("tn").cast("double") / col("td"), 2).as("threshold"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
    },

    // ---- dd33: n-gram novelty curve (first-seen attribution) -------------
    QueryDef(
      "dd33_ngram_novelty",
      "Corpus novelty curve: per doc, the fraction of its 3-gram shingles first seen in THAT doc (min-doc-id attribution) — the curation signal for ordering/pruning crawl snapshots; one shingle groupBy, no pairwise scan",
      Some("""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 3
        ),
        sh AS (
          SELECT DISTINCT doc_id, g
          FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)-2),
                i -> array_to_string(arr[i:i+2], ' '))) AS g FROM tok)
        ),
        first_seen AS (
          SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g
        )
        SELECT s.doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               round(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS novelty
        FROM sh s JOIN first_seen f USING (g)
        GROUP BY s.doc_id
      """)) { (s, dir) =>
      // First-seen attribution is a min-aggregate over the shingle key,
      // NOT a doc×doc comparison: each distinct (doc, shingle) pair joins
      // the global first_doc table on the shingle — the same equi-join
      // blocking every dd-family op uses. At crawl scale the shingle
      // table is the big side; both the groupBy and the join shuffle on
      // the shingle key, so the shape is one repartition wide. Novelty
      // ordering is deterministic (min doc id), matching how snapshot
      // ingestion assigns priority to the earliest copy.
      val tok = Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id")), 3)
      val sh = tok.select(col("doc_id"), explode(Text.shingleSet(col("arr"))).as("g"))
      val firstSeen = sh.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(firstSeen, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"),
          round(sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("novelty"))
    },

    // ---- dd37: dedup-detector evaluation harness -------------------------
    QueryDef(
      "dd37_dedup_eval",
      "Detector evaluation as a first-class op: SimHash-equality candidate pairs scored against the planted near-dup truth — one confusion-matrix row with precision/recall; every set op is a key-partitioned join, truth and detections never leave the cluster",
      Some {
        val bitSums = (0 until 16).map(b =>
          s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
          .mkString(",\n                 ")
        val bits = (0 until 16).map(b =>
          s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
        s"""
        WITH $corpusSql,
        tokd AS (
          SELECT DISTINCT doc_id, w
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
        ),
        hashed AS (
          SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM tokd
        ),
        votes AS (
          SELECT doc_id,
                 $bitSums
          FROM hashed GROUP BY doc_id
        ),
        sig AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes),
        detected AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM sig a JOIN sig b
            ON a.simhash = b.simhash AND a.doc_id < b.doc_id
        ),
        truth AS (
          SELECT doc_id AS a_id, doc_id + 10000 AS b_id
          FROM documents WHERE doc_id % 5 = 0
        ),
        tp AS (
          SELECT COUNT(*) AS n FROM detected d
          WHERE EXISTS (SELECT 1 FROM truth t
                        WHERE t.a_id = d.a_id AND t.b_id = d.b_id)
        )
        SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM detected) AS n_detected,
               tp.n AS n_tp,
               round(CAST(tp.n AS DOUBLE) / (SELECT COUNT(*) FROM detected), 6) AS precision,
               round(CAST(tp.n AS DOUBLE) / (SELECT COUNT(*) FROM truth), 6) AS recall
        FROM tp
        """
      }) { (s, dir) =>
      // The evaluation loop production dedup ships with: a cheap
      // detector (SimHash signature equality) scored against planted
      // ground truth, yielding the precision/recall a curation team
      // tunes thresholds by. All three sets (signatures, detections,
      // truth) are key-partitioned frames; the confusion counts are
      // 1-row aggregates — nothing is collected until the final scalar
      // row, so the same harness evaluates a detector over a 100 TB
      // corpus unchanged.
      val tokd = Text.tokenRows(corpus(s, dir), Seq(col("doc_id")))
        .distinct()
      val hashed = tokd.select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h"))
      val voteExprs = (0 until 16).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"s$b"))
      val votes = hashed.groupBy(col("doc_id")).agg(voteExprs.head, voteExprs.tail: _*)
      val sig = votes.select(col("doc_id"),
        (0 until 16).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      // detected and truth each feed two counts; neither is cached, since
      // recomputing them measured faster than caching them
      val detected = sig.as("a").join(sig.as("b"),
          col("a.simhash") === col("b.simhash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      val truth = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("a_id"), (col("doc_id") + 10000).as("b_id"))
      val nTp = detected.join(truth, Seq("a_id", "b_id"), "left_semi")
        .agg(count(lit(1)).as("n_tp"))
      val nDet = detected.agg(count(lit(1)).as("n_detected"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      nTruth.crossJoin(nDet).crossJoin(nTp)
        .select(col("n_truth"), col("n_detected"), col("n_tp"),
          round(col("n_tp").cast("double") / col("n_detected"), 6).as("precision"),
          round(col("n_tp").cast("double") / col("n_truth"), 6).as("recall"))
    },

    // ---- dd36: markup stripping + visible-text ratio ---------------------
    QueryDef(
      "dd36_markup_strip",
      "Web-corpus cleaning: strip tags + decode entities on a planted-markup schedule, emit visible-text ratio (the boilerplate-density quality gate) — pure narrow codegen'd string pass, zero shuffles",
      Some("""
        WITH raw AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN '<html><body><p class="x">' ||
                           replace(text, ' ', ' </p><p> ') ||
                           '</p><div>&amp; &lt;tail&gt;</div></body></html>'
                      ELSE text END AS html
          FROM documents
        ),
        stripped AS (
          SELECT doc_id, html,
                 trim(regexp_replace(
                   replace(replace(replace(
                     regexp_replace(html, '<[^>]*>', ' ', 'g'),
                     '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   ' +', ' ', 'g')) AS clean
          FROM raw
        )
        SELECT doc_id,
               CAST(length(html) AS BIGINT) AS raw_len,
               CAST(length(clean) AS BIGINT) AS clean_len,
               round(CAST(length(clean) AS DOUBLE) / length(html), 6) AS visible_ratio,
               (doc_id % 7 = 0) AS had_markup
        FROM stripped
      """)) { (s, dir) =>
      // The first stage of every web-crawl pipeline: tag strip, entity
      // decode, whitespace re-collapse, and the visible-text ratio that
      // gates boilerplate-heavy pages. Everything is per-row string work
      // — whole-stage codegen, no exchange anywhere — so at 100 TB this
      // runs at scan speed and the only cost is the parquet read. The
      // markup is planted on a fixed schedule (doc_id % 7) so the oracle
      // pins both the stripping and the ratio arithmetic exactly.
      val raw = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("<html><body><p class=\"x\">"),
            regexp_replace(col("text"), " ", " </p><p> "),
            lit("</p><div>&amp; &lt;tail&gt;</div></body></html>")))
          .otherwise(col("text")).as("html"))
      val clean = trim(regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(col("html"), "<[^>]*>", " "),
              "&amp;", "&"),
            "&lt;", "<"),
          "&gt;", ">"),
        " +", " "))
      raw.select(col("doc_id"),
        length(col("html")).cast("long").as("raw_len"),
        length(clean).cast("long").as("clean_len"),
        round(length(clean).cast("double") / length(col("html")), 6).as("visible_ratio"),
        (col("doc_id") % 7 === 0).as("had_markup"))
    },

    // ---- dd35: curriculum training order (tier interleave) ---------------
    QueryDef(
      "dd35_curriculum_order",
      "Curriculum training order: quality tiers interleaved round-robin in deterministic md5 order; the within-tier ordinal uses the two-phase bucketed row_number (distributed zipWithIndex) so NO window ever sees a whole tier",
      Some("""
        WITH tiered AS (
          SELECT doc_id,
                 CASE WHEN n_chars >= 600 THEN 0
                      WHEN n_chars >= 300 THEN 1
                      ELSE 2 END AS tier,
                 md5(CAST(doc_id AS VARCHAR)) AS h,
                 strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS bucket
          FROM documents
        ),
        ordered AS (
          SELECT doc_id, tier,
                 ROW_NUMBER() OVER (PARTITION BY tier ORDER BY bucket, h, doc_id) AS ordinal
          FROM tiered
        )
        SELECT doc_id, CAST(tier AS INT) AS tier, CAST(ordinal AS BIGINT) AS ordinal,
               CAST((ordinal - 1) * 3 + tier AS BIGINT) AS curriculum_pos
        FROM ordered
      """)) { (s, dir) =>
      // Training-order construction: 3 quality tiers, each shuffled by
      // md5, interleaved round-robin (pos = (ordinal-1)*3 + tier) so
      // every stretch of the training stream mixes tiers. The oracle
      // states the semantics as ONE window per tier; the engine computes
      // the SAME ordinal scalably: row_number runs per (tier, md5-hex
      // bucket) — 16× the parallelism, bucket sizes bounded — and a
      // 48-row running-offset table (broadcast) lifts bucket-local ranks
      // to tier-global ordinals. The bucket is a prefix of the sort key,
      // so two-phase ≡ single-window exactly; widening the bucket digit
      // scales the pattern to any corpus size.
      val hexpos = "0123456789abcdef"
      val tiered = t(s, dir, "documents").select(col("doc_id"),
        when(col("n_chars") >= 600, 0).when(col("n_chars") >= 300, 1)
          .otherwise(2).as("tier"),
        md5(col("doc_id").cast("string")).as("h"))
        .withColumn("bucket",
          instr(lit(hexpos), substring(col("h"), 1, 1)) - 1)
      val counts = tiered.groupBy(col("tier"), col("bucket"))
        .agg(count(lit(1)).as("c"))
      val wOff = Window.partitionBy("tier").orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = counts.withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
        .select(col("tier"), col("bucket"), col("off"))
      val wRn = Window.partitionBy("tier", "bucket").orderBy(col("h"), col("doc_id"))
      tiered.join(broadcast(offsets), Seq("tier", "bucket"))
        .withColumn("ordinal", col("off") + row_number().over(wRn))
        .select(col("doc_id"), col("tier").cast("int").as("tier"),
          col("ordinal").as("ordinal"),
          ((col("ordinal") - 1) * 3 + col("tier")).cast("long").as("curriculum_pos"))
    },

    // ---- dd32: canonical-document selection per dedup cluster ------------
    QueryDef(
      "dd32_canonical_select",
      "After clustering (dd11), keep ONE canonical doc per duplicate cluster — longest text, doc-id tiebreak — and account the bytes the dedup saves; selection is a cluster-keyed window, no second clustering pass",
      Some("""
        WITH RECURSIVE corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 10000 AS doc_id, regexp_replace(text, '^(\w+ ){3}', '') AS text
          FROM documents WHERE doc_id % 5 = 0
        ),
        keyed AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS k
          FROM corpus
        ),
        edges0(a, b) AS (
          SELECT x.doc_id, y.doc_id
          FROM keyed x JOIN keyed y ON x.k = y.k AND x.doc_id < y.doc_id
          UNION ALL
          SELECT doc_id, doc_id + 10000 FROM documents WHERE doc_id % 5 = 0
        ),
        edges(a, b) AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
        reach(node, root) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
        ),
        clusters AS (SELECT node, MIN(root) AS cluster FROM reach GROUP BY node),
        sized AS (
          SELECT c.cluster, c.node, length(co.text) AS n_chars
          FROM clusters c JOIN corpus co ON co.doc_id = c.node
        ),
        ranked AS (
          SELECT cluster, node, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_chars DESC, node) AS rk
          FROM sized
        )
        SELECT r.cluster,
               CAST(MAX(CASE WHEN rk = 1 THEN node END) AS BIGINT) AS canonical_id,
               COUNT(*) AS n_members,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) - MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS saved_chars
        FROM ranked r GROUP BY r.cluster
        HAVING COUNT(*) > 1
      """)) { (s, dir) =>
      // The keep-best step every production dedup ends with: clusters come
      // from the SAME star-edge + min-label machinery as dd11 (one code
      // path, not a re-derivation), then canonical selection is a single
      // cluster-partitioned window — quality-first (longest text), id
      // tiebreak — and the savings accounting rides the same groupBy.
      // Nothing here is pairwise; cluster sizes bound the window groups.
      val docs = corpus(s, dir)
      val keyed = docs.select(col("doc_id"), Text.bagKey.as("k"))
      val wk = Window.partitionBy("k")
      val bagEdges = keyed
        .withColumn("root", min(col("doc_id")).over(wk))
        .filter(col("doc_id") =!= col("root"))
        .select(col("root").as("a"), col("doc_id").as("b"))
      val variantEdges = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 10000).as("b"))
      val cc = graft.resolve.DocCluster.connectedComponents(
        bagEdges.unionByName(variantEdges))
      val sized = cc.join(docs.select(col("doc_id").as("node"),
        length(col("text")).cast("long").as("n_chars")), Seq("node"))
      val wc = Window.partitionBy("cluster")
        .orderBy(col("n_chars").desc, col("node"))
      sized.withColumn("rk", row_number().over(wc))
        .groupBy(col("cluster"))
        .agg(max(when(col("rk") === 1, col("node"))).as("canonical_id"),
          count(lit(1)).as("n_members"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars")) - max(when(col("rk") === 1, col("n_chars"))))
            .as("saved_chars"))
        .filter(col("n_members") > 1)
    },

    // ---- tokenizer vocabulary coverage (OOV rate) --------------------------
    QueryDef(
      "dd47_vocab_oov",
      "Tokenizer vocabulary coverage: top-10 corpus vocab (freq-ranked, token tiebreak; 10 keeps the gate discriminating on the ~31-token synthetic vocabulary), per-doc OOV fraction via a broadcast vocab array — documents never shuffle; the only exchange is the token-bounded frequency groupBy. The per-doc check is a narrow higher-order filter against the 1-row broadcast vocab, so the doc scan is one codegen pass at any corpus size",
      Some("""
        WITH tok AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        vocab AS (
          SELECT w FROM (
            SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rn
            FROM tok GROUP BY w) WHERE rn <= 10
        ),
        per_doc AS (
          SELECT t.doc_id, t.lang,
                 COUNT(*) AS n_tokens,
                 SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
          FROM tok t LEFT JOIN vocab v ON t.w = v.w
          GROUP BY t.doc_id, t.lang
        )
        SELECT lang, COUNT(*) AS docs,
               CAST(SUM(n_oov) AS BIGINT) AS oov_tokens,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               round(AVG(CAST(n_oov AS DOUBLE) / n_tokens), 6) AS avg_oov
        FROM per_doc GROUP BY lang
      """)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val vocab = Text.tokenRows(docs, Nil)
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(10)
        .agg(collect_list(col("w")).as("vocab"))
      docs.select(col("lang"), Text.tokens.as("toks"))
        .crossJoin(broadcast(vocab))
        .select(col("lang"), size(col("toks")).as("n_tokens"),
          size(filter(col("toks"),
            x => not(array_contains(col("vocab"), x)))).as("n_oov"))
        .groupBy(col("lang")).agg(
          count(lit(1)).as("docs"),
          sum(col("n_oov")).cast("long").as("oov_tokens"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          round(avg(col("n_oov").cast("double") / col("n_tokens")), 6)
            .as("avg_oov"))
    },

    // ---- Zipf naturalness check per source ---------------------------------
    QueryDef(
      "dd48_zipf_slope",
      "Corpus naturalness probe: OLS slope of log-frequency on log-rank over each source's top-100 tokens (natural text ~ -1; generated/templated text diverges). One token-bounded groupBy, a per-source window over <=vocabulary rows, regr_slope on <=100 points per group — round(6) sits ~7 orders above the accumulated float error",
      Some("""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        freq AS (SELECT source, w, COUNT(*) AS n FROM tok GROUP BY source, w),
        ranked AS (
          SELECT source, n,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, w) AS rnk
          FROM freq)
        SELECT source, COUNT(*) AS n_terms,
               round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope
        FROM ranked WHERE rnk <= 100 GROUP BY source
      """)) { (s, dir) =>
      val freq = Text.tokenRows(t(s, dir, "documents"), Seq(col("source")))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
      val wr = Window.partitionBy("source").orderBy(col("n").desc, col("w"))
      freq.withColumn("rnk", row_number().over(wr)).filter(col("rnk") <= 100)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_terms"),
          round(regr_slope(log(col("n").cast("double")),
            log(col("rnk").cast("double"))), 6).as("zipf_slope"))
    },

    // ---- contamination matrix: train shards x eval sets -------------------
    QueryDef(
      "dd49_contamination_matrix",
      "Data-card contamination grid: two eval sets (doc_id%97 / doc_id%89) with planted 12-word excerpts in the train split, train sharded 4 ways — per (shard, eval_set) cell the contaminated-doc count, shared distinct 8-grams, and contamination rate. Same distinct-gram equi-join scale shape as dd15 (never all-pairs); the eval-gram side is benchmark-bounded so it broadcasts at any corpus size",
      Some("""
        WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        bench AS (
          SELECT 'evalA' AS eval_set, doc_id AS b_id, string_split(text, ' ') AS w
          FROM documents WHERE doc_id % 97 = 0
          UNION ALL
          SELECT 'evalB', doc_id, string_split(text, ' ')
          FROM documents WHERE doc_id % 89 = 0
        ),
        train AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 0
          UNION ALL
          SELECT b_id + (SELECT m + 1 FROM mx)
                   * (CASE eval_set WHEN 'evalA' THEN 1 ELSE 2 END) AS doc_id,
                 array_to_string(w[3:14], ' ') AS text
          FROM bench
        ),
        bg AS (
          SELECT DISTINCT eval_set,
                 unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS gram
          FROM bench
        ),
        tg AS (
          SELECT DISTINCT doc_id,
                 unnest([array_to_string(w2[i:i+7], ' ') for i in range(1, len(w2) - 6)]) AS gram
          FROM (SELECT doc_id, string_split(text, ' ') AS w2 FROM train)
        ),
        hits AS (
          SELECT CAST(tg.doc_id % 4 AS INT) AS shard, bg.eval_set, tg.doc_id,
                 COUNT(*) AS gram_hits
          FROM tg JOIN bg ON tg.gram = bg.gram
          GROUP BY 1, 2, 3
        ),
        tot AS (
          SELECT CAST(doc_id % 4 AS INT) AS shard, COUNT(*) AS shard_docs
          FROM train GROUP BY 1
        )
        SELECT h.shard, h.eval_set,
               CAST(COUNT(*) AS BIGINT) AS contaminated_docs,
               CAST(SUM(h.gram_hits) AS BIGINT) AS gram_hits,
               round(COUNT(*) / CAST(MAX(t.shard_docs) AS DOUBLE), 6) AS contamination_rate
        FROM hits h JOIN tot t ON h.shard = t.shard
        GROUP BY 1, 2
      """)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val mx = docs.agg(max(col("doc_id")).as("m"))
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(lit("evalA").as("eval_set"), col("doc_id").as("b_id"), Text.tokens.as("w"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select(lit("evalB").as("eval_set"), col("doc_id").as("b_id"), Text.tokens.as("w")))
      // planted excerpt ids: evalA lands in (m, 2m+1], evalB in
      // (2m+1, 3m+2] — disjoint from the originals and from each other
      val planted = bench.crossJoin(broadcast(mx))
        .select((col("b_id") + (col("m") + 1) *
            when(col("eval_set") === "evalA", 1).otherwise(2)).as("doc_id"),
          array_join(slice(col("w"), 3, 12), " ").as("text"))
      val train = docs
        .filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 89 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionByName(planted)
      // eval-side grams: within-doc distinct narrow, then a distinct over
      // (eval_set, gram) — benchmark-bounded, stays tiny at any SF
      val bg = bench
        .select(col("eval_set"), explode(Text.shingleSet(col("w"), 8)).as("gram"))
        .distinct()
      val tg = train.select(col("doc_id"), explode(Text.shingleSet(Text.tokens, 8)).as("gram"))
      val hits = tg.join(bg, Seq("gram"))
        .groupBy((col("doc_id") % 4).cast("int").as("shard"),
          col("eval_set"), col("doc_id"))
        .agg(count(lit(1)).as("gram_hits"))
      val tot = train
        .groupBy((col("doc_id") % 4).cast("int").as("shard"))
        .agg(count(lit(1)).as("shard_docs"))
      hits.groupBy(col("shard"), col("eval_set"))
        .agg(count(lit(1)).cast("long").as("contaminated_docs"),
          sum(col("gram_hits")).cast("long").as("gram_hits"))
        .join(tot, Seq("shard"))
        .select(col("shard"), col("eval_set"), col("contaminated_docs"),
          col("gram_hits"),
          round(col("contaminated_docs") / col("shard_docs").cast("double"), 6)
            .as("contamination_rate"))
    },

    // ---- DD55: minhash estimator calibration ------------------------------
    QueryDef(
      "dd55_minhash_calibration",
      "MinHash estimator quality: for every LSH candidate pair, the 8-slot signature agreement (the estimator a production dedup trusts) vs the exact shingle Jaccard, rolled up per agreement level — answers 'how wrong is the sketch' with data, the eval a detector threshold is tuned against; reuses dd2's signature build, and the calibration rollup is agreement-bounded (9 rows)",
      Some(s"""
        WITH $corpusSql,
        $shinglesSql,
        mh AS (
          SELECT doc_id,
                 min(CAST(('0x' || substring(md5('0#' || sh), 1, 15)) AS BIGINT)) AS mh0,
                 min(CAST(('0x' || substring(md5('1#' || sh), 1, 15)) AS BIGINT)) AS mh1,
                 min(CAST(('0x' || substring(md5('2#' || sh), 1, 15)) AS BIGINT)) AS mh2,
                 min(CAST(('0x' || substring(md5('3#' || sh), 1, 15)) AS BIGINT)) AS mh3,
                 min(CAST(('0x' || substring(md5('4#' || sh), 1, 15)) AS BIGINT)) AS mh4,
                 min(CAST(('0x' || substring(md5('5#' || sh), 1, 15)) AS BIGINT)) AS mh5,
                 min(CAST(('0x' || substring(md5('6#' || sh), 1, 15)) AS BIGINT)) AS mh6,
                 min(CAST(('0x' || substring(md5('7#' || sh), 1, 15)) AS BIGINT)) AS mh7
          FROM sh GROUP BY doc_id
        ),
        bands AS (
          SELECT doc_id, 0 AS band_idx, md5(CAST(mh0 AS VARCHAR) || CAST(mh1 AS VARCHAR)) AS bkey FROM mh
          UNION ALL SELECT doc_id, 1, md5(CAST(mh2 AS VARCHAR) || CAST(mh3 AS VARCHAR)) FROM mh
          UNION ALL SELECT doc_id, 2, md5(CAST(mh4 AS VARCHAR) || CAST(mh5 AS VARCHAR)) FROM mh
          UNION ALL SELECT doc_id, 3, md5(CAST(mh6 AS VARCHAR) || CAST(mh7 AS VARCHAR)) FROM mh
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        ),
        est AS (
          SELECT c.a_id, c.b_id,
                 (CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END +
                  CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END +
                  CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END +
                  CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END +
                  CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END +
                  CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END +
                  CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END +
                  CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END) AS slots
          FROM cand c JOIN mh a ON c.a_id = a.doc_id JOIN mh b ON c.b_id = b.doc_id
        ),
        n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        com AS (
          SELECT c.a_id, c.b_id, COUNT(*) AS common
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.a_id
          JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh
          GROUP BY c.a_id, c.b_id
        ),
        ex AS (
          SELECT m.a_id, m.b_id,
                 CAST(round(CAST(m.common AS DOUBLE) / (na.n + nb.n - m.common), 6)
                   AS DECIMAL(18,6)) AS jacc
          FROM com m JOIN n na ON na.doc_id = m.a_id JOIN n nb ON nb.doc_id = m.b_id
        )
        SELECT est.slots, round(est.slots / 8.0, 6) AS est_jaccard,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(CAST(SUM(COALESCE(ex.jacc, 0)) AS DOUBLE) / count(*), 6) AS mean_jaccard,
               round(CAST(MIN(COALESCE(ex.jacc, 0)) AS DOUBLE), 6) AS min_jaccard,
               round(CAST(MAX(COALESCE(ex.jacc, 0)) AS DOUBLE), 6) AS max_jaccard
        FROM est LEFT JOIN ex ON est.a_id = ex.a_id AND est.b_id = ex.b_id
        GROUP BY est.slots
      """)) { (s, dir) =>
      // Estimator evaluation rides the SAME plan skeleton as the detector
      // it audits (dd2): one shingle exchange for signatures, a band-key
      // equi-join for candidates, the exact verify only on candidates —
      // so calibrating the sketch costs what running it costs, plus an
      // agreement-bounded (<=9-row) rollup. Exact Jaccards round(6) into
      // DECIMAL before the mean so the per-slot sums are order-free.
      // fanned out before the shingle build (size-gated no-op at scale):
      // the cache otherwise pins the scan's 1-2 partitions, serializing
      // every downstream consumer of the cached relation
      val docsArr = Text.shingleArr(
        graft.core.Fanout.bySize(s, corpus(s, dir), dir, "documents")).cache()
      val sh = Text.shingles(docsArr)
      // native per-doc signature (see dd2): no exploded groupBy, value-
      // identical to the oracle's min-over-md5-prefix formulation
      val mh = docsArr.select(col("doc_id"),
        graft.functions.NativeExpressions.minhash_sig_native(col("shArr")).as("sig"))
        .select(col("doc_id") +: (0 until 8).map(i =>
          element_at(col("sig"), i + 1).as(s"mh$i")): _*)
        .cache()
      val bands = mh.select(col("doc_id"), explode(array(
        (0 until 4).map(b => struct(lit(b).as("band_idx"),
          md5(concat(col(s"mh${2 * b}").cast("string"),
            col(s"mh${2 * b + 1}").cast("string"))).as("bkey"))): _*))
        .as("band"))
        .select(col("doc_id"), col("band.band_idx").as("band_idx"),
          col("band.bkey").as("bkey"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val slots = (0 until 8).map(i =>
        when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      val est = cand
        .join(mh.as("a"), col("a_id") === col("a.doc_id"))
        .join(mh.as("b"), col("b_id") === col("b.doc_id"))
        .select(col("a_id"), col("b_id"), slots.as("slots"))
      val n = docsArr.select(col("doc_id"), size(col("shArr")).cast("long").as("n"))
      val com = cand
        .join(sh.select(col("doc_id").as("a_id"), col("sh")), Seq("a_id"))
        .join(sh.select(col("doc_id").as("b_id"), col("sh")), Seq("b_id", "sh"))
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("common"))
      val ex = com
        .join(n.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
        .join(n.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          round(col("common").cast("double") /
            (col("na") + col("nb") - col("common")), 6)
            .cast("decimal(18,6)").as("jacc"))
      est.join(ex, Seq("a_id", "b_id"), "left")
        .groupBy(col("slots"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(coalesce(col("jacc"), lit(0))).cast("double") / count(lit(1)), 6)
            .as("mean_jaccard"),
          round(min(coalesce(col("jacc"), lit(0))).cast("double"), 6).as("min_jaccard"),
          round(max(coalesce(col("jacc"), lit(0))).cast("double"), 6).as("max_jaccard"))
        .select(col("slots"), round(col("slots") / 8.0, 6).as("est_jaccard"),
          col("n_pairs"), col("mean_jaccard"), col("min_jaccard"),
          col("max_jaccard"))
    })
}
