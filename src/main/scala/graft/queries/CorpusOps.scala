package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** Round-11 corpus-preparation batch: the training-data operators a
  * 100 TB pipeline runs between ingestion and tokenization that the
  * inventory did not yet cover — format classification (code vs prose),
  * preference-label QA (transitivity audit), instruction-data structure
  * linting, and INCREMENTAL near-dup admission against a standing LSH
  * index (the near-dup twin of dd24's exact-hash delta check).
  *
  * House disciplines throughout: deterministic md5 plants/signatures
  * (reproducible across engines and partitionings), DECIMAL sums where a
  * double fold order would diverge, integer-ratio divisions instead of
  * averaged doubles, and shuffle keys that are hashes or bounded
  * vocabularies — never document text.
  */
object CorpusOps {

  val defs: Seq[QueryDef] = Seq(

    // ---- dd113: code-vs-prose format classifier ---------------------------
    QueryDef(
      "dd113_code_prose",
      "Format classification for mixed corpora (the StarCoder/FineWeb split step): every 7th doc is deterministically code-ified (planted ground truth), then per-doc symbol density, brace count, and code-keyword hits — all single-pass codegen regexp, no text shuffle — classify code vs prose; per (source, class) counts with integer-exact symbol density (one division of two BIGINT sums, never an averaged double)",
      Some("""
        WITH mixed AS (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 7 = 0 THEN
                   'def fn_' || CAST(doc_id AS VARCHAR) || '(x) { return x + 1; } /* '
                     || substr(text, 1, 80) || ' */ var y = x; if (y > 0) { y = y * 2; }'
                 ELSE text END AS body
          FROM documents
        ),
        sig AS (
          SELECT doc_id, source,
                 CAST(length(body) AS BIGINT) AS n_chars,
                 CAST(length(regexp_replace(body, '[^{}();=<>+*/]', '', 'g')) AS BIGINT) AS n_sym,
                 CAST(len(regexp_extract_all(body,
                   '\b(def|return|var|if|function|class|import)\b')) AS BIGINT) AS kw
          FROM mixed
        ),
        cls AS (
          SELECT source,
                 CASE WHEN n_sym * 50 >= n_chars AND kw >= 2 THEN 'code'
                      ELSE 'prose' END AS class,
                 n_sym, n_chars, kw
          FROM sig
        )
        SELECT source, class,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(CAST(SUM(n_sym) AS DOUBLE) / SUM(n_chars), 9) AS sym_density,
               CAST(SUM(kw) AS BIGINT) AS kw_hits
        FROM cls GROUP BY source, class
      """)) { (s, dir) =>
      // Signals are the published code-detector heuristics (symbol density
      // + keyword hits); the threshold n_sym/n_chars >= 0.02 is compared
      // in cross-multiplied integer form (n_sym*50 >= n_chars) so the
      // class boundary is bit-identical across engines — a double ratio
      // at exactly 0.02 could fall either way. Every signal is one
      // codegen'd regexp over the row; the only exchange is the final
      // (source, class) groupBy — bounded vocabulary, map-side combined.
      val mixed = t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0,
          concat(lit("def fn_"), col("doc_id").cast("string"),
            lit("(x) { return x + 1; } /* "), substring(col("text"), 1, 80),
            lit(" */ var y = x; if (y > 0) { y = y * 2; }")))
          .otherwise(col("text")).as("body"))
      val sig = mixed.select(col("doc_id"), col("source"),
        length(col("body")).cast("long").as("n_chars"),
        length(regexp_replace(col("body"), "[^{}();=<>+*/]", "")).cast("long").as("n_sym"),
        regexp_count(col("body"),
          lit("\\b(def|return|var|if|function|class|import)\\b")).cast("long").as("kw"))
      sig.select(col("source"),
        when(col("n_sym") * 50 >= col("n_chars") && col("kw") >= 2, "code")
          .otherwise("prose").as("class"),
        col("n_sym"), col("n_chars"), col("kw"))
        .groupBy(col("source"), col("class"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("n_sym")).cast("double") / sum(col("n_chars")), 9).as("sym_density"),
          sum(col("kw")).as("kw_hits"))
    },

    // ---- dd114: preference-label transitivity audit ------------------------
    QueryDef(
      "dd114_pref_transitivity",
      "Reward-model preference QA: per-rater head-to-head duels (k-th vs k-th event value per item pair — pairwise evidence, NOT a scalar score, so Condorcet cycles are possible and present), majority-wins strict preferences, and the count of CYCLIC triads (a>b>c>a) that make a preference set unfit for Bradley-Terry fitting; per-rater consistency = 1 - violations/triads as one integer division. Items are a bounded vocabulary, so all pair/triad joins are per-rater arithmetic — the corpus-sized exchanges are one window pass and one (rater, round) equi-join",
      Some("""
        WITH vals AS (
          SELECT user_id, event_type AS item, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS k
          FROM events
        ),
        duels AS (
          SELECT a.user_id, a.item AS i, b.item AS j,
                 SUM(CASE WHEN a.value > b.value THEN 1 ELSE 0 END) AS w,
                 SUM(CASE WHEN a.value < b.value THEN 1 ELSE 0 END) AS l
          FROM vals a JOIN vals b
            ON a.user_id = b.user_id AND a.k = b.k AND a.item < b.item
          GROUP BY 1, 2, 3
        ),
        prefs AS (SELECT user_id, i, j, (w > l) AS gt FROM duels WHERE w <> l),
        triads AS (
          SELECT ab.user_id,
                 CASE WHEN ab.gt = bc.gt AND ac.gt <> ab.gt THEN 1 ELSE 0 END AS cyc
          FROM prefs ab
          JOIN prefs bc ON bc.user_id = ab.user_id AND bc.i = ab.j
          JOIN prefs ac ON ac.user_id = ab.user_id AND ac.i = ab.i AND ac.j = bc.j
        ),
        items AS (SELECT user_id, COUNT(DISTINCT item) AS n_items FROM vals GROUP BY user_id),
        pagg AS (SELECT user_id, COUNT(*) AS n_prefs FROM prefs GROUP BY user_id),
        tagg AS (SELECT user_id, COUNT(*) AS n_triads, SUM(cyc) AS n_cyclic
                 FROM triads GROUP BY user_id)
        SELECT i.user_id,
               CAST(i.n_items AS BIGINT) AS n_items,
               CAST(COALESCE(p.n_prefs, 0) AS BIGINT) AS n_prefs,
               CAST(COALESCE(t.n_triads, 0) AS BIGINT) AS n_triads,
               CAST(COALESCE(t.n_cyclic, 0) AS BIGINT) AS n_cyclic,
               CASE WHEN COALESCE(t.n_triads, 0) = 0 THEN NULL
                    ELSE round(1.0 - CAST(t.n_cyclic AS DOUBLE) / t.n_triads, 9)
               END AS consistency
        FROM items i
        LEFT JOIN pagg p USING (user_id)
        LEFT JOIN tagg t USING (user_id)
      """)) { (s, dir) =>
      // A preference is evidence-pairwise (majority of head-to-head value
      // duels between the k-th events of each item), NOT a per-item scalar
      // — a scalar score induces a total order and can NEVER cycle, which
      // would make this audit vacuous. A triad is counted only when ALL
      // THREE of its pairs are strict (duel ties drop the pair, hence the
      // triad), so the cyclic test is well-defined: ab and bc agree in
      // direction but ac contradicts. Duel counts are integer sums of
      // per-row double comparisons — no fold-order hazard anywhere.
      val w0 = Window.partitionBy("user_id", "item").orderBy("ts", "event_id")
      val vals = t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("item"), col("value"),
          col("ts"), col("event_id"))
        .withColumn("k", row_number().over(w0))
      val duels = vals.as("a").join(vals.as("b"),
          col("a.user_id") === col("b.user_id") && col("a.k") === col("b.k") &&
            col("a.item") < col("b.item"))
        .groupBy(col("a.user_id").as("user_id"), col("a.item").as("i"),
          col("b.item").as("j"))
        .agg(sum(when(col("a.value") > col("b.value"), 1L).otherwise(0L)).as("w"),
          sum(when(col("a.value") < col("b.value"), 1L).otherwise(0L)).as("l"))
      // prefs is TINY (raters × ≤10 item pairs) but its lineage is the
      // events-sized duel self-join — cached, or the triad's three-way
      // self-join re-runs that upstream five times. The 10× canary caught
      // exactly this: 22.3× un-cached (the base-scale broadcast flips to
      // repeated sort-merge joins), linear after. At any scale prefs is
      // bounded by raters × item-pairs, so the cache is always small.
      val prefs = duels.filter(col("w") =!= col("l"))
        .select(col("user_id"), col("i"), col("j"), (col("w") > col("l")).as("gt"))
        .cache()
      val triads = prefs.as("ab")
        .join(prefs.as("bc"),
          col("bc.user_id") === col("ab.user_id") && col("bc.i") === col("ab.j"))
        .join(prefs.as("ac"),
          col("ac.user_id") === col("ab.user_id") &&
            col("ac.i") === col("ab.i") && col("ac.j") === col("bc.j"))
        .select(col("ab.user_id").as("user_id"),
          when(col("ab.gt") === col("bc.gt") && col("ac.gt") =!= col("ab.gt"), 1L)
            .otherwise(0L).as("cyc"))
      val triadAgg = triads.groupBy("user_id")
        .agg(count(lit(1)).as("n_triads"), sum(col("cyc")).as("n_cyclic"))
      val prefAgg = prefs.groupBy("user_id").agg(count(lit(1)).as("n_prefs"))
      vals.groupBy("user_id").agg(countDistinct(col("item")).as("n_items"))
        .join(prefAgg, Seq("user_id"), "left")
        .join(triadAgg, Seq("user_id"), "left")
        .select(col("user_id"),
          col("n_items"),
          coalesce(col("n_prefs"), lit(0L)).as("n_prefs"),
          coalesce(col("n_triads"), lit(0L)).as("n_triads"),
          coalesce(col("n_cyclic"), lit(0L)).as("n_cyclic"),
          when(coalesce(col("n_triads"), lit(0L)) === 0, lit(null).cast("double"))
            .otherwise(round(lit(1.0) -
              col("n_cyclic").cast("double") / col("n_triads"), 9))
            .as("consistency"))
    },

    // ---- dd115: instruction-data conversation lint --------------------------
    QueryDef(
      "dd115_chat_lint",
      "Instruction-data structure lint: events per user become an ordered conversation (deterministic role map), then the chat-template rules — system only at turn 1, no same-role repeats, must open with system/user, must close with assistant — are checked with ONE conversation-keyed window pass; the flattened transcript is fingerprinted (md5 over the order-pinned role sequence) so a re-serialization bug anywhere upstream breaks the hash",
      Some("""
        WITH conv AS (
          SELECT user_id, ts, event_id,
                 CASE event_type WHEN 'signup' THEN 'system'
                                 WHEN 'click' THEN 'user'
                                 WHEN 'view' THEN 'user'
                                 ELSE 'assistant' END AS role,
                 row_number() OVER w AS pos,
                 lag(CASE event_type WHEN 'signup' THEN 'system'
                                     WHEN 'click' THEN 'user'
                                     WHEN 'view' THEN 'user'
                                     ELSE 'assistant' END) OVER w AS prev_role
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(count(*) FILTER (WHERE role = 'system' AND pos > 1) AS BIGINT)
                 AS n_misplaced_system,
               CAST(count(*) FILTER (WHERE role = prev_role) AS BIGINT)
                 AS n_repeat_breaks,
               (MIN(CASE WHEN pos = 1 THEN role END) IN ('system', 'user')) AS starts_ok,
               (MAX(CASE WHEN pos = n THEN role END) = 'assistant') AS ends_ok,
               (count(*) FILTER (WHERE role = 'system' AND pos > 1) = 0
                AND count(*) FILTER (WHERE role = prev_role) = 0
                AND MIN(CASE WHEN pos = 1 THEN role END) IN ('system', 'user')
                AND MAX(CASE WHEN pos = n THEN role END) = 'assistant') AS valid,
               md5(string_agg(role, '|' ORDER BY ts, event_id)) AS transcript_md5
        FROM (SELECT *, count(*) OVER (PARTITION BY user_id) AS n FROM conv) c
        GROUP BY user_id
      """)) { (s, dir) =>
      // One window pass per conversation key computes position, previous
      // role, and conversation length; the fingerprint pins element order
      // via sort_array over (ts, event_id, role) structs — collect_list
      // alone is partition-order nondeterministic, which is exactly the
      // bug class this op exists to catch in serialized training data.
      val role = when(col("event_type") === "signup", "system")
        .when(col("event_type").isin("click", "view"), "user")
        .otherwise("assistant")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val conv = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), role.as("role"))
        .withColumn("pos", row_number().over(w))
        .withColumn("prev_role", lag(col("role"), 1).over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
      conv.groupBy("user_id").agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("role") === "system" && col("pos") > 1, 1L).otherwise(0L))
          .as("n_misplaced_system"),
        sum(when(col("role") === col("prev_role"), 1L).otherwise(0L))
          .as("n_repeat_breaks"),
        min(when(col("pos") === 1, col("role"))).isin("system", "user").as("starts_ok"),
        (max(when(col("pos") === col("n"), col("role"))) === "assistant").as("ends_ok"),
        (sum(when(col("role") === "system" && col("pos") > 1, 1L).otherwise(0L)) === 0 &&
          sum(when(col("role") === col("prev_role"), 1L).otherwise(0L)) === 0 &&
          min(when(col("pos") === 1, col("role"))).isin("system", "user") &&
          max(when(col("pos") === col("n"), col("role"))) === "assistant").as("valid"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"), col("role")))),
          x => x.getField("role")), "|")).as("transcript_md5"))
    },

    // ---- dd116: incremental near-dup admission vs a standing LSH index -----
    QueryDef(
      "dd116_incremental_lsh",
      "Incremental NEAR-dup admission (dd24's exact-hash delta check upgraded to MinHash-LSH): the standing corpus's banded signatures form the index, the delta batch probes it with a band-key equi-join, band-colliding candidates verify by exact shingle Jaccard, and each delta doc is labeled near_dup (best verified match, jacc-then-min-id tiebreak) or new. The standing corpus is never pairwise-compared and its shingles are touched only for candidate verification — at 100 TB the index is a stored, band-bucketed table and admission cost scales with the DELTA, not the corpus",
      Some("""
        WITH standing AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 10 != 7
        ),
        delta AS (
          SELECT doc_id FROM documents WHERE doc_id % 10 = 7
          UNION ALL
          SELECT doc_id + 10000 FROM documents WHERE doc_id % 5 = 0 AND doc_id % 10 != 7
        ),
        allc AS (
          SELECT doc_id, text FROM standing
          UNION ALL
          SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7
          UNION ALL
          SELECT doc_id + 10000 AS doc_id,
                 regexp_replace(text, '^(\w+ ){3}', '') AS text
          FROM documents WHERE doc_id % 5 = 0 AND doc_id % 10 != 7
        ),
        tok AS (
          SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM allc)
        ),
        sh0 AS (
          SELECT doc_id,
                 w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS sh
          FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ),
        sh AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh IS NOT NULL),
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
          SELECT DISTINCT d.doc_id AS d_id, s.doc_id AS s_id
          FROM bands d
          JOIN delta dd ON dd.doc_id = d.doc_id
          JOIN bands s ON s.band_idx = d.band_idx AND s.bkey = d.bkey
          JOIN standing st ON st.doc_id = s.doc_id
        ),
        n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        com AS (
          SELECT c.d_id, c.s_id, COUNT(*) AS common
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.d_id
          JOIN sh sb ON sb.doc_id = c.s_id AND sb.sh = sa.sh
          GROUP BY c.d_id, c.s_id
        ),
        verified AS (
          SELECT m.d_id, m.s_id,
                 CAST(m.common AS DOUBLE) / (nd.n + ns.n - m.common) AS jacc
          FROM com m
          JOIN n nd ON nd.doc_id = m.d_id
          JOIN n ns ON ns.doc_id = m.s_id
          WHERE CAST(m.common AS DOUBLE) / (nd.n + ns.n - m.common) >= 0.4
        ),
        best AS (
          SELECT d_id, s_id, jacc,
                 row_number() OVER (PARTITION BY d_id ORDER BY jacc DESC, s_id ASC) AS rk
          FROM verified
        )
        SELECT dd.doc_id,
               CASE WHEN b.s_id IS NULL THEN 'new' ELSE 'near_dup' END AS status,
               b.s_id AS match_id, b.jacc
        FROM delta dd
        LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.d_id = dd.doc_id
      """)) { (s, dir) =>
      // Index side and probe side share dd2's signature discipline: the
      // native one-pass MinHashSig (value-identical to the oracle's md5
      // formulation) over DISTINCT word-3-gram shingles, banded 4×2. The
      // probe is bands(delta) ⋈ bands(standing) on (band_idx, bkey) — at
      // scale the standing bands are a STORED table bucketed by bkey, so
      // this join co-locates without reshuffling the corpus; verification
      // joins shingles only for docs that band-collided.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val standingIds = docs.filter(col("doc_id") % 10 =!= 7).select(col("doc_id"))
      val deltaDocs = docs.filter(col("doc_id") % 10 === 7)
        .unionByName(docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 7)
          .select((col("doc_id") + 10000).as("doc_id"),
            regexp_replace(col("text"), "^(\\w+ ){3}", "").as("text")))
      val both = docs.filter(col("doc_id") % 10 =!= 7)
        .unionByName(deltaDocs)
      // docsArr feeds FOUR consumers (two band sides, the verify shingles,
      // the size table) and bands feeds two — cached, or each consumer
      // re-runs the shingle transform + 8-way minhash from the scan
      // (dd2's discipline; the 10× canary measured 29.1× without it).
      // Both stay bounded: docsArr ≈ corpus tokens, bands = docs × 4.
      // Banding + verification live in resolve/LshBands, shared with the
      // streaming admission maintainer so the two surfaces cannot drift.
      // fanned out before the shingle build (size-gated no-op at scale):
      // the cache otherwise pins the union's 3 scan partitions, and every
      // consumer of the cached relation inherits one hot task (profiled
      // six 3-task stages at max 0.7-1.5 s vs median 0.05-0.27 s)
      val docsArr = Text.shingleArr(
        graft.core.Fanout.bySize(s, both, dir, "documents")).cache()
      val sh = Text.shingles(docsArr)
      val bands = graft.resolve.LshBands.bandsOf(docsArr).cache()
      val deltaBands = bands.join(deltaDocs.select(col("doc_id")), Seq("doc_id"))
      val standingBands = bands.join(standingIds, Seq("doc_id"))
      val cand = deltaBands.as("d").join(standingBands.as("s"),
          col("d.band_idx") === col("s.band_idx") && col("d.bkey") === col("s.bkey"))
        .select(col("d.doc_id").as("d_id"), col("s.doc_id").as("s_id"))
        .distinct()
      val n = docsArr.select(col("doc_id"), size(col("shArr")).cast("long").as("n"))
      val verified = graft.resolve.LshBands.verify(cand, sh, sh, n, n, 0.4)
      val best = verified.withColumn("rk",
        row_number().over(Window.partitionBy("d_id")
          .orderBy(col("jacc").desc, col("s_id").asc)))
        .filter(col("rk") === 1)
      deltaDocs.select(col("doc_id"))
        .join(best.select(col("d_id").as("doc_id"), col("s_id").as("match_id"),
          col("jacc")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("match_id").isNull, "new").otherwise("near_dup").as("status"),
          col("match_id"), col("jacc"))
    }
  )
}
