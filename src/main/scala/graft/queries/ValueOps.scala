package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** Data-valuation and selection operators: the four curation moves that
  * decide WHICH rows a training corpus keeps, beyond near-dup removal —
  * local fingerprinting for partial-overlap detection (winnowing), a
  * preference-pair rating fit (Bradley–Terry, the reward-model data-prep
  * staple), prototypicality pruning (keep the hard examples per class),
  * and lexical-cohesion segmentation (TextTiling boundaries for RAG
  * chunking).
  *
  * House float discipline throughout: every cross-row sum freezes to
  * DECIMAL(38,12) on round(9–12) terms so aggregation order can never
  * flip a bit; ranks order by the EXACT decimal (never the cast double);
  * output doubles round(6).
  */
object ValueOps {

  /** 32-bit shingle hash shared by winnowing: first 8 md5 hex chars. */
  private def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Winnowing fingerprints (Schleimer, Wilkes, Aiken SIGMOD'03 §3):
    * k-shingle rolling hashes, one MIN per sliding window of `w` hashes
    * (only full windows — boundary stubs would over-select tail hashes),
    * distinct per doc. Guarantee: any shared run of >= w+k-1 tokens
    * yields >= 1 shared fingerprint; expected density ~= 2/(w+1), so the
    * posting table is a ~40% sample of the shingle table, selected
    * consistently across docs — which is what makes the pair join cheap.
    *
    * @param docs (doc_id, text); k shingle width; w window in hashes.
    */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val sh = Text.tokenArrays(docs, Seq(col("doc_id")), k)
      .select(col("doc_id"),
        posexplode(graft.functions.NativeExpressions.ngrams_native(col("arr"), k))
          .as(Seq("pos", "sh")))
    val win = Window.partitionBy("doc_id").orderBy("pos")
    sh.select(col("doc_id"), col("pos"), h32(col("sh")).as("h"))
      .select(col("doc_id"),
        min(col("h")).over(win.rowsBetween(0, w - 1)).as("fp"),
        lead(col("h"), w - 1).over(win).as("full_win"))
      .filter(col("full_win").isNotNull)
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Bradley–Terry minorization-maximization iterations (Hunter, Annals
    * of Statistics 2004 eq. 1.4) over a DIRECTED comparison aggregate:
    * `agg` = (i, j, n games, w wins-by-i) with both directions present.
    * p'_i = W_i / Σ_j n_ij/(p_i+p_j), normalized to Σp = 1 per round.
    * Every Σ freezes to DECIMAL on round(12) terms — the fit is bit-stable
    * under any aggregation order, which is what lets a distributed engine
    * and a single-node oracle agree exactly.
    *
    * @return (i, p) after `iters` rounds from the uniform start.
    *
    * Callers should pass `agg` with TRUNCATED lineage (localCheckpoint):
    * each round references the previous ratings twice, so an un-truncated
    * loop builds a 2^iters-copy logical plan — measured 34 MB task
    * binaries on the 5-round fit over the raw corpus lineage. Ratings are
    * checkpointed per round for the same reason (S rows — free).
    */
  def btFit(agg: DataFrame, iters: Int): DataFrame = {
    val wins = agg.groupBy("i")
      .agg(sum(col("w")).as("wi"), sum(col("n")).as("gi"))
    var p = wins.select(col("i"), lit(1.0).as("p"))
    for (_ <- 1 to iters) {
      val pi = p.select(col("i").as("ii"), col("p").as("pi"))
      val pj = p.select(col("i").as("jj"), col("p").as("pj"))
      val u = agg
        .join(pi, col("i") === col("ii"))
        .join(pj, col("j") === col("jj"))
        .join(wins.select(col("i").as("wii"), col("wi")), col("i") === col("wii"))
        .groupBy(col("i"), col("wi"))
        .agg(sum(round(col("n") / (col("pi") + col("pj")), 12)
          .cast("decimal(38,12)")).as("den"))
        .select(col("i"), (col("wi") / col("den").cast("double")).as("p"))
      val sTot = u.agg(
        sum(round(col("p"), 12).cast("decimal(38,12)")).cast("double").as("s"))
      p = u.crossJoin(broadcast(sTot))
        .select(col("i"), round(col("p") / col("s"), 12).as("p"))
        .localCheckpoint()
    }
    p
  }

  /** DuckDB oracle for dd105: the same MM chain, unrolled. CTEs are
    * MATERIALIZED — each iteration references its predecessor twice, and
    * inlining (DuckDB 1.0's default) re-expands the whole upstream chain
    * per reference: 2^iters copies of the corpus scan (measured: the
    * un-hinted 5-iteration chain did not finish in 2 minutes; hinted it
    * runs in 60 ms). */
  private[queries] def btOracle(iters: Int): String = {
    val head = """
        WITH d AS MATERIALIZED (SELECT doc_id, source, n_chars FROM documents),
        pr AS MATERIALIZED (
          SELECT a.source AS sa, b.source AS sb, a.n_chars AS ca, b.n_chars AS cb
          FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
          WHERE a.source <> b.source AND a.n_chars <> b.n_chars
        ),
        dir AS MATERIALIZED (
          SELECT sa AS i, sb AS j, CASE WHEN ca > cb THEN 1 ELSE 0 END AS win FROM pr
          UNION ALL
          SELECT sb AS i, sa AS j, CASE WHEN cb > ca THEN 1 ELSE 0 END AS win FROM pr
        ),
        agg AS MATERIALIZED (
          SELECT i, j, CAST(count(*) AS BIGINT) AS n, CAST(sum(win) AS BIGINT) AS w
          FROM dir GROUP BY 1, 2),
        wins AS MATERIALIZED (
          SELECT i, CAST(sum(w) AS BIGINT) AS wi, CAST(sum(n) AS BIGINT) AS gi
          FROM agg GROUP BY 1),
        it0 AS MATERIALIZED (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM wins)"""
    val its = (1 to iters).map { kk =>
      s""",
        u$kk AS MATERIALIZED (
          SELECT a.i,
                 w.wi / CAST(sum(CAST(round(a.n / (pi.p + pj.p), 12) AS DECIMAL(38,12))) AS DOUBLE) AS p
          FROM agg a
          JOIN it${kk - 1} pi ON a.i = pi.i
          JOIN it${kk - 1} pj ON a.j = pj.i
          JOIN wins w ON a.i = w.i
          GROUP BY a.i, w.wi
        ),
        s$kk AS MATERIALIZED (
          SELECT CAST(sum(CAST(round(p, 12) AS DECIMAL(38,12))) AS DOUBLE) AS s FROM u$kk),
        it$kk AS MATERIALIZED (SELECT i, round(p / s, 12) AS p FROM u$kk, s$kk)"""
    }.mkString
    head + its + s"""
        SELECT w.i AS source, round(t.p, 6) AS rating, w.wi AS wins, w.gi AS games
        FROM it$iters t JOIN wins w ON t.i = w.i"""
  }

  /** Per-label centroid distance + keep-the-hardest selection (Sorscher
    * et al. NeurIPS'22 "Beyond neural scaling laws": with abundant data,
    * prune the PROTOTYPICAL examples and keep the hard ones). Rank is by
    * the exact decimal distance (ties by id); keep ceil(keepNum/keepDen)
    * of each label in integer arithmetic.
    *
    * @param emb (vec_id, label, embedding: array<float>)
    */
  def prototypePrune(emb: DataFrame, keepNum: Int, keepDen: Int): DataFrame = {
    val dims = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("xf").cast("double").as("x"))
    val cent = dims.groupBy("label", "dim")
      .agg((sum(round(col("x"), 9).cast("decimal(38,12)")).cast("double") /
        count(lit(1))).as("c"))
    val d2 = dims.join(cent, Seq("label", "dim"))
      .select(col("vec_id"), col("label"),
        round((col("x") - col("c")) * (col("x") - col("c")), 9)
          .cast("decimal(38,12)").as("term"))
      .groupBy("vec_id", "label")
      .agg(sum(col("term")).as("d2dec"))
    val cnt = emb.groupBy("label").agg(count(lit(1)).as("n"))
    val rk = Window.partitionBy("label").orderBy(col("d2dec").desc, col("vec_id"))
    d2.withColumn("rk", row_number().over(rk))
      .join(cnt, Seq("label"))
      .filter(col("rk") <= expr(s"($keepNum * n + ${keepDen - 1}) div $keepDen"))
      .select(col("vec_id"), col("label"),
        round(col("d2dec").cast("double"), 6).as("dist"),
        col("rk").cast("long").as("rank"))
  }

  /** TextTiling gap scores (Hearst, CL 1997, vocabulary-overlap
    * simplification): block = `blockSize` consecutive tokens, gap score =
    * Jaccard of adjacent blocks' distinct vocab, boundary = strict local
    * minimum below mean − σ/2 (per doc). The gap spine is generated from
    * the block range so a zero-overlap gap still emits a row (an inner
    * join on shared words would silently drop exactly the strongest
    * boundaries). */
  def textTileGaps(docs: DataFrame, blockSize: Int): DataFrame = {
    val bv = docs
      .select(col("doc_id"), posexplode(Text.tokens).as(Seq("pos", "w")))
      .select(col("doc_id"), expr(s"pos div $blockSize").as("blk"), col("w"))
      .distinct()
    val bn = bv.groupBy("doc_id", "blk").agg(count(lit(1)).as("nb"))
    val spine = bn.groupBy("doc_id").agg(max(col("blk")).as("mb"))
      .filter(col("mb") >= 1)
      .select(col("doc_id"), explode(expr("sequence(0, mb - 1)")).as("gap"))
    val com = bv.as("a")
      .join(bv.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.blk") === col("a.blk") + 1 && col("a.w") === col("b.w"))
      .select(col("a.doc_id").as("doc_id"), col("a.blk").as("gap"))
      .groupBy("doc_id", "gap").agg(count(lit(1)).as("c"))
    val na = bn.select(col("doc_id").as("dl"), col("blk").as("bl"), col("nb").as("na"))
    val nbr = bn.select(col("doc_id").as("dr"), col("blk").as("br"), col("nb").as("nbr"))
    val sims = spine
      .join(na, col("doc_id") === col("dl") && col("bl") === col("gap"))
      .join(nbr, col("doc_id") === col("dr") && col("br") === col("gap") + 1)
      .join(com, Seq("doc_id", "gap"), "left")
      .select(col("doc_id"), col("gap"),
        (coalesce(col("c"), lit(0L)) /
          (col("na") + col("nbr") - coalesce(col("c"), lit(0L))).cast("double"))
          .as("sim"))
    val stats = sims.groupBy("doc_id")
      .agg(
        (sum(round(col("sim"), 9).cast("decimal(38,12)")).cast("double") /
          count(lit(1))).as("mu"),
        (sum(round(col("sim") * col("sim"), 9).cast("decimal(38,12)")).cast("double") /
          count(lit(1))).as("m2"))
    val wg = Window.partitionBy("doc_id").orderBy("gap")
    sims
      .select(col("doc_id"), col("gap"), col("sim"),
        lag(col("sim"), 1).over(wg).as("prev"),
        lead(col("sim"), 1).over(wg).as("nxt"))
      .join(stats, Seq("doc_id"))
      .select(col("doc_id"), col("gap").cast("long").as("gap"),
        round(col("sim"), 6).as("sim"),
        when(
          coalesce(col("sim") < col("prev"), lit(true)) &&
            coalesce(col("sim") < col("nxt"), lit(true)) &&
            col("sim") < col("mu") -
              lit(0.5) * sqrt(greatest(col("m2") - col("mu") * col("mu"), lit(0.0))),
          lit(1)).otherwise(lit(0)).as("boundary"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- DD104: winnowing fingerprint share join ---------------------------
    QueryDef(
      "dd104_winnowing",
      "Winnowing local fingerprints (Schleimer/Wilkes/Aiken SIGMOD'03, the MOSS kernel): 3-shingle 32-bit rolling hashes, one MIN per 4-hash sliding window (full windows only), distinct fingerprints per doc, stop-fingerprints with df>20 dropped (the MOSS practice that bounds posting lists, so pair growth stays LINEAR in docs), then a fingerprint-share pair join keeping pairs with >=2 shared fingerprints. Guarantees any shared token run >=6 words surfaces >=1 shared fingerprint — partial-overlap detection that whole-doc hashing (dd8) and global MinHash (dd2) both miss",
      Some("""
        WITH tok AS (
          SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
                WHERE len(string_split(text, ' ')) >= 3)
        ),
        sh AS (
          SELECT doc_id, pos,
                 w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS s
          FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        ),
        h AS (
          SELECT doc_id, pos, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
          FROM sh WHERE s IS NOT NULL
        ),
        wm AS (
          SELECT doc_id,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                 lead(h, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS full_win
          FROM h
        ),
        fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE full_win IS NOT NULL),
        df AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1),
        kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN df USING (fp) WHERE df.df <= 20)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2
      """)) { (s, dir) =>
      // Scale shape: fingerprints are a ~2/(w+1) consistent sample of the
      // shingle table (one narrow window pass, no data crosses a shuffle
      // until the distinct), the df cap bounds every posting list at a
      // CONSTANT, so the pair join is candidate-bounded exactly like
      // dd2's LSH bands — never all-pairs.
      val fps = winnowFingerprints(
        t(s, dir, "documents").select(col("doc_id"), col("text")), k = 3, w = 4)
      val kept = fps.join(
        fps.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 20).select("fp"),
        Seq("fp"))
      kept.as("a")
        .join(kept.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
    },

    // ---- DD105: Bradley–Terry preference-rating fit ------------------------
    QueryDef(
      "dd105_bradley_terry",
      "Bradley–Terry rating fit over pairwise preferences (Hunter's MM algorithm, 5 rounds) — the reward-model data-prep op: consecutive-doc pairs across sources are the comparisons (longer doc wins, ties skipped), ONE corpus pass collapses them to the S^2 directed (i,j,games,wins) aggregate, and every MM round is arithmetic on S-row relations (p'_i = W_i / sum_j n_ij/(p_i+p_j), normalized). DECIMAL-frozen round(12) sums make 5 rounds bit-identical across engines; at 100TB only the one pairing pass sees data",
      Some(btOracle(5))) { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
      // comparisons: doc k vs doc k+1 (a 1-shift equi-join, NOT a pair
      // blowup); same-source and tied comparisons drop (BT models strict
      // wins)
      val pr = d.as("a")
        .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .filter(col("a.source") =!= col("b.source") &&
          col("a.n_chars") =!= col("b.n_chars"))
        .select(col("a.source").as("sa"), col("b.source").as("sb"),
          col("a.n_chars").as("ca"), col("b.n_chars").as("cb"))
      val dirDf = pr.select(col("sa").as("i"), col("sb").as("j"),
          when(col("ca") > col("cb"), 1L).otherwise(0L).as("win"))
        .unionByName(pr.select(col("sb").as("i"), col("sa").as("j"),
          when(col("cb") > col("ca"), 1L).otherwise(0L).as("win")))
      // localCheckpoint, not cache: truncates the corpus lineage so the
      // 5-round MM loop plans over an S^2-row leaf, not 2^5 copies of the
      // pairing scan (see btFit scaladoc)
      val agg = dirDf.groupBy("i", "j")
        .agg(count(lit(1)).as("n"), sum(col("win")).as("w")).localCheckpoint()
      val wins = agg.groupBy("i").agg(sum(col("w")).as("wi"), sum(col("n")).as("gi"))
      btFit(agg, 5)
        .join(wins, Seq("i"))
        .select(col("i").as("source"), round(col("p"), 6).as("rating"),
          col("wi").as("wins"), col("gi").as("games"))
    },

    // ---- DD106: prototypicality pruning ------------------------------------
    QueryDef(
      "dd106_prototype_prune",
      "Prototype-based data pruning (Sorscher et al. NeurIPS'22): per-label centroid over the embedding set, squared distance per point (DECIMAL-frozen per-dim terms), keep the HARDEST ceil(30%) per label ranked by exact decimal distance — with abundant data, pruning easy prototypical points beats random and beats keeping them. Centroids are label x dim rows (a broadcast relation at any corpus size); distances are one narrow join, never a pairwise op",
      Some("""
        WITH dims AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings
        ),
        cent AS (
          SELECT label, dim,
                 CAST(sum(CAST(round(x, 9) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS c
          FROM dims GROUP BY 1, 2
        ),
        d2 AS (
          SELECT d.vec_id, d.label,
                 sum(CAST(round((d.x - c.c) * (d.x - c.c), 9) AS DECIMAL(38,12))) AS d2dec
          FROM dims d JOIN cent c ON d.label = c.label AND d.dim = c.dim
          GROUP BY 1, 2
        ),
        cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        ranked AS (
          SELECT vec_id, label, d2dec,
                 ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2dec DESC, vec_id) AS rk
          FROM d2
        )
        SELECT r.vec_id, r.label, round(CAST(r.d2dec AS DOUBLE), 6) AS dist,
               CAST(r.rk AS BIGINT) AS rank
        FROM ranked r JOIN cnt ON r.label = cnt.label
        WHERE r.rk <= (3 * cnt.n + 9) // 10
      """)) { (s, dir) =>
      // dim index is 1-based in the oracle (generate_subscripts) and
      // 0-based from posexplode — irrelevant: dims only key the
      // centroid join, both sides self-consistent
      prototypePrune(t(s, dir, "embeddings"), keepNum = 3, keepDen = 10)
    },

    // ---- IR18: TextTiling segmentation --------------------------------------
    QueryDef(
      "ir18_texttiling",
      "TextTiling lexical-cohesion segmentation (Hearst CL'97, vocabulary-overlap variant): 10-token blocks, per-gap Jaccard of adjacent blocks' distinct vocab (gap spine generated from the block range so zero-overlap gaps — the strongest boundaries — still emit), boundary = strict local minimum below mean - sigma/2 per doc. The RAG-chunking op: split where cohesion dips, not at fixed offsets. Two token-keyed shuffles; windows are per-doc and bounded",
      Some("""
        WITH tok AS (
          SELECT doc_id, generate_subscripts(arr, 1) - 1 AS pos, unnest(arr) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
        ),
        bv AS (SELECT DISTINCT doc_id, pos // 10 AS blk, w FROM tok),
        bn AS (SELECT doc_id, blk, count(*) AS nb FROM bv GROUP BY 1, 2),
        spine AS (
          SELECT doc_id, unnest(generate_series(0, max(blk) - 1)) AS gap
          FROM bn GROUP BY doc_id HAVING max(blk) >= 1
        ),
        com AS (
          SELECT a.doc_id, a.blk AS gap, count(*) AS c
          FROM bv a JOIN bv b ON a.doc_id = b.doc_id AND b.blk = a.blk + 1 AND a.w = b.w
          GROUP BY 1, 2
        ),
        sims AS (
          SELECT s.doc_id, s.gap,
                 COALESCE(c.c, 0) / CAST(na.nb + nb2.nb - COALESCE(c.c, 0) AS DOUBLE) AS sim
          FROM spine s
          JOIN bn na ON s.doc_id = na.doc_id AND na.blk = s.gap
          JOIN bn nb2 ON s.doc_id = nb2.doc_id AND nb2.blk = s.gap + 1
          LEFT JOIN com c ON s.doc_id = c.doc_id AND c.gap = s.gap
        ),
        stats AS (
          SELECT doc_id,
                 CAST(sum(CAST(round(sim, 9) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu,
                 CAST(sum(CAST(round(sim * sim, 9) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m2
          FROM sims GROUP BY 1
        ),
        nb3 AS (
          SELECT doc_id, gap, sim,
                 lag(sim) OVER w AS prev, lead(sim) OVER w AS nxt
          FROM sims WINDOW w AS (PARTITION BY doc_id ORDER BY gap)
        )
        SELECT n.doc_id, CAST(n.gap AS BIGINT) AS gap, round(n.sim, 6) AS sim,
               CAST(CASE WHEN COALESCE(n.sim < n.prev, TRUE) AND COALESCE(n.sim < n.nxt, TRUE)
                      AND n.sim < s.mu - 0.5 * sqrt(GREATEST(s.m2 - s.mu * s.mu, 0))
                    THEN 1 ELSE 0 END AS INTEGER) AS boundary
        FROM nb3 n JOIN stats s ON n.doc_id = s.doc_id
      """)) { (s, dir) =>
      textTileGaps(t(s, dir, "documents").select(col("doc_id"), col("text")), 10)
    }
  )
}
