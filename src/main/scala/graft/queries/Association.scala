package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** Corpus-association and graph-structure analytics: collocation mining
  * (PMI), triangle counting over a co-occurrence graph, and
  * distribution-drift monitoring between corpus segments — the
  * statistics a training-data curation loop runs after dedup/quality
  * filtering to understand WHAT survived.
  *
  * Scale notes per operator are inline; the common theme is that every
  * pairwise structure is either key-bounded (bigrams and degree tables
  * are vocabulary-/node-bounded, not corpus-bounded) or explicitly
  * oriented to avoid double enumeration (the triangle join).
  */
object Association {

  val defs: Seq[QueryDef] = Seq(

    // ---- DD41: bigram PMI collocations -----------------------------------
    QueryDef(
      "dd41_bigram_pmi",
      "Collocation mining: pointwise mutual information ln(c(a,b)*T / (c(a,·)*c(·,b))) over adjacent token pairs, min support 3, global top-20 by PMI — bigram extraction is a narrow array pass, the pair/marginal tables are vocabulary-bounded, the top-20 is distributed TakeOrdered",
      Some("""
        WITH tok AS (SELECT string_split(text,' ') AS arr FROM documents
                     WHERE len(string_split(text,' ')) >= 2),
        big AS (SELECT unnest(list_transform(generate_series(1, len(arr)-1),
                        i -> struct_pack(a := arr[i], b := arr[i+1]))) AS bg FROM tok),
        pairs AS (SELECT bg.a AS a, bg.b AS b, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY 1,2),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM pairs),
        ua AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM pairs GROUP BY a),
        ub AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM pairs GROUP BY b)
        SELECT p.a, p.b, p.c,
               round(ln((CAST(p.c AS DOUBLE) * tot.t) / (CAST(ua.ca AS DOUBLE) * ub.cb)), 9) AS pmi
        FROM pairs p JOIN ua USING(a) JOIN ub USING(b) CROSS JOIN tot
        WHERE p.c >= 3
        ORDER BY pmi DESC, p.a, p.b LIMIT 20
      """)) { (s, dir) =>
      val docs = Text.tokenArrays(t(s, dir, "documents"), Nil, 2)
      val bigrams = docs.select(explode(Text.bigrams(col("arr"), "a", "b")).as("bg"))
        .select(col("bg.a").as("a"), col("bg.b").as("b"))
      // cache: pairs feeds four consumers (filter, both marginals, total);
      // without it each one re-runs the corpus-wide bigram explode. The
      // table is vocabulary-bounded, so the cache is small at any corpus
      // size. Bench clears caches between queries.
      val pairs = bigrams.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .cache()
      // marginals derive from the PAIR table (vocabulary-bounded), never
      // from a corpus re-scan; both + the total ride broadcast joins
      val tot = pairs.agg(sum(col("c")).as("t"))
      val ua = pairs.groupBy(col("a")).agg(sum(col("c")).as("ca"))
      val ub = pairs.groupBy(col("b")).agg(sum(col("c")).as("cb"))
      pairs.filter(col("c") >= 3)
        .join(broadcast(ua), Seq("a")).join(broadcast(ub), Seq("b"))
        .crossJoin(broadcast(tot))
        .select(col("a"), col("b"), col("c"),
          round(log((col("c").cast("double") * col("t")) /
            (col("ca").cast("double") * col("cb"))), 9).as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b")).limit(20)
    },

    // ---- DD42: triangle counting, degree-oriented ------------------------
    QueryDef(
      "dd42_triangle_count",
      "Per-node triangle counts on the part co-occurrence graph (parts sharing an order, 10% part subset): edges oriented low-degree -> high-degree so each triangle is enumerated exactly once and the wedge join fans out from LOW-degree endpoints — the standard bound that keeps wedge count near |E|^1.5 instead of sum(deg^2) on skewed graphs",
      Some("""
        WITH pl AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 10 = 0
        ),
        e0 AS (
          SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
          FROM pl x JOIN pl y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        ),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
                FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY n),
        e AS (
          SELECT CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.u ELSE e0.v END AS a,
                 CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.v ELSE e0.u END AS b
          FROM e0 JOIN deg du ON e0.u = du.n JOIN deg dv ON e0.v = dv.n
        ),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT n AS part_key, CAST(count(*) AS BIGINT) AS n_tri
        FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        GROUP BY n
      """)) { (s, dir) =>
      val pl = t(s, dir, "lineitem").filter(col("l_partkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      // co-occurrence edges: an equi-join on the order key (groups are
      // order-sized, so the pair fan-out is bounded by lines-per-order)
      // cache the edge list: deg reads it twice and the triangle join
      // three more times — uncached, every reference re-runs the
      // co-occurrence self-join from the parquet scan (the executed plan
      // balloons to ~90 scans). |E| is the materialized unit a
      // distributed triangle count keeps resident anyway.
      val e0 = pl.as("x").join(pl.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("u"), col("y.l_partkey").as("v")).distinct()
        .cache()
      val deg = e0.select(col("u").as("n")).unionByName(e0.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      // deg is node-bounded (graph vertices, not edges or rows): broadcast
      val du = broadcast(deg.select(col("n").as("u"), col("d").as("du")))
      val dv = broadcast(deg.select(col("n").as("v"), col("d").as("dv")))
      val lowFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
      val e = e0.join(du, Seq("u")).join(dv, Seq("v"))
        .select(when(lowFirst, col("u")).otherwise(col("v")).as("a"),
          when(lowFirst, col("v")).otherwise(col("u")).as("b"))
        .cache()
      // wedge join pivots on b=a (the higher-degree end only feeds e2's
      // build side), closing join verifies the third edge
      val tri = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      tri.select(col("x").as("n"))
        .unionByName(tri.select(col("y").as("n")))
        .unionByName(tri.select(col("z").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))
        .select(col("n").as("part_key"), col("n_tri"))
    },

    // ---- DD43: segment drift (Jensen-Shannon divergence) -----------------
    QueryDef(
      "dd43_segment_drift",
      "Distribution drift per corpus segment: Jensen-Shannon divergence of each language's token-count-bucket distribution vs the global mixture — per-bucket JS terms round(12) into DECIMAL so the per-language sum is order-free; every relation after the one histogram groupBy is segment- or bucket-bounded and broadcasts",
      Some("""
        WITH d AS (SELECT lang, least(len(string_split(text,' ')) // 10, 9) AS bucket FROM documents),
        pl AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1,2),
        lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tl FROM pl GROUP BY 1),
        gl AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS cg FROM pl GROUP BY 1),
        gt AS (SELECT CAST(sum(c) AS BIGINT) AS tg FROM pl),
        grid AS (
          SELECT l.lang, g.bucket, COALESCE(p.c, 0) AS c, l.tl, g.cg, gt.tg
          FROM lt l CROSS JOIN gl g CROSS JOIN gt
          LEFT JOIN pl p ON p.lang = l.lang AND p.bucket = g.bucket
        ),
        terms AS (
          SELECT lang,
            CAST(round(
              0.5 * (CASE WHEN c > 0 THEN (CAST(c AS DOUBLE)/tl)
                     * log2((CAST(c AS DOUBLE)/tl) / ((CAST(c AS DOUBLE)/tl + CAST(cg AS DOUBLE)/tg)/2)) ELSE 0 END)
            + 0.5 * ((CAST(cg AS DOUBLE)/tg)
                     * log2((CAST(cg AS DOUBLE)/tg) / ((CAST(c AS DOUBLE)/tl + CAST(cg AS DOUBLE)/tg)/2)))
            , 12) AS DECIMAL(28,12)) AS jsterm
          FROM grid
        )
        SELECT lang, round(CAST(sum(jsterm) AS DOUBLE), 9) AS js_divergence
        FROM terms GROUP BY lang
      """)) { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("lang"), least(floor(size(Text.tokens) / 10), lit(9)).as("bucket"))
      // cache: the histogram feeds four consumers (both marginals, the
      // total, the grid join) and is segment x bucket-bounded — without it
      // each consumer re-scans the corpus
      val pl = d.groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("c"))
        .cache()
      val lt = pl.groupBy(col("lang")).agg(sum(col("c")).as("tl"))
      val gl = pl.groupBy(col("bucket")).agg(sum(col("c")).as("cg"))
      val gt = pl.agg(sum(col("c")).as("tg"))
      // the (segment x bucket) grid is tiny by construction — build it with
      // broadcasts so the only real shuffle in the query is pl's histogram
      val grid = broadcast(lt).crossJoin(broadcast(gl)).crossJoin(broadcast(gt))
        .join(pl, Seq("lang", "bucket"), "left")
        .select(col("lang"), col("tl"), col("cg"), col("tg"),
          coalesce(col("c"), lit(0L)).as("c"))
      val p = col("c").cast("double") / col("tl")
      val q = col("cg").cast("double") / col("tg")
      val m = (p + q) / 2
      val jsterm = round(
        lit(0.5) * when(col("c") > 0, p * log2(p / m)).otherwise(0.0) +
          lit(0.5) * (q * log2(q / m)), 12).cast("decimal(28,12)")
      grid.select(col("lang"), jsterm.as("jsterm"))
        .groupBy(col("lang"))
        .agg(round(sum(col("jsterm")).cast("double"), 9).as("js_divergence"))
    },

    // ---- DD52: common-neighbor link prediction ----------------------------
    QueryDef(
      "dd52_link_jaccard",
      "Link prediction on the part co-occurrence graph: for 2-hop (non-adjacent) pairs, neighborhood Jaccard |N(u) n N(v)| / |N(u) u N(v)| from wedge counting — the exact-common-neighbor lower bound is sum(deg(c)^2) wedge enumeration, kept to ONE adjacency self-join with node-bounded degree relations broadcast; existing edges leave via a broadcast anti-join",
      Some("""
        WITH pl AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 10 = 0
        ),
        e0 AS (
          SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
          FROM pl x JOIN pl y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        ),
        nb AS (SELECT u AS c, v AS x FROM e0 UNION ALL SELECT v AS c, u AS x FROM e0),
        deg AS (SELECT c AS node, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY 1),
        wedge AS (
          SELECT n1.x AS a, n2.x AS b, CAST(count(*) AS BIGINT) AS common
          FROM nb n1 JOIN nb n2 ON n1.c = n2.c AND n1.x < n2.x
          GROUP BY 1, 2
        ),
        cand AS (
          SELECT w.a, w.b, w.common FROM wedge w
          LEFT JOIN e0 ON w.a = e0.u AND w.b = e0.v
          WHERE e0.u IS NULL
        )
        SELECT cand.a AS u, cand.b AS v, cand.common,
               da.d AS deg_u, db.d AS deg_v,
               round(CAST(cand.common AS DOUBLE) / (da.d + db.d - cand.common), 6)
                 AS jaccard
        FROM cand JOIN deg da ON cand.a = da.node JOIN deg db ON cand.b = db.node
        ORDER BY jaccard DESC, u, v LIMIT 20
      """)) { (s, dir) =>
      // Same graph build as dd42 (cached edge list, node-bounded degree
      // broadcast). Exact common-neighbor counting MUST touch every wedge
      // — sum(deg(c)^2) — so the design keeps that one join the only
      // super-linear step: the wedge pairs flow straight into a
      // map-side-combined count keyed by (a,b), candidates drop adjacent
      // pairs via broadcast anti-join, and the Jaccard arithmetic is
      // integer-exact until the final rounded division. At 100 TB-scale
      // graphs the wedge join is where you'd salt hub centers; the shape
      // (adjacency self-join on the center key) is already the salted
      // form's carrier.
      val pl = t(s, dir, "lineitem").filter(col("l_partkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val e0 = pl.as("x").join(pl.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("u"), col("y.l_partkey").as("v")).distinct()
        .cache()
      val nb = e0.select(col("u").as("c"), col("v").as("x"))
        .unionByName(e0.select(col("v").as("c"), col("u").as("x")))
      val deg = nb.groupBy(col("c").as("node")).agg(count(lit(1)).as("d"))
      val wedge = nb.as("n1").join(nb.as("n2"),
        col("n1.c") === col("n2.c") && col("n1.x") < col("n2.x"))
        .groupBy(col("n1.x").as("a"), col("n2.x").as("b"))
        .agg(count(lit(1)).as("common"))
      val cand = wedge.join(e0,
        wedge("a") === e0("u") && wedge("b") === e0("v"), "left_anti")
      val da = broadcast(deg.select(col("node").as("a"), col("d").as("deg_u")))
      val db = broadcast(deg.select(col("node").as("b"), col("d").as("deg_v")))
      cand.join(da, Seq("a")).join(db, Seq("b"))
        .select(col("a").as("u"), col("b").as("v"), col("common"),
          col("deg_u"), col("deg_v"),
          round(col("common").cast("double") /
            (col("deg_u") + col("deg_v") - col("common")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("u"), col("v")).limit(20)
    })
}
