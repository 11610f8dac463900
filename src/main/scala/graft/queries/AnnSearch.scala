package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.functions.NativeExpressions.dot_native

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2.8 E5; reference shape `core/geo_resolver.py:86-235`):
  * brute-force cosine top-k as the correctness baseline, plus a
  * sign-bucket LSH variant as the scale path.
  *
  * Scale notes: the brute-force path broadcasts the (small) query set —
  * cost O(queries × corpus) with no shuffle of the corpus; the LSH path
  * buckets both sides on a deterministic sign signature so the join is
  * an equi-join touching only same-bucket pairs (the
  * BucketedRandomProjectionLSH idea with hyperplanes replaced by axis
  * signs for cross-engine determinism).
  *
  * Cross-engine float notes: embeddings are float32; both engines
  * promote to float64 and fold products sequentially (Spark `aggregate`
  * ≅ DuckDB `list_dot_product`), so the dot products are bit-identical;
  * cosine is rounded to 6 decimals as belt-and-braces before ranking.
  */
object AnnSearch {

  private def withVec(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(dot_native(col("v"), col("v"))))

  private val vecSql = """
    vecs AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                   list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS norm
      FROM embeddings
    )"""

  // ---- scale parameters, calibrated to the DuckDB oracles -------------
  // More LSH bits give more, smaller buckets (2^bits); a higher nprobe
  // gives better IVF recall at more cost. The oracle SQL hardcodes these
  // values, so they are constants rather than session confs.
  // LshBits must stay <= 31: signBucket's per-bit weight is an Int shift.
  private val LshBits = 4
  private val Nprobe = 2
  private val NeardupCos = 0.95

  /** n-bit sign-signature LSH bucket over a 64-dim double vector column:
    * bit i samples the sign at position i*(64/bits)+1. bits=4 → positions
    * 1/17/33/49 with weights 8/4/2/1 (the oracle's bucketing). A vector of
    * any other dimension raises instead of silently bucketing on nulls. */
  private def signBucket(v: Column, bits: Int): Column =
    when(size(v) =!= 64, raise_error(concat(
      lit("signBucket expects 64-dim vectors, got "), size(v).cast("string"))))
      .otherwise((0 until bits).map { i =>
        when(element_at(v, i * (64 / bits) + 1) >= 0, 1 << (bits - 1 - i))
          .otherwise(0)
      }.reduce(_ + _)).cast("int")

  val defs: Seq[QueryDef] = Seq(

    // ---- DD14: embedding-cosine near-duplicate pairs ---------------------
    // Scale note (round-8 rewrite): the original bucketed on a 4-bit sign
    // sample — 16 FIXED buckets, so bucket sizes and candidate pairs grew
    // quadratically with data (2× sweep flagged it; 5.1× wall-clock at
    // 10×). Now it uses dd78's pigeonhole-chunk design on the FULL 64-bit
    // sign signature: 4 chunks of 16 sign bits each, candidates = pairs
    // sharing any chunk value (a chunk-value equi-join over a 2^16-per-
    // chunk key space — realized key count grows with data), exact cosine
    // verified on the DISTINCT candidate pairs only. Pairs whose sign
    // patterns differ in ≤3 of 64 components are guaranteed candidates
    // (pigeonhole); cos ≥ 0.95 near-dups are far inside that ball.
    QueryDef(
      "dd14_embedding_neardup",
      "Embedding-cosine near-dup detection: 64-bit sign signature split into 4×16-bit pigeonhole chunks, candidates = chunk-value equi-join (data-proportional key space, never all-pairs), exact cosine >= 0.95 on distinct candidates (planted perturbed duplicates)",
      Some("""
        WITH vecs0 AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        dups AS (
          SELECT vec_id + (SELECT max(vec_id) + 1 FROM vecs0) AS vec_id,
                 list_concat([v[1] * 1.01], v[2:]) AS v
          FROM vecs0 WHERE vec_id % 50 = 0
        ),
        allv AS (SELECT * FROM vecs0 UNION ALL SELECT * FROM dups),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM allv),
        chunks AS (
          SELECT vec_id, j.j AS chunk_idx,
                 list_sum(list_transform(generate_series(1, 16),
                   i -> CASE WHEN v[(j.j - 1) * 16 + i] >= 0
                             THEN 1 << (i - 1) ELSE 0 END)) AS chunk
          FROM n CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j) j
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
          FROM chunks a JOIN chunks b
            ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
           AND a.vec_id < b.vec_id
        ),
        pairs AS (
          SELECT c.a_id, c.b_id,
                 round(list_dot_product(x.v, y.v) / (x.norm * y.norm), 6) AS cos
          FROM cand c JOIN n x ON c.a_id = x.vec_id JOIN n y ON c.b_id = y.vec_id
        )
        SELECT a_id, b_id, cos FROM pairs WHERE cos >= 0.95
      """)) { (s, dir) =>
      val vecs0 = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      // planted near-dups: copy every 50th vector with its first component
      // scaled 1% — cosine vs the original ≈ 0.99995 (and identical sign
      // pattern, Hamming 0 → guaranteed candidate), everything else in
      // this corpus stays below 0.5, so the threshold isolates the plants.
      // Planted ids start at max(vec_id)+1 (broadcast 1-row agg) so they
      // can never collide with real ids if the fixture grows.
      val dups = vecs0.filter(col("vec_id") % 50 === 0)
        .crossJoin(broadcast(vecs0.agg(max(col("vec_id")).as("max_id"))))
        .select((col("vec_id") + col("max_id") + 1).as("vec_id"),
          concat(array(element_at(col("v"), 1) * 1.01),
            slice(col("v"), lit(2), size(col("v")) - 1)).as("v"))
      val allv = vecs0.unionByName(dups)
        .withColumn("norm", sqrt(dot_native(col("v"), col("v"))))
        .cache()
      val chunkStructs = (1 to 4).map { j =>
        val bits = (1 to 16).map(i =>
          when(element_at(col("v"), (j - 1) * 16 + i) >= 0, 1 << (i - 1))
            .otherwise(0)).reduce(_ + _)
        struct(lit(j).as("chunk_idx"), bits.as("chunk"))
      }
      val chunks = allv.select(col("vec_id"),
        explode(array(chunkStructs: _*)).as("c"))
        .select(col("vec_id"), col("c.chunk_idx"), col("c.chunk"))
      val cand = chunks.as("a").join(chunks.as("b"),
          col("a.chunk_idx") === col("b.chunk_idx") &&
            col("a.chunk") === col("b.chunk") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
        .distinct()
      cand
        .join(allv.select(col("vec_id").as("a_id"), col("v").as("av"),
          col("norm").as("an")), Seq("a_id"))
        .join(allv.select(col("vec_id").as("b_id"), col("v").as("bv"),
          col("norm").as("bn")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          round(dot_native(col("av"), col("bv")) / (col("an") * col("bn")), 6).as("cos"))
        .filter(col("cos") >= NeardupCos)
    },

    // ---- E5a: brute-force cosine top-k (broadcast query set) ------------
    // Size bound: the BROADCAST side is the query set, not the corpus —
    // sized at |queries| × (dim+2) × 8 bytes. It must stay under the
    // executor broadcast budget (~1 GiB ≈ 2M 64-dim queries); the corpus
    // side streams unbounded. For larger query batches, switch to the
    // LSH/IVF variants below, whose probe side is bucket-partitioned.
    QueryDef(
      "e5_ann_bruteforce",
      "Brute-force cosine top-3 per query vector; query set broadcast (bounded: |Q|x(dim+2)x8B under the broadcast budget), corpus never shuffled",
      Some(s"""
        WITH $vecSql,
        q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn FROM vecs WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.q_id, c.vec_id AS cand_id,
                 round(list_dot_product(q.qv, c.v) / (q.qn * c.norm), 6) AS cos
          FROM q JOIN vecs c ON c.vec_id <> q.q_id
        )
        SELECT q_id, cand_id, cos FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
          FROM scored
        ) WHERE rn <= 3
      """)) { (s, dir) =>
      val vecs = withVec(t(s, dir, "embeddings"))
      val q = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
      val scored = vecs.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"), col("cos"))
    },

    // ---- E5d: deterministic candidate disambiguation --------------------
    // The reference follows cosine top-k with an LLM disambiguation pass
    // (`core/geo_resolver.py:193-235`). The engine-side default is a
    // deterministic rule: pick the candidate with the highest exact
    // token overlap against the query name, ties by higher cosine, then
    // lexicographic name, then id — so the pipeline is runnable (and
    // oracle-checkable) without the external model; an LLM chooser can
    // override the rule but inherits the same candidate frame.
    QueryDef(
      "e5_disambiguate",
      "Deterministic disambiguation over cosine top-3 candidates: exact-token-overlap tie-break, then cosine, then lexicographic (geo_resolver.py:193-235 with the LLM pass replaced by a rule)",
      Some(s"""
        WITH $vecSql,
        names AS (SELECT p_partkey AS nk, p_name AS name FROM part WHERE p_partkey < 200),
        q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn FROM vecs WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.q_id, c.vec_id AS cand_id,
                 round(list_dot_product(q.qv, c.v) / (q.qn * c.norm), 6) AS cos
          FROM q JOIN vecs c ON c.vec_id <> q.q_id
        ),
        top3 AS (
          SELECT q_id, cand_id, cos FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
            FROM scored
          ) WHERE rn <= 3
        ),
        named AS (
          SELECT t.q_id, t.cand_id, t.cos, qn.name AS q_name, cn.name AS cand_name,
                 len(list_intersect(string_split(qn.name, ' '),
                                    string_split(cn.name, ' '))) AS overlap
          FROM top3 t
          JOIN names qn ON qn.nk = t.q_id % 200
          JOIN names cn ON cn.nk = t.cand_id % 200
        )
        SELECT q_id, q_name, cand_id AS picked_id, cand_name AS picked_name,
               CAST(overlap AS INTEGER) AS overlap, cos
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_id
            ORDER BY overlap DESC, cos DESC, cand_name, cand_id) AS rk
          FROM named
        ) WHERE rk = 1
      """)) { (s, dir) =>
      val vecs = withVec(t(s, dir, "embeddings"))
      // name dictionary: 200 rows, broadcast — stands in for the
      // reference's gazetteer names attached to each vector id
      val names = broadcast(t(s, dir, "part").filter(col("p_partkey") < 200)
        .select(col("p_partkey").as("nk"), col("p_name").as("name")))
      val q = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
      val scored = vecs.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
      val wTop = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
      val top3 = scored.withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 3).select(col("q_id"), col("cand_id"), col("cos"))
      val named = top3
        .join(names.as("qn"), col("qn.nk") === col("q_id") % 200)
        .withColumnRenamed("name", "q_name").drop("nk")
        .join(names.as("cn"), col("cn.nk") === col("cand_id") % 200)
        .withColumnRenamed("name", "cand_name").drop("nk")
        .withColumn("overlap", size(array_intersect(
          split(col("q_name"), " "), split(col("cand_name"), " "))))
      val wPick = Window.partitionBy("q_id").orderBy(
        col("overlap").desc, col("cos").desc, col("cand_name"), col("cand_id"))
      named.withColumn("rk", row_number().over(wPick)).filter(col("rk") === 1)
        .select(col("q_id"), col("q_name"), col("cand_id").as("picked_id"),
          col("cand_name").as("picked_name"), col("overlap"), col("cos"))
    },

    // ---- E5b: sign-bucket LSH top-k (equi-join on bucket) ---------------
    QueryDef(
      "e5_ann_lsh",
      "Multi-probe LSH cosine top-3: 4-bit sign-signature buckets; each query probes its bucket + all hamming-1 buckets (5/16 of the corpus)",
      Some(s"""
        WITH $vecSql,
        bucketed AS (
          SELECT vec_id, v, norm,
                 CAST(CASE WHEN v[1] >= 0 THEN 8 ELSE 0 END
                    + CASE WHEN v[17] >= 0 THEN 4 ELSE 0 END
                    + CASE WHEN v[33] >= 0 THEN 2 ELSE 0 END
                    + CASE WHEN v[49] >= 0 THEN 1 ELSE 0 END AS INTEGER) AS bucket
          FROM vecs
        ),
        q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn, bucket
              FROM bucketed WHERE vec_id % 100 = 0),
        probes AS (
          SELECT q_id, qv, qn, CAST(xor(bucket, flip) AS INTEGER) AS probe_bucket
          FROM q, UNNEST([0, 1, 2, 4, 8]) AS f(flip)
        ),
        scored AS (
          SELECT p.q_id, c.vec_id AS cand_id, c.bucket,
                 round(list_dot_product(p.qv, c.v) / (p.qn * c.norm), 6) AS cos
          FROM probes p JOIN bucketed c
            ON c.bucket = p.probe_bucket AND c.vec_id <> p.q_id
        )
        SELECT q_id, cand_id, bucket, cos FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
          FROM scored
        ) WHERE rn <= 3
      """)) { (s, dir) =>
      val bucketed = withVec(t(s, dir, "embeddings"))
        .withColumn("bucket", signBucket(col("v"), LshBits))
      // multi-probe flip set: own bucket + every hamming-1 neighbor
      val flips = 0 +: (0 until LshBits).map(1 << _)
      val probes = bucketed.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("norm").as("qn"),
          explode(array(flips.map(lit): _*)).as("flip"),
          col("bucket"))
        .select(col("q_id"), col("qv"), col("qn"),
          col("bucket").bitwiseXOR(col("flip")).cast("int").as("probe_bucket"))
      val scored = bucketed.join(probes,
          col("bucket") === col("probe_bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"), col("bucket"),
          round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"), col("bucket"), col("cos"))
    },

    // ---- E5c: IVF-style label-partitioned centroid search ---------------
    QueryDef(
      "e5_ann_ivf",
      "IVF-style two-stage search: per-label mean centroids, probe the 2 nearest cells, exact top-3 within them",
      Some(s"""
        WITH $vecSql,
        cells AS (
          SELECT label,
                 list_transform(range(1, 65), i -> avg_v[i]) AS centroid
          FROM (
            SELECT label,
                   list_transform(range(1, 65),
                     i -> list_sum(list_transform(vl, x -> x[i])) / len(vl)) AS avg_v
            FROM (SELECT label, list(v) AS vl FROM vecs GROUP BY label)
          )
        ),
        q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn FROM vecs WHERE vec_id % 100 = 0),
        probe AS (
          SELECT q_id, label FROM (
            SELECT q.q_id, c.label,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id
                     ORDER BY round(list_dot_product(q.qv, c.centroid)
                       / (q.qn * sqrt(list_dot_product(c.centroid, c.centroid))), 6) DESC,
                       c.label) AS rn
            FROM q JOIN cells c ON true
          ) WHERE rn <= 2          -- nprobe=2: search the two nearest cells
        ),
        scored AS (
          SELECT q.q_id, v.vec_id AS cand_id, v.label,
                 round(list_dot_product(q.qv, v.v) / (q.qn * v.norm), 6) AS cos
          FROM probe p
          JOIN q ON q.q_id = p.q_id
          JOIN vecs v ON v.label = p.label AND v.vec_id <> q.q_id
        )
        SELECT q_id, cand_id, label, cos FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
          FROM scored
        ) WHERE rn <= 3
      """)) { (s, dir) =>
      val vecs = withVec(t(s, dir, "embeddings")).cache()
      // per-label mean centroid: explode positions, average, rebuild array
      val cells = vecs
        .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i")).agg(
          (sum(col("x")) / count(lit(1))).as("cx"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("i"), col("cx")))).as("pairs"))
        .select(col("label"), transform(col("pairs"), p => p.getField("cx")).as("centroid"))
      val q = vecs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
      val probe = q.crossJoin(broadcast(cells))
        .select(col("q_id"), col("label"),
          round(dot_native(col("qv"), col("centroid")) /
            (col("qn") * sqrt(dot_native(col("centroid"), col("centroid")))), 6).as("ccos"))
      val wp = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("label"))
      // search the Nprobe nearest cells per query
      val best = probe.withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= Nprobe)
        .select(col("q_id"), col("label"))
      val scored = best.join(q, Seq("q_id")).join(vecs, Seq("label"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"), col("label"),
          round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"), col("label"), col("cos"))
    },

    // ---- e5 variant: int8 scalar-quantized ANN ------------------------------
    QueryDef(
      "e5_ann_quantized",
      "Int8 symmetric scalar quantization of UNIT vectors (per-vector scale = max|x|/127 stored alongside) + rescaled integer-dot top-3: the 4x-memory ANN path; int dot is exact, the sq*sc rescale is one fixed-order multiply chain",
      Some("""
        WITH base AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        unitv AS (
          SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
          FROM base
        ),
        qz AS (
          SELECT vec_id, s,
                 list_transform(vn, x -> CAST(floor(x / s + 0.5) AS INTEGER)) AS qv
          FROM (SELECT vec_id, vn,
                       greatest(list_max(list_transform(vn, y -> abs(y))) / 127.0,
                                1e-12) AS s
                FROM unitv)
        ),
        q AS (SELECT vec_id AS q_id, s AS sq, qv AS qq FROM qz WHERE vec_id % 100 = 0),
        scored AS (
          SELECT q.q_id, c.vec_id AS cand_id,
                 round(q.sq * c.s *
                       CAST(list_sum(list_transform(list_zip(q.qq, c.qv),
                                                    p -> p[1] * p[2])) AS BIGINT),
                       9) AS score
          FROM q JOIN qz c ON c.vec_id <> q.q_id
        )
        SELECT q_id, cand_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY score DESC, cand_id) AS rn
          FROM scored
        ) WHERE rn <= 3
      """)) { (s, dir) =>
      // SQ8 as deployed at scale: normalize, quantize the unit vector to
      // int8, keep the per-vector scale; similarity = sq*sc*(q·c) so the
      // integer dot (exact in both engines) carries the ranking and the
      // float rescale is one fixed-order multiply chain. Round-half-up is
      // spelled floor(x/s + 0.5) because that form is engine-identical
      // (round() half-case conventions are not). 64 bytes/vector instead
      // of 256; the usual deployment reranks a quantized top-(k·m)
      // prefilter exactly — ApproxSpec pins the recall against the exact
      // cosine top-3.
      val base = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val unitv = base.select(col("vec_id"),
        transform(col("v"), x => x / sqrt(dot_native(col("v"), col("v")))).as("vn"))
      val qz = unitv
        .withColumn("s",
          greatest(array_max(transform(col("vn"), y => abs(y))) / 127.0, lit(1e-12)))
        .select(col("vec_id"), col("s"),
          transform(col("vn"), x => floor(x / col("s") + 0.5).cast("int")).as("qv"))
      val q = qz.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("s").as("sq"), col("qv").as("qq"))
      val scored = qz.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          round(col("sq") * col("s") *
            aggregate(zip_with(col("qq"), col("qv"), (a, b) => a * b),
              lit(0L), (acc, x) => acc + x), 9).as("score"))
      val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("cand_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"), col("score"))
    },

    // ---- dd23: seeded k-means over the embedding corpus --------------------
    QueryDef(
      "dd23_kmeans",
      "Deterministic k-means (k=4 fixed seed vectors, 2 Lloyd rounds): assignments are pure ints; distances round(6) and per-round centroids round(9) so both engines argmin identically",
      Some("""
        WITH vecs AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        c0 AS (
          SELECT CASE vec_id WHEN 7 THEN 0 WHEN 23 THEN 1
                             WHEN 41 THEN 2 ELSE 3 END AS cid, v AS cv
          FROM vecs WHERE vec_id IN (7, 23, 41, 59)
        ),
        d1 AS (
          SELECT vec_id,
                 list(round(list_dot_product(v, v) + list_dot_product(cv, cv)
                            - 2 * list_dot_product(v, cv), 6) ORDER BY cid) AS ds
          FROM vecs CROSS JOIN c0 GROUP BY vec_id
        ),
        a1 AS (
          SELECT vec_id,
                 CASE WHEN ds[1] <= ds[2] AND ds[1] <= ds[3] AND ds[1] <= ds[4] THEN 0
                      WHEN ds[2] <= ds[3] AND ds[2] <= ds[4] THEN 1
                      WHEN ds[3] <= ds[4] THEN 2 ELSE 3 END AS cluster
          FROM d1
        ),
        parts AS (
          SELECT a1.cluster AS cid, generate_subscripts(v.v, 1) AS pos, unnest(v.v) AS x
          FROM a1 JOIN vecs v USING (vec_id)
        ),
        c1 AS (
          SELECT cid, list(cx ORDER BY pos) AS cv FROM (
            SELECT cid, pos, round(avg(x), 9) AS cx FROM parts GROUP BY cid, pos)
          GROUP BY cid
        ),
        d2 AS (
          SELECT vec_id,
                 list(round(list_dot_product(v, v) + list_dot_product(cv, cv)
                            - 2 * list_dot_product(v, cv), 6) ORDER BY cid) AS ds
          FROM vecs CROSS JOIN c1 GROUP BY vec_id
        )
        SELECT vec_id,
               CASE WHEN ds[1] <= ds[2] AND ds[1] <= ds[3] AND ds[1] <= ds[4] THEN 0
                    WHEN ds[2] <= ds[3] AND ds[2] <= ds[4] THEN 1
                    WHEN ds[3] <= ds[4] THEN 2 ELSE 3 END AS cluster
        FROM d2
      """)) { (s, dir) =>
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      // fixed seed centroids (vec_ids present at every SF); cluster index
      // = seed rank so the argmin tie-break order is stated, not implicit
      val c0 = vecs.filter(col("vec_id").isin(7L, 23L, 41L, 59L))
        .select(
          when(col("vec_id") === 7, 0).when(col("vec_id") === 23, 1)
            .when(col("vec_id") === 41, 2).otherwise(3).as("cid"),
          col("v").as("cv"))
      // one Lloyd assignment: k centroid vectors broadcast as ONE packed
      // array row, distances fused through the codegen'd dot product
      // (‖v‖² + ‖c‖² − 2v·c), argmin by explicit CASE so the tie rule is
      // identical in both engines. round(6) makes the compared values
      // byte-equal cross-engine; cluster ids are plain ints.
      def assign(cents: DataFrame): DataFrame = {
        val packed = cents.groupBy()
          .agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("cs"))
        val d = (c: Column) =>
          round(dot_native(col("v"), col("v")) + dot_native(c, c) - lit(2) * dot_native(col("v"), c), 6)
        vecs.crossJoin(broadcast(packed))
          .withColumn("ds", transform(col("cs"), c => d(c.getField("cv"))))
          .withColumn("cluster",
            when(col("ds")(0) <= col("ds")(1) && col("ds")(0) <= col("ds")(2)
              && col("ds")(0) <= col("ds")(3), 0)
              .when(col("ds")(1) <= col("ds")(2) && col("ds")(1) <= col("ds")(3), 1)
              .when(col("ds")(2) <= col("ds")(3), 2)
              .otherwise(3))
          .drop("cs", "ds")
      }
      val a1 = assign(c0)
      // recompute: element-wise mean per cluster; round(9) at the
      // iteration boundary pins the new centroids to byte-equal values
      // in both engines (avg order-noise ~1e-12 ≪ the rounding step)
      val c1 = a1
        .select(col("cluster").as("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(round(avg(col("x")), 9).as("cx"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
          p => p.getField("cx")).as("cv"))
      assign(c1).select(col("vec_id"), col("cluster"))
    },

    // ---- E5e: ANN recall evaluation (LSH vs brute-force truth) -----------
    QueryDef(
      "e5_ann_recall",
      "ANN quality audit: per-query recall@3 of the multi-probe sign-LSH candidate strategy against the exact brute-force top-3 — the accuracy/cost trade an ANN deployment is tuned on, computed by joining the two already-deterministic top-k frames; truth pays the same broadcast-query brute pass as e5_ann_bruteforce, the LSH side the same 5/16-corpus probe join as e5_ann_lsh",
      Some(s"""
        WITH $vecSql,
        bucketed AS (
          SELECT vec_id, v, norm,
                 CAST(CASE WHEN v[1] >= 0 THEN 8 ELSE 0 END
                    + CASE WHEN v[17] >= 0 THEN 4 ELSE 0 END
                    + CASE WHEN v[33] >= 0 THEN 2 ELSE 0 END
                    + CASE WHEN v[49] >= 0 THEN 1 ELSE 0 END AS INTEGER) AS bucket
          FROM vecs
        ),
        q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn, bucket
              FROM bucketed WHERE vec_id % 100 = 0),
        probes AS (
          SELECT q_id, qv, qn, CAST(xor(bucket, flip) AS INTEGER) AS probe_bucket
          FROM q, UNNEST([0, 1, 2, 4, 8]) AS f(flip)
        ),
        lsh_top AS (
          SELECT q_id, cand_id FROM (
            SELECT p.q_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (PARTITION BY p.q_id
                     ORDER BY round(list_dot_product(p.qv, c.v) / (p.qn * c.norm), 6) DESC,
                              c.vec_id) AS rn
            FROM probes p JOIN bucketed c
              ON c.bucket = p.probe_bucket AND c.vec_id <> p.q_id
          ) WHERE rn <= 3
        ),
        truth_top AS (
          SELECT q_id, cand_id FROM (
            SELECT q.q_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id
                     ORDER BY round(list_dot_product(q.qv, c.v) / (q.qn * c.norm), 6) DESC,
                              c.vec_id) AS rn
            FROM q JOIN vecs c ON c.vec_id <> q.q_id
          ) WHERE rn <= 3
        )
        SELECT t.q_id, CAST(count(*) AS BIGINT) AS truth_k,
               CAST(SUM(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS found,
               round(SUM(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS recall3
        FROM truth_top t
        LEFT JOIN lsh_top l ON t.q_id = l.q_id AND t.cand_id = l.cand_id
        GROUP BY t.q_id
      """)) { (s, dir) =>
      // The eval costs what the two searches cost — both top-3 frames are
      // the same plans as e5_ann_bruteforce / e5_ann_lsh (query set
      // broadcast; corpus never shuffles) — plus a query-bounded join of
      // two <=3k-row relations. Per-query recall (not one global mean)
      // because the failure mode that matters is QUERIES the probe set
      // misses entirely, which a mean hides.
      val bucketed = withVec(t(s, dir, "embeddings"))
        .withColumn("bucket", signBucket(col("v"), LshBits))
        .cache()
      val q = bucketed.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("norm").as("qn"), col("bucket"))
      val flips = 0 +: (0 until LshBits).map(1 << _)
      val probes = q
        .select(col("q_id"), col("qv"), col("qn"),
          explode(array(flips.map(lit): _*)).as("flip"), col("bucket"))
        .select(col("q_id"), col("qv"), col("qn"),
          col("bucket").bitwiseXOR(col("flip")).cast("int").as("probe_bucket"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
      val lshTop = bucketed.join(probes, col("bucket") === col("probe_bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"))
      val truthTop = bucketed.crossJoin(broadcast(
          q.select(col("q_id"), col("qv"), col("qn"))))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"))
      truthTop.as("t")
        .join(lshTop.as("l"),
          col("t.q_id") === col("l.q_id") && col("t.cand_id") === col("l.cand_id"),
          "left")
        .groupBy(col("t.q_id").as("q_id"))
        .agg(count(lit(1)).as("truth_k"),
          sum(when(col("l.cand_id").isNotNull, 1L).otherwise(0L)).as("found"),
          round(sum(when(col("l.cand_id").isNotNull, 1L).otherwise(0L)) /
            count(lit(1)).cast("double"), 6).as("recall3"))
    },

    // ---- E5e2: Matryoshka prefix-truncation search eval ---------------------
    QueryDef(
      "e5_ann_matryoshka",
      "Matryoshka-representation search eval (Kusupati et al. 2022 shape): the coarse stage scores by the FIRST 16 of 64 dims — no projection, the prefix IS the low-dim embedding, which is how MRL-trained stores shrink memory 4x — taking coarse top-20 per query, exact full-dim rerank to top-3, then per-query recall@3 against the full-dim brute-force truth. Prefix norms are recomputed on the slice (a prefix of a unit vector is NOT unit). Corpus never shuffles: queries broadcast through both stages, rerank touches only the 20 coarse survivors",
      Some(s"""
        WITH $vecSql,
        pref AS (
          SELECT vec_id, v, norm, v[1:16] AS p,
                 sqrt(list_dot_product(v[1:16], v[1:16])) AS pnorm
          FROM vecs
        ),
        q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn, p AS qp, pnorm AS qpn
              FROM pref WHERE vec_id % 100 = 0),
        coarse AS (
          SELECT q_id, cand_id, qv, qn, v, norm FROM (
            SELECT q.q_id, c.vec_id AS cand_id, q.qv, q.qn, c.v, c.norm,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id
                     ORDER BY round(list_dot_product(q.qp, c.p) / (q.qpn * c.pnorm), 6) DESC,
                              c.vec_id) AS crn
            FROM q JOIN pref c ON c.vec_id <> q.q_id
          ) WHERE crn <= 20
        ),
        mrl_top AS (
          SELECT q_id, cand_id FROM (
            SELECT q_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY round(list_dot_product(qv, v) / (qn * norm), 6) DESC,
                              cand_id) AS rn
            FROM coarse
          ) WHERE rn <= 3
        ),
        truth_top AS (
          SELECT q_id, cand_id FROM (
            SELECT q.q_id, c.vec_id AS cand_id,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id
                     ORDER BY round(list_dot_product(q.qv, c.v) / (q.qn * c.norm), 6) DESC,
                              c.vec_id) AS rn
            FROM q JOIN vecs c ON c.vec_id <> q.q_id
          ) WHERE rn <= 3
        )
        SELECT t.q_id, CAST(count(*) AS BIGINT) AS truth_k,
               CAST(SUM(CASE WHEN m.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS found,
               round(SUM(CASE WHEN m.cand_id IS NOT NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS recall3
        FROM truth_top t
        LEFT JOIN mrl_top m ON t.q_id = m.q_id AND t.cand_id = m.cand_id
        GROUP BY t.q_id
      """)) { (s, dir) =>
      // Same scale shape as the other e5 evals: the query set broadcasts,
      // the corpus maps once per stage, and the full-width rerank reads
      // only coarse survivors — at store scale the 16-dim prefix column
      // is the only thing the coarse scan keeps in memory (4× less than
      // full width; the MRL paper's entire point).
      val pref = withVec(t(s, dir, "embeddings"))
        .withColumn("p", slice(col("v"), 1, 16))
        .withColumn("pnorm", sqrt(dot_native(col("p"), col("p"))))
        .cache()
      val q = pref.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"),
          col("p").as("qp"), col("pnorm").as("qpn"))
      val wCoarse = Window.partitionBy("q_id").orderBy(col("pcos").desc, col("cand_id"))
      val coarse = pref.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"), col("qv"), col("qn"),
          col("v"), col("norm"),
          round(dot_native(col("qp"), col("p")) / (col("qpn") * col("pnorm")), 6).as("pcos"))
        .withColumn("crn", row_number().over(wCoarse)).filter(col("crn") <= 20)
      val wFull = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))
      val mrlTop = coarse
        .select(col("q_id"), col("cand_id"),
          round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
        .withColumn("rn", row_number().over(wFull)).filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"))
      val truthTop = pref.crossJoin(broadcast(
          q.select(col("q_id"), col("qv"), col("qn"))))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
        .withColumn("rn", row_number().over(wFull)).filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"))
      truthTop.as("t")
        .join(mrlTop.as("m"),
          col("t.q_id") === col("m.q_id") && col("t.cand_id") === col("m.cand_id"),
          "left")
        .groupBy(col("t.q_id").as("q_id"))
        .agg(count(lit(1)).as("truth_k"),
          sum(when(col("m.cand_id").isNotNull, 1L).otherwise(0L)).as("found"),
          round(sum(when(col("m.cand_id").isNotNull, 1L).otherwise(0L)) /
            count(lit(1)).cast("double"), 6).as("recall3"))
    },

    // ---- E5f: random-projection two-stage search ---------------------------
    QueryDef(
      "e5_ann_randproj",
      "Two-stage compressed search: 64-dim vectors sketched to 16 dims by a deterministic +-1 random projection (Johnson-Lindenstrauss; Achlioptas signs), coarse top-50 per query in the 4x-smaller sketch space, exact cosine rerank to top-3 — the memory-bound pattern for embedding stores too big to scan at full width. The sign matrix is generated ONCE (md5-seeded) and embedded as identical literals in the Spark plan and the DuckDB oracle; both engines fold the projection and the coarse dot with the same sequential order, so the coarse RANKING is bit-identical and the parity check covers the whole two-stage path",
      Some {
        val lits = (0 until 16).map(j => RpSigns(j).mkString("[", ", ", "]"))
        val redV = lits.map(l => s"list_dot_product(v, $l)").mkString("[", ", ", "]")
        s"""
        WITH $vecSql,
        red AS (SELECT vec_id, v, norm, $redV AS r FROM vecs),
        q AS (SELECT vec_id AS q_id, v AS qv, norm AS qn, r AS qr
              FROM red WHERE vec_id % 100 = 0),
        coarse AS (
          SELECT q.q_id, c.vec_id AS cand_id, q.qv, q.qn, c.v, c.norm,
                 ROW_NUMBER() OVER (PARTITION BY q.q_id
                   ORDER BY list_dot_product(q.qr, c.r) DESC, c.vec_id) AS crn
          FROM q JOIN red c ON c.vec_id <> q.q_id
        )
        SELECT q_id, cand_id, cos FROM (
          SELECT q_id, cand_id,
                 round(list_dot_product(qv, v) / (qn * norm), 6) AS cos,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY round(list_dot_product(qv, v) / (qn * norm), 6) DESC,
                            cand_id) AS rn
          FROM coarse WHERE crn <= 50
        ) WHERE rn <= 3
        """
      }) { (s, dir) =>
      // At scale the sketch table is what stays hot (16/64 of the bytes);
      // the full vectors are touched only for the 50 rerank candidates per
      // query. Projection = 16 dot_natives against literal sign arrays —
      // the same sequential fold as DuckDB's list_dot_product, so the
      // sketches and every coarse score match bit-for-bit.
      val vecs = withVec(t(s, dir, "embeddings"))
      val red = vecs.withColumn("r", array(
        (0 until 16).map(j => dot_native(col("v"), typedLit(RpSigns(j)))): _*))
      val q = red.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("norm").as("qn"), col("r").as("qr"))
      val coarse = red.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("crn", row_number().over(
          Window.partitionBy("q_id")
            .orderBy(dot_native(col("qr"), col("r")).desc, col("vec_id"))))
        .filter(col("crn") <= 50)
      val rer = coarse.select(col("q_id"), col("vec_id").as("cand_id"),
        round(dot_native(col("qv"), col("v")) / (col("qn") * col("norm")), 6).as("cos"))
      rer.withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand_id"))))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"), col("cos"))
    },

    // ---- DD93: in-engine PCA (closed-form power iteration) ----------------
    QueryDef(
      "dd93_pca_power",
      "PCA's leading component computed INSIDE the engine: one corpus pass folds the 8-dim embedding slice into 44 decimal-frozen moment sums (n, means, upper-triangle second moments), the covariance matrix materializes on the 1-ROW aggregate, and 8 power-iteration steps run as chained selects of pure arithmetic on that row — matrix-free distributed PCA where the corpus is touched once and the iteration costs nothing at any scale. Emits eigenvalue, explained-variance share, and loadings; every step expression is generated ONCE (PcaSql) into both the Spark plan and the oracle, dd77's adjugate discipline",
      Some(PcaSql.oracle)) { (s, dir) =>
      // Moments freeze round(9) into DECIMAL(28,9) so the covariance
      // inputs are order-free; from there every step is deterministic
      // IEEE double arithmetic with identical expression text in both
      // engines — same left-assoc fold order, so bit-identical results.
      // v0 = 1/sqrt(8)·ones; 8 steps is plenty at the fixture's spectral
      // gap, and the step count is a literal, not data-dependent.
      val xs = t(s, dir, "embeddings").selectExpr(
        (1 to PcaSql.D).map(i => s"CAST(element_at(embedding, $i) AS DOUBLE) AS x$i"): _*)
      val momE = PcaSql.momExprs.map(expr)
      var df = xs.agg(momE.head, momE.tail: _*)
        .selectExpr(PcaSql.covExprs: _*)
        .selectExpr(PcaSql.tvExprs: _*)
        .selectExpr(PcaSql.initExprs: _*)
      for (k <- 1 to PcaSql.Steps) {
        df = df.selectExpr(PcaSql.wStep: _*)
          .selectExpr(PcaSql.vStep(last = k == PcaSql.Steps): _*)
      }
      df.selectExpr(PcaSql.finalExprs: _*)
    },

    // ---- E15: centroid shift between embedding cohorts -------------------
    // Beyond-reference drift monitor for the vector zone: pairwise cosine
    // between per-label centroid DIRECTIONS. Cosine is scale-invariant, so
    // the engine never divides by the cohort count — it compares the raw
    // per-dimension SUM vectors, which accumulate as exact DECIMALs (the
    // float-summation-order trap of averaging embeddings across engines
    // disappears because no float sum ever happens).
    QueryDef(
      "e15_centroid_shift",
      "Embedding-cohort centroid-shift matrix: per-(label, dim) exact-DECIMAL component sums in ONE map-side-combined groupBy (label x 64 rows — bounded), pairwise centroid cosine via a dim-keyed equi-join of the bounded component relation; vectors themselves never cross a second shuffle and no per-vector pair is ever formed (cohort-pair work is labels^2 x dims, independent of corpus size)",
      Some("""
        WITH comps AS (
          SELECT label, dim,
                 CAST(SUM(CAST(round(CAST(embedding[dim] AS DOUBLE), 6)
                               AS DECIMAL(16,6))) AS DECIMAL(16,6)) AS sx
          FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) d
          GROUP BY 1, 2
        ),
        norms AS (
          SELECT label, CAST(SUM(sx * sx) AS DECIMAL(38,12)) AS n2
          FROM comps GROUP BY 1
        ),
        dots AS (
          SELECT a.label AS label_a, b.label AS label_b,
                 CAST(SUM(a.sx * b.sx) AS DECIMAL(38,12)) AS dot
          FROM comps a JOIN comps b ON a.dim = b.dim AND a.label < b.label
          GROUP BY 1, 2
        )
        SELECT d.label_a, d.label_b,
               round(CAST(d.dot AS DOUBLE)
                     / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
                 AS cos_centroid
        FROM dots d
        JOIN norms na ON na.label = d.label_a
        JOIN norms nb ON nb.label = d.label_b
      """)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      // explode to (label, dim, component), fold to exact decimal sums —
      // 64 x |labels| rows from here on. Not cached: folding again for each
      // of its three readers measured faster than caching the fold
      val comps = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim0", "x")))
        .select(col("label"), (col("dim0") + 1).as("dim"),
          round(col("x").cast("double"), 6).cast(DecimalType(16, 6)).as("x"))
        .groupBy("label", "dim")
        .agg(sum(col("x")).cast(DecimalType(16, 6)).as("sx"))
      val norms = comps.groupBy("label")
        .agg(sum(col("sx") * col("sx")).cast(DecimalType(38, 12)).as("n2"))
      val dots = comps.as("a")
        .join(broadcast(comps.as("b")),
          col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.sx") * col("b.sx")).cast(DecimalType(38, 12)).as("dot"))
      dots
        .join(broadcast(norms.select(col("label").as("label_a"), col("n2").as("n2a"))),
          Seq("label_a"))
        .join(broadcast(norms.select(col("label").as("label_b"), col("n2").as("n2b"))),
          Seq("label_b"))
        .select(col("label_a"), col("label_b"),
          round(col("dot").cast("double")
            / sqrt(col("n2a").cast("double") * col("n2b").cast("double")), 6)
            .as("cos_centroid"))
    },

    // ---- DD98: embedding-space outlier screen (diagonal Mahalanobis) -----
    // Curation step the embedding zone needs before clustering or ANN
    // recall is trusted: score every vector against its label cohort's
    // per-dimension mean/variance (diagonal Mahalanobis z^2; full
    // covariance needs dims^2 state — the diagonal is the standard
    // streaming-friendly screen). Two corpus passes, both map-side
    // combinable; the stats relation is labels x dims = bounded, so the
    // scoring join broadcasts at any corpus size.
    QueryDef(
      "dd98_embedding_outliers",
      "Diagonal-Mahalanobis embedding outlier screen: pass 1 folds per-(label,dim) count/sum/sum-of-squares as exact DECIMALs (bounded relation), pass 2 broadcasts the stats and folds per-vector z^2 — each dim's contribution rounds to DECIMAL(20,8) so the 64-term per-vector sum is order-free — then a label-grain rollup (n_flagged at z^2>96 ~ 1.5x the 64-dim mean, max/mean score). No window, no sort, no per-pair work",
      Some("""
        WITH x AS (
          SELECT vec_id, label, dim,
                 CAST(round(CAST(embedding[dim] AS DOUBLE), 6)
                      AS DECIMAL(16,6)) AS x
          FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) d
        ),
        stats AS (
          SELECT label, dim, COUNT(*) AS n,
                 CAST(SUM(x) AS DECIMAL(20,6)) AS sx,
                 CAST(SUM(CAST(x * x AS DECIMAL(32,12))) AS DECIMAL(38,12)) AS sxx
          FROM x GROUP BY 1, 2
        ),
        ms AS (
          SELECT label, dim,
                 CAST(sx AS DOUBLE) / n AS mu,
                 CAST(sxx AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS v
          FROM stats
        ),
        z AS (
          SELECT x.vec_id, x.label,
                 CAST(SUM(CAST(round(
                   (CAST(x.x AS DOUBLE) - m.mu) * (CAST(x.x AS DOUBLE) - m.mu)
                     / (CASE WHEN m.v > 1e-12 THEN m.v ELSE 1.0 END), 8)
                   AS DECIMAL(20,8))) AS DECIMAL(38,8)) AS score
          FROM x JOIN ms m ON x.label = m.label AND x.dim = m.dim
          GROUP BY 1, 2
        )
        SELECT label, COUNT(*) AS n_vecs,
               CAST(SUM(CASE WHEN CAST(score AS DOUBLE) > 96.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               round(CAST(MAX(score) AS DOUBLE), 6) AS max_score,
               round(CAST(SUM(score) AS DOUBLE) / COUNT(*), 6) AS mean_score
        FROM z GROUP BY 1
      """)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val x = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim0", "x0")))
        .select(col("vec_id"), col("label"), (col("dim0") + 1).as("dim"),
          round(col("x0").cast("double"), 6).cast(DecimalType(16, 6)).as("x"))
      val stats = x.groupBy("label", "dim").agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast(DecimalType(20, 6)).as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(32, 12)))
          .cast(DecimalType(38, 12)).as("sxx"))
      val ms = stats.select(col("label"), col("dim"),
        (col("sx").cast("double") / col("n")).as("mu"),
        (col("sxx").cast("double") / col("n")
          - (col("sx").cast("double") / col("n"))
            * (col("sx").cast("double") / col("n"))).as("v"))
      val z = x.join(broadcast(ms), Seq("label", "dim"))
        .withColumn("d", col("x").cast("double") - col("mu"))
        .withColumn("z2", round(col("d") * col("d")
          / when(col("v") > 1e-12, col("v")).otherwise(lit(1.0)), 8)
          .cast(DecimalType(20, 8)))
        .groupBy("vec_id", "label")
        .agg(sum(col("z2")).cast(DecimalType(38, 8)).as("score"))
      z.groupBy("label").agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("score").cast("double") > 96.0, 1).otherwise(0))
          .cast("long").as("n_flagged"),
        round(max(col("score")).cast("double"), 6).as("max_score"),
        round(sum(col("score")).cast("double") / count(lit(1)), 6).as("mean_score"))
    })

  /** Shared PCA expression generator — dialect-free arithmetic emitted
    * verbatim into the Spark selectExpr chain AND the DuckDB CTE chain,
    * so the unrolled power iteration cannot drift between engines. */
  private[graft] object PcaSql {
    val D = 8
    val Steps = 8
    private def pairs: Seq[(Int, Int)] =
      for { i <- 1 to D; j <- i to D } yield (i, j)
    private def frozen(e: String, a: String): String =
      s"CAST(sum(CAST(round($e, 9) AS DECIMAL(28,9))) AS DOUBLE) AS $a"
    val momExprs: Seq[String] =
      Seq("CAST(count(*) AS BIGINT) AS n") ++
        (1 to D).map(i => frozen(s"x$i", s"s$i")) ++
        pairs.map { case (i, j) => frozen(s"x$i*x$j", s"s${i}_$j") }
    val covExprs: Seq[String] =
      Seq("n") ++ pairs.map { case (i, j) =>
        s"s${i}_$j/n - (s$i/n)*(s$j/n) AS c${i}_$j" }
    private val covCols: Seq[String] = pairs.map { case (i, j) => s"c${i}_$j" }
    val tvExprs: Seq[String] =
      Seq("n") ++ covCols ++
        Seq((1 to D).map(i => s"c${i}_$i").mkString(" + ") + " AS tv")
    private val carry: Seq[String] = Seq("n", "tv") ++ covCols
    val initExprs: Seq[String] =
      carry ++ (1 to D).map(i => s"1.0/sqrt(8.0) AS v$i")
    private def cref(i: Int, j: Int): String =
      if (i <= j) s"c${i}_$j" else s"c${j}_$i"
    val wStep: Seq[String] =
      carry ++ (1 to D).map(i =>
        (1 to D).map(j => s"${cref(i, j)}*v$j").mkString(" + ") + s" AS w$i")
    private val normTxt: String =
      "sqrt(" + (1 to D).map(i => s"w$i*w$i").mkString(" + ") + ")"
    def vStep(last: Boolean): Seq[String] =
      carry ++ (1 to D).map(i => s"w$i/$normTxt AS v$i") ++
        (if (last) Seq(s"$normTxt AS lam") else Nil)
    val finalExprs: Seq[String] =
      Seq("n AS n_vecs", "round(tv, 6) AS total_var", "round(lam, 6) AS lambda1",
        "round(lam/tv, 6) AS explained") ++
        (1 to D).map(i => s"round(v$i, 6) AS v$i")
    val oracle: String = {
      val sb = new StringBuilder
      sb ++= "WITH xs AS (SELECT "
      sb ++= (1 to D).map(i => s"CAST(embedding[$i] AS DOUBLE) AS x$i").mkString(", ")
      sb ++= " FROM embeddings),\n"
      sb ++= s"mom AS (SELECT ${momExprs.mkString(", ")} FROM xs),\n"
      sb ++= s"cov0 AS (SELECT ${covExprs.mkString(", ")} FROM mom),\n"
      sb ++= s"cov AS (SELECT ${tvExprs.mkString(", ")} FROM cov0),\n"
      sb ++= s"it0 AS (SELECT ${initExprs.mkString(", ")} FROM cov)"
      var prev = "it0"
      for (k <- 1 to Steps) {
        sb ++= s",\nsw$k AS (SELECT ${wStep.mkString(", ")} FROM $prev)"
        sb ++= s",\nsv$k AS (SELECT ${vStep(last = k == Steps).mkString(", ")} FROM sw$k)"
        prev = s"sv$k"
      }
      sb ++= s"\nSELECT ${finalExprs.mkString(", ")} FROM $prev"
      sb.toString
    }
  }

  /** Achlioptas-style +-1 projection signs, md5-seeded so both engines
    * embed the SAME 64x16 matrix as literals: sign(i,j) = +1 iff the
    * first byte of md5("rp#i#j") < 128. Column-major: RpSigns(j)(i). */
  private lazy val RpSigns: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 16).map { j =>
      (0 until 64).map { i =>
        md.reset()
        val d = md.digest(s"rp#$i#$j".getBytes("UTF-8"))
        if ((d(0) & 0xff) < 128) 1.0 else -1.0
      }
    }
  }
}
