package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.LocalFs
import graft.core.Tables.{apply => t}

/** Full-breadth gold MV pipelines (SURVEY.md §3.2). The reference's
  * `firs_mv.sql:40-229` composes ~20 correlated scalar subqueries over a
  * dozen child tables; `accuseds_mv.sql:132-136` is the per-child-row MV
  * with an INNER join on the AI flat table; `advanced_search_firs_mv.sql`
  * is the flat per-parent search surface. The Spark-first rewrite
  * decorrelates every child subquery into ONE pre-grouped aggregate per
  * child role and left-joins them on the parent key — no per-row
  * subqueries, one scan per child role, broadcast sub-lookup dims.
  *
  * Testdata mapping: `orders` = crimes (parent), `customer`⋈`nation` =
  * hierarchy, `lineitem` plays the four child roles (accused_flat,
  * drug_flat, chargesheets, files — each role is one scan, mirroring the
  * reference's one-scan-per-child-table), `part`/`supplier` are the
  * per-child sub-lookup dims (persons / drug master).
  *
  * Scale: each child aggregate shuffles once on the parent FK with
  * map-side partial aggregation; the final assembly joins on the same
  * key so AQE coalesces exchanges; dims are broadcast. All JSON is
  * assembled as deterministic strings (sorted, byte-stable) so the gold
  * rows are reproducible across engines and runs.
  */
object GoldMvFull {

  /** Deterministic "today" for the stipulated-period buckets — the
    * reference uses now() (firs_mv.sql:26-33); a gold build pins the
    * evaluation date so refreshes are reproducible. */
  private val Anchor = "1998-06-30"

  /** mv_accuseds_incremental snapshots gold v1 to parquet only when the
    * lineitem files hold at least this many bytes (see that query). */
  private val SnapshotMinFactBytes = 512L * 1024 * 1024

  private val QtyDisplaySql =
    """CASE WHEN %1$s >= 100
      |     THEN CAST(CAST(CAST(%1$s AS DECIMAL(15,2)) / 100 AS DECIMAL(18,2)) AS VARCHAR) || ' H units'
      |     WHEN %1$s > 0 THEN CAST(%1$s AS VARCHAR) || ' units'
      |     ELSE 'N/A' END""".stripMargin

  /** Ordered JSON-array rollup: collect (sortKeys..., js) structs, sort,
    * project the rendered object, join. The js string is the final sort
    * field, so ties on the declared keys stay deterministic (l_linenumber
    * is NOT unique within an order in the testdata). Oracle equivalent:
    * string_agg(js, ',' ORDER BY keys..., js). */
  private def jsonArrOrdered(sortKeys: Seq[Column], js: Column): Column = {
    val fields = sortKeys.zipWithIndex.map { case (c, i) => c.as(s"k$i") } :+ js.as("js")
    // native render (round-12): sort + project + join in one codegen'd
    // pass — the array_sort/transform/array_join battery evaluated
    // interpreted once per group (SortedRenderSpec pins equivalence)
    graft.functions.SortedRender.keyed_json_arr(collect_list(struct(fields: _*)))
  }

  /** DISTINCT JSON-array rollup, sorted by the rendered string (binary
    * order both engines; values are ASCII). */
  private def jsonArrDistinct(js: Column): Column =
    graft.functions.SortedRender.sorted_json_arr(collect_set(js))

  /** Full-breadth firs_mv build over caller-supplied parent/fact frames:
    * the QueryDef passes the raw tables; incremental refresh passes
    * key-restricted (and possibly updated) frames, which prunes the
    * parent scan and ALL FOUR child-role aggregates to the changed keys
    * (the lineitem frame feeds every child role, so one semi-join
    * restriction bounds them all).
    */
  /** @param childCap 0 = unlimited (the reference MV materializes every
    *   child). > 0 = SKEW GUARD (round-10): cap each parent's child array
    *   at the `childCap` smallest children by the full child-struct order
    *   (deterministic, oracle-expressible as a row_number), and surface
    *   `n_children_total` / `n_children_overflow` so a consumer can see
    *   the truncation. The capped assembly is TWO-PHASE SALTED: phase 1
    *   groups on (parent, salt) and keeps each salt-group's top-K, phase 2
    *   merges ≤ SALT×K structs per parent — so a mega-parent (the
    *   reference's plausible skew case, SURVEY §4) spreads its children
    *   across SALT tasks instead of funnelling 10⁵+ structs into one
    *   collect_list task. Every task's input is bounded: phase-1 groups
    *   hold ~|children|/SALT rows, phase 2 holds ≤ SALT×K. */
  def buildFirsFull(
      s: SparkSession,
      dir: String,
      orders: DataFrame,
      li: DataFrame,
      childCap: Int = 0): DataFrame = {
      val part = broadcast(t(s, dir, "part").select("p_partkey", "p_brand", "p_name"))
      val supp = broadcast(t(s, dir, "supplier").select("s_suppkey", "s_name"))
      // keyed fan-out on the PARENT key (round-12, was round-robin
      // bySize): the groupBy below reuses the exchange, so the
      // collect_list runs as one complete aggregate instead of a partial
      // ObjectHashAggregate repack + second exchange; still a size-gated
      // no-op at scale. (r11's bySize predated the native rollup, when
      // heavy per-row rendering sat pre-exchange; after FirsRollup the
      // pre-exchange work is just the struct build.) The CAPPED variant
      // keeps the round-robin fan-out: hash(l_orderkey) alone satisfies
      // the salted phase-1 (l_orderkey, salt) distribution, so a keyed
      // exchange would co-locate a mega-parent's whole child set on one
      // task — exactly what the salt exists to prevent.
      val liW =
        if (childCap <= 0)
          graft.core.Fanout.keyed(s, li, dir, Seq(col("l_orderkey")), "lineitem")
        else graft.core.Fanout.bySize(s, li, dir, "lineitem")

      // ONE lineitem scan feeds all four child roles. The dims come in as
      // broadcast LEFT joins (null-guarded below), so per-role membership
      // exactly mirrors the reference's per-role scans — accused/documents
      // see every row, drug_flat only part-joined rows, chargesheets only
      // supplier⋈part-joined rows — even on FK-orphaned data. One shuffle
      // (the parent-key collect_list) replaces the three per-role
      // shuffles: per-parent fan-in is bounded (the MV row materializes
      // every child anyway), so the per-order rollups run in array-land
      // on ~|children| elements with no further exchange.
      val enriched = liW
        .join(part, col("l_partkey") === col("p_partkey"), "left")
        .join(supp, col("l_suppkey") === col("s_suppkey"), "left")
        .select(col("l_orderkey"), struct(
          col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"),
          col("l_suppkey").as("sk"),
          col("l_returnflag").as("rf"),
          col("l_linestatus").as("ls"),
          col("l_quantity").cast("long").as("qty"),
          col("p_brand").as("brand"),
          col("p_name").as("pname"),
          col("s_name").as("sname")).as("it"))
      val grouped =
        if (childCap <= 0)
          enriched.groupBy(col("l_orderkey"))
            .agg(collect_list(col("it")).as("items"))
        else {
          // two-phase salted cap (see scaladoc): salt on the child-struct
          // hash (deterministic; duplicate structs co-locate, which only
          // concentrates identical rows — the global top-K is unaffected
          // because phase 1 keeps K per salt group and the K smallest of
          // the per-group K-smallest IS the global K smallest)
          val SaltN = 16
          val salted = enriched
            .withColumn("salt", pmod(xxhash64(col("it")), lit(SaltN)))
            .groupBy(col("l_orderkey"), col("salt"))
            // native bottom-K (round-12): slice(array_sort(x), 1, K) ran
            // two interpreted expression evals per (parent, salt) group —
            // ~|fact| groups in phase 1 (SortedRenderSpec pins equivalence)
            .agg(graft.functions.SortedRender
              .bottom_k(collect_list(col("it")), childCap).as("part_items"),
              count(lit(1)).as("cnt"))
          salted.groupBy(col("l_orderkey"))
            .agg(
              graft.functions.SortedRender
                .bottom_k(flatten(collect_list(col("part_items"))), childCap)
                .as("items"),
              sum(col("cnt")).as("n_children_total"))
        }

      // -- child roles 1-4 in ONE native pass (round-12, guide "expressions
      // and codegen"): the previous formulation ran ~15 higher-order
      // `transform`/`filter`/`aggregate` lambdas over the collected array
      // — HOF lambdas evaluate interpreted even inside codegen stages, and
      // the two-level rollups (drug pairs, chargesheet suppliers) re-scanned
      // the array once per distinct pair/supplier per row. FirsRollup
      // renders every child-derived field in one O(items log items) JVM
      // pass per parent (the dd2 MinHashSig precedent); field-by-field
      // equality with the HOF battery is pinned by GoldRenderSpec and the
      // mv_* oracle rows.
      val items = col("items")
      val r = graft.functions.FirsRollup.firs_child_rollup(items)
      val capCols = if (childCap <= 0) Seq.empty[Column] else Seq(
        col("n_children_total"),
        (col("n_children_total") - col("r.n_accused")).cast("long")
          .as("n_children_overflow"))
      val liAgg = grouped.withColumn("r", r).select(Seq(
        col("l_orderkey"),
        col("r.n_accused").as("n_accused"),
        col("r.conviction_count").as("conviction_count"),
        col("r.acquittal_count").as("acquittal_count"),
        col("r.total_disposals").as("total_disposals"),
        col("r.qty_tot").as("qty_tot"),
        col("r.accused_details").as("accused_details"),
        col("r.disposal_counts").as("disposal_counts"),
        col("r.documents").as("documents"),
        col("r.drug_type").as("drug_type"),
        col("r.drug_with_quantity").as("drug_with_quantity"),
        col("r.chargesheets").as("chargesheets"),
        col("r.associates").as("associates"))
        ++ capCols: _*)

      // parent assembly: one orders scan, broadcast hierarchy dims, ONE
      // left join on the parent key for the fused child aggregate.
      val isComm = col("o_orderpriority") === "1-URGENT"
      val days = datediff(lit(Anchor).cast("date"), col("o_orderdate"))
      val stip = when(isComm,
        when(days <= 180, "Within Limit (180 Days)")
          .otherwise("Overdue (Beyond 180 Days)"))
        .otherwise(when(days <= 60, "Within Limit (60 Days)")
          .otherwise("Overdue (Beyond 60 Days)"))
      val due = date_format(
        date_add(to_date(col("o_orderdate")), when(isComm, 180).otherwise(60)),
        "yyyy-MM-dd")
      val irDoc = concat(
        lit("{\"physical\":{\"id\":"), col("o_orderkey"),
        lit(",\"status\":\""), col("o_orderstatus"),
        lit("\",\"priority\":\""), col("o_orderpriority"),
        lit("\"},\"socio\":{\"name\":\""), col("c_name"),
        lit("\",\"segment\":\""), col("c_mktsegment"),
        lit("\",\"nation\":\""), col("n_name"),
        lit("\"},\"associateDetails\":"), coalesce(col("associates"), lit("[]")),
        lit("}"))

      val capOut = if (childCap <= 0) Seq.empty[Column] else Seq(
        coalesce(col("n_children_total"), lit(0L)).as("n_children_total"),
        coalesce(col("n_children_overflow"), lit(0L)).as("n_children_overflow"))
      orders
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(liAgg, col("o_orderkey") === liAgg("l_orderkey"), "left")
        .select(Seq(
          col("o_orderkey").as("id"),
          col("n_name").as("unit"),
          col("c_name").as("ps"),
          year(col("o_orderdate")).as("fir_year"),
          col("o_orderpriority").as("section"),
          col("o_orderstatus").as("case_status"),
          isComm.as("is_commercial"),
          stip.as("stipulated_period"),
          due.as("due_date"),
          coalesce(col("n_accused"), lit(0L)).as("n_accused"),
          coalesce(col("accused_details"), lit("[]")).as("accused_details"),
          coalesce(col("drug_type"), lit("[]")).as("drug_type"),
          coalesce(col("drug_with_quantity"), lit("[]")).as("drug_with_quantity"),
          GoldMv.qtyDisplay(coalesce(col("qty_tot"), lit(0L))).as("qty_display"),
          coalesce(col("conviction_count"), lit(0L)).as("conviction_count"),
          coalesce(col("acquittal_count"), lit(0L)).as("acquittal_count"),
          coalesce(col("total_disposals"), lit(0L)).as("total_disposals"),
          coalesce(col("disposal_counts"), lit("{}")).as("disposal_counts"),
          coalesce(col("chargesheets"), lit("[]")).as("chargesheets"),
          coalesce(col("documents"), lit("[]")).as("documents"),
          irDoc.as("ir_doc")) ++ capOut: _*)
  }

  /** Per-accused (child-grain) gold build over caller-supplied frames.
    *
    * `liChild` feeds the child rows and the per-crime rollups; `liHistory`
    * feeds the per-person history aggregate (noOfCrimes +
    * previouslyInvolvedCases). They are separate because the history is
    * NOT parent-local: a person's history spans every crime they appear
    * in, so an incremental refresh must pass the FULL v2 fact table as
    * `liHistory` while restricting `liChild` to the changed-parent slice —
    * and must expand the changed-key set through the person graph
    * (crimes of any person seen in a directly-changed crime), or rows in
    * untouched crimes keep stale history (GoldIncrementalSpec proves the
    * divergence and the fix).
    */
  def buildAccuseds(
      s: SparkSession,
      dir: String,
      liChild: DataFrame,
      liHistory: DataFrame): DataFrame = {
      val part = broadcast(t(s, dir, "part"))
      // fan the child-role fact rows out before their pre-exchange work
      // (per-row JSON render + partial aggs) — size-gated no-op at scale
      val liChildW = graft.core.Fanout.bySize(s, liChild, dir, "lineitem")

      // decorrelated per-person history (accuseds_mv noOfCrimes +
      // previouslyInvolvedCases): dedup (person, crime) PAIRS first, so
      // the group aggregate is a plain count + sorted collect_list — no
      // countDistinct expansion, no per-group set dedup, and the first
      // shuffle carries two longs instead of rendered JSON.
      // fanned out before the partial distinct (one-row-group scans run
      // it on a single task), and the person-keyed exchange feeding the
      // render groupBy is pinned to session parallelism — AQE's byte-based
      // coalescing shrank this CPU-heavy JSON rollup to 5 tasks. Both are
      // size-gated no-ops at scale.
      val pairs = graft.core.Fanout.keyed(s,
        graft.core.Fanout.bySize(s,
          liHistory.select(col("l_suppkey"), col("l_orderkey")), dir, "lineitem")
          .distinct(),
        dir, Seq(col("l_suppkey")), "lineitem")
      val crimeJs = concat(lit("{\"crimeId\":"), col("l_orderkey"),
        lit(",\"firNumber\":\"FIR-"), col("l_orderkey"), lit("\"}"))
      val personAgg = pairs.groupBy(col("l_suppkey").as("pa_key")).agg(
        count(lit(1)).as("no_of_crimes"),
        graft.functions.SortedRender.sorted_json_arr(collect_list(crimeJs))
          .as("previously_involved"))

      // decorrelated per-crime rollups (drugWithQuantity is PER-ROW
      // formatted and created_at-ordered in accuseds_mv — no sum — unlike
      // firs_mv's two-level rollup; disposalDetails is DISTINCT).
      val perRowQty = when(col("l_quantity").cast("long") >= 10,
        concat(col("l_quantity").cast("long").cast("string"), lit(" Units")))
        .when(col("l_quantity").cast("long") > 0,
          concat((col("l_quantity").cast("long") * 1000).cast("string"), lit(" mg")))
        .otherwise("N/A")
      val drugJs = concat(lit("{\"name\":\""), col("p_brand"),
        lit("\",\"quantity\":\""), perRowQty,
        lit("\",\"worth\":"), floor(col("l_extendedprice")).cast("long"), lit("}"))
      val dispJs = when(col("l_linestatus") === "F",
        concat(lit("{\"disposalType\":\""), col("l_returnflag"), lit("\"}")))
      // restricted to the kept parent slice BEFORE aggregating: the final
      // LEFT join only probes %8=1 keys, so rolling up the other 7/8 of
      // the orders is pure waste (the oracle's unrestricted CTE reads the
      // same because unmatched ca_keys drop out of its left join too).
      val crimeAgg = graft.core.Fanout.keyed(s,
        liChildW.filter(col("l_orderkey") % 8 === 1)
          .join(part, col("l_partkey") === col("p_partkey")),
        dir, Seq(col("l_orderkey")), "lineitem")
        .groupBy(col("l_orderkey").as("ca_key"))
        .agg(
          jsonArrOrdered(Seq(col("l_shipdate"), col("l_linenumber"), col("l_partkey")),
            drugJs).as("drug_with_quantity"),
          jsonArrDistinct(dispJs).as("disposal_details"))

      // INNER chain: AI row ⋈ crime ⋈ hierarchy (the accuseds_mv contrast:
      // rows exist only where the AI table has them); persons is the LEFT
      // sub-lookup with deterministic gaps (every 7th person missing).
      val persons = t(s, dir, "supplier").filter(col("s_suppkey") % 7 =!= 0)
      // join order minimizes BYTES exchanged, not join count: personAgg's
      // previously_involved is a ~crimes-per-person-sized rendered JSON
      // (tens of KB per person) — joining it FIRST attached that string to
      // every child row and then pushed it through the orderkey exchange
      // (measured 4.3× wall-clock at 2× data: the shuffled volume, child
      // rows × person-history size, grows with both factors). Now both
      // orderkey-keyed joins ride the light child rows, the suppkey
      // exchange carries only slim child attrs, and the person strings
      // move exactly once — in personAgg's own person-count-bounded
      // exchange, straight into the final projection.
      liChildW.filter(col("l_orderkey") % 8 === 1)
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(crimeAgg, col("l_orderkey") === col("ca_key"), "left")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(personAgg, col("l_suppkey") === col("pa_key"), "left")
        // no hint: the persons master grows with the corpus (unlike
        // nation/region-style dims) — AQE broadcasts it while small
        .join(persons, col("l_suppkey") === col("s_suppkey"), "left")
        .select(
          concat(lit("A-"), col("l_orderkey"), lit("-"), col("l_linenumber"),
            lit("-"), col("l_partkey")).as("accused_code"),
          col("l_orderkey").as("crime_id"),
          concat(lit("FIR-"), col("l_orderkey")).as("fir_number"),
          col("n_name").as("unit"),
          col("c_name").as("ps"),
          col("o_orderstatus").as("case_status"),
          col("o_orderpriority").as("case_classification"),
          // rendered as non-null strings: a nullable numeric column would
          // hash differently across engines (pandas NaN repr)
          coalesce(col("s_suppkey").cast("string"), lit("")).as("person_id"),
          coalesce(col("s_name"), lit("")).as("person_name"),
          concat_ws(", ", col("s_name"), col("s_nationkey").cast("string"))
            .as("present_address"),
          coalesce(col("no_of_crimes"), lit(0L)).as("no_of_crimes"),
          coalesce(col("previously_involved"), lit("[]")).as("previously_involved"),
          col("drug_with_quantity"),
          col("disposal_details"))
  }

  /** firs_mv rebuild SQL with parameterized fact/parent relation names,
    * so the incremental row can aim the SAME rebuild at v2 CTEs and
    * hash-compare incremental maintenance against a from-scratch build. */
  private def firsOracleSql(extraCtes: String, li: String, ord: String): String = s"""
        WITH ${extraCtes}li_acc0 AS (
          SELECT l_orderkey, l_linenumber, l_partkey,
                 '{"personCode":"L-' || l_linenumber || '","partId":' || l_partkey || ',"status":"' ||
                 CASE WHEN l_returnflag = 'R' THEN 'Returned'
                      WHEN l_returnflag = 'A' THEN 'Adjusted'
                      WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN 'Open'
                      ELSE 'Unknown' END || '"}' AS js,
                 CASE WHEN l_linestatus = 'F' AND l_returnflag = 'R' THEN 1 ELSE 0 END AS conv,
                 CASE WHEN l_linestatus = 'F' AND l_returnflag = 'A' THEN 1 ELSE 0 END AS acq,
                 CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS disp,
                 CASE WHEN l_linestatus = 'F' THEN l_returnflag END AS disp_flag,
                 CAST(l_quantity AS BIGINT) AS qty
          FROM $li
        ),
        li_agg AS (
          SELECT l_orderkey,
                 COUNT(*) AS n_accused,
                 CAST(SUM(conv) AS BIGINT) AS conviction_count,
                 CAST(SUM(acq) AS BIGINT) AS acquittal_count,
                 CAST(SUM(disp) AS BIGINT) AS total_disposals,
                 CAST(SUM(qty) AS BIGINT) AS qty_tot,
                 '[' || COALESCE(string_agg(js, ',' ORDER BY l_linenumber, l_partkey, js), '') || ']' AS accused_details
          FROM li_acc0 GROUP BY l_orderkey
        ),
        disp_counts AS (
          SELECT l_orderkey,
                 '{' || COALESCE(string_agg('"' || disp_flag || '":' || n, ',' ORDER BY disp_flag), '') || '}' AS disposal_counts
          FROM (SELECT l_orderkey, disp_flag, COUNT(*) AS n FROM li_acc0
                WHERE disp_flag IS NOT NULL GROUP BY 1, 2)
          GROUP BY l_orderkey
        ),
        drug1 AS (
          SELECT l_orderkey AS d_okey, p_brand, l_returnflag AS d_form,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qsum
          FROM $li JOIN part ON l_partkey = p_partkey
          WHERE p_brand <> 'Brand#17'
          GROUP BY 1, 2, 3
        ),
        drug2 AS (
          SELECT d_okey, p_brand, d_form,
                 '{"name":"' || p_brand || '","form":"' || d_form || '","quantity":"' ||
                 ${QtyDisplaySql.format("qsum")} || '"}' AS js
          FROM drug1
        ),
        drug_agg AS (
          SELECT d_okey,
                 '[' || COALESCE(string_agg(DISTINCT '"' || upper(p_brand) || '"', ',' ORDER BY '"' || upper(p_brand) || '"'), '') || ']' AS drug_type,
                 '[' || COALESCE(string_agg(js, ',' ORDER BY p_brand, d_form, js), '') || ']' AS drug_with_quantity
          FROM drug2 GROUP BY d_okey
        ),
        cs0 AS (
          SELECT l_orderkey AS c_okey, l_suppkey, s_name, l_linenumber, l_partkey,
                 '{"partkey":' || l_partkey || ',"name":"' || p_name || '","qty":' || CAST(l_quantity AS BIGINT) || '}' AS js,
                 '{"personId":' || l_partkey || ',"value":"' || p_name || '","chargeStatus":"' ||
                 CASE WHEN l_returnflag = 'R' THEN 'Charged'
                      WHEN l_returnflag = 'A' THEN 'Dropped'
                      ELSE 'Pending' END || '"}' AS js2
          FROM $li
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN part ON l_partkey = p_partkey
        ),
        cs1 AS (
          SELECT c_okey, l_suppkey, s_name,
                 '[' || string_agg(js, ',' ORDER BY l_linenumber, l_partkey, js) || ']' AS acts,
                 '[' || string_agg(DISTINCT js2, ',' ORDER BY js2) || ']' AS accuseds
          FROM cs0 GROUP BY 1, 2, 3
        ),
        cs_agg AS (
          SELECT c_okey,
                 '[' || string_agg('{"id":' || l_suppkey || ',"value":"' || s_name || '","acts":' || acts || ',"accuseds":' || accuseds || '}', ',' ORDER BY l_suppkey) || ']' AS chargesheets,
                 '[' || string_agg('{"id":' || l_suppkey || ',"value":"' || s_name || '"}', ',' ORDER BY l_suppkey) || ']' AS associates
          FROM cs1 GROUP BY c_okey
        ),
        docs0 AS (
          SELECT l_orderkey AS f_okey,
                 '{"filePath":"/files/' || l_partkey || '.pdf","type":"FIR_COPY","isDownloaded":false}' AS js
          FROM $li WHERE l_returnflag = 'R'
          UNION ALL
          SELECT l_orderkey,
                 '{"filePath":"/generated/chargesheets/' || l_suppkey || '/' || l_partkey || '","type":"CHARGESHEET_FILE","isDownloaded":true}'
          FROM $li WHERE l_linestatus = 'O'
        ),
        docs_agg AS (
          SELECT f_okey, '[' || string_agg(DISTINCT js, ',' ORDER BY js) || ']' AS documents
          FROM docs0 GROUP BY f_okey
        )
        SELECT o.o_orderkey AS id,
               n.n_name AS unit,
               c.c_name AS ps,
               CAST(year(o.o_orderdate) AS INTEGER) AS fir_year,
               o.o_orderpriority AS section,
               o.o_orderstatus AS case_status,
               (o.o_orderpriority = '1-URGENT') AS is_commercial,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN
                      CASE WHEN date_diff('day', o.o_orderdate::DATE, DATE '$Anchor') <= 180
                           THEN 'Within Limit (180 Days)' ELSE 'Overdue (Beyond 180 Days)' END
                    ELSE
                      CASE WHEN date_diff('day', o.o_orderdate::DATE, DATE '$Anchor') <= 60
                           THEN 'Within Limit (60 Days)' ELSE 'Overdue (Beyond 60 Days)' END
               END AS stipulated_period,
               strftime(o.o_orderdate::DATE + CASE WHEN o.o_orderpriority = '1-URGENT' THEN 180 ELSE 60 END, '%Y-%m-%d') AS due_date,
               COALESCE(a.n_accused, 0) AS n_accused,
               COALESCE(a.accused_details, '[]') AS accused_details,
               COALESCE(d.drug_type, '[]') AS drug_type,
               COALESCE(d.drug_with_quantity, '[]') AS drug_with_quantity,
               ${QtyDisplaySql.format("COALESCE(a.qty_tot, 0)")} AS qty_display,
               COALESCE(a.conviction_count, 0) AS conviction_count,
               COALESCE(a.acquittal_count, 0) AS acquittal_count,
               COALESCE(a.total_disposals, 0) AS total_disposals,
               COALESCE(dc.disposal_counts, '{}') AS disposal_counts,
               COALESCE(cs.chargesheets, '[]') AS chargesheets,
               COALESCE(f.documents, '[]') AS documents,
               '{"physical":{"id":' || o.o_orderkey || ',"status":"' || o.o_orderstatus ||
                 '","priority":"' || o.o_orderpriority ||
                 '"},"socio":{"name":"' || c.c_name || '","segment":"' || c.c_mktsegment ||
                 '","nation":"' || n.n_name ||
                 '"},"associateDetails":' || COALESCE(cs.associates, '[]') || '}' AS ir_doc
        FROM $ord o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN li_agg a ON o.o_orderkey = a.l_orderkey
        LEFT JOIN disp_counts dc ON o.o_orderkey = dc.l_orderkey
        LEFT JOIN drug_agg d ON o.o_orderkey = d.d_okey
        LEFT JOIN cs_agg cs ON o.o_orderkey = cs.c_okey
        LEFT JOIN docs_agg f ON o.o_orderkey = f.f_okey
      """

  /** accuseds_mv rebuild SQL with a parameterized fact relation, for the
    * incremental row (same pattern as firsOracleSql). */
  private def accusedsOracleSql(extraCtes: String, li: String): String = s"""
        WITH ${extraCtes}person_agg AS (
          SELECT l_suppkey AS pa_key,
                 COUNT(DISTINCT l_orderkey) AS no_of_crimes,
                 '[' || string_agg(DISTINCT '{"crimeId":' || l_orderkey || ',"firNumber":"FIR-' || l_orderkey || '"}',
                                   ',' ORDER BY '{"crimeId":' || l_orderkey || ',"firNumber":"FIR-' || l_orderkey || '"}') || ']' AS previously_involved
          FROM $li GROUP BY l_suppkey
        ),
        crime0 AS (
          SELECT l.l_orderkey, l.l_shipdate, l.l_linenumber, l.l_partkey,
                 '{"name":"' || p.p_brand || '","quantity":"' ||
                 CASE WHEN CAST(l.l_quantity AS BIGINT) >= 10 THEN CAST(CAST(l.l_quantity AS BIGINT) AS VARCHAR) || ' Units'
                      WHEN CAST(l.l_quantity AS BIGINT) > 0 THEN CAST(CAST(l.l_quantity AS BIGINT) * 1000 AS VARCHAR) || ' mg'
                      ELSE 'N/A' END ||
                 '","worth":' || CAST(floor(l.l_extendedprice) AS BIGINT) || '}' AS drug_js,
                 CASE WHEN l.l_linestatus = 'F'
                      THEN '{"disposalType":"' || l.l_returnflag || '"}' END AS disp_js
          FROM $li l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        crime_agg AS (
          SELECT l_orderkey AS ca_key,
                 '[' || COALESCE(string_agg(drug_js, ',' ORDER BY l_shipdate, l_linenumber, l_partkey, drug_js), '') || ']' AS drug_with_quantity,
                 '[' || COALESCE(string_agg(DISTINCT disp_js, ',' ORDER BY disp_js), '') || ']' AS disposal_details
          FROM crime0 GROUP BY l_orderkey
        )
        SELECT 'A-' || l.l_orderkey || '-' || l.l_linenumber || '-' || l.l_partkey AS accused_code,
               l.l_orderkey AS crime_id,
               'FIR-' || l.l_orderkey AS fir_number,
               n.n_name AS unit,
               c.c_name AS ps,
               o.o_orderstatus AS case_status,
               o.o_orderpriority AS case_classification,
               COALESCE(CAST(s.s_suppkey AS VARCHAR), '') AS person_id,
               COALESCE(s.s_name, '') AS person_name,
               concat_ws(', ', s.s_name, CAST(s.s_nationkey AS VARCHAR)) AS present_address,
               COALESCE(pa.no_of_crimes, 0) AS no_of_crimes,
               COALESCE(pa.previously_involved, '[]') AS previously_involved,
               ca.drug_with_quantity,
               ca.disposal_details
        FROM $li l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_suppkey % 7 <> 0
        LEFT JOIN person_agg pa ON l.l_suppkey = pa.pa_key
        LEFT JOIN crime_agg ca ON l.l_orderkey = ca.ca_key
        WHERE l.l_orderkey % 8 = 1
      """

  val defs: Seq[QueryDef] = Seq(

    // ---- firs_mv at full breadth -----------------------------------------
    QueryDef(
      "mv_firs_full",
      "Full-breadth firs_mv gold row: 18 child aggregates over 4 child roles (accused list w/ status normalization, 2-level drug rollup, nested chargesheets w/ sub-lookups, UNION-ALL document list, disposal counters, ||-merged IR mega-doc) — firs_mv.sql:40-229",
      Some(firsOracleSql("", "lineitem", "orders"))) { (s, dir) =>
      buildFirsFull(s, dir, t(s, dir, "orders"), t(s, dir, "lineitem"))
    },

    // ---- firs_mv with the per-parent skew guard (round-10) ----------------
    // Same MV at childCap=4: every child-role aggregate reads only each
    // parent's 4 smallest children by the canonical child-struct order
    // (deterministic => expressible as the oracle's row_number), plus true
    // n_children_total / n_children_overflow so consumers see the cut. The
    // engine side assembles via the two-phase salted groupBy, so a
    // mega-parent spreads across 16 tasks instead of one straggler
    // collect_list (GoldSkewSpec plants a 100k-child parent and pins the
    // salted plan shape).
    QueryDef(
      "mv_firs_capped",
      "firs_mv with the per-parent child cap engaged (childCap=4): all child rollups over each parent's 4 canonically-smallest children via two-phase salted assembly (no single-task mega-parent collect), plus true child totals and overflow counts",
      Some(s"""
        WITH enr AS (
          SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
                 l.l_returnflag, l.l_linestatus, l.l_quantity,
                 row_number() OVER (
                   PARTITION BY l.l_orderkey
                   ORDER BY l.l_linenumber, l.l_partkey, l.l_suppkey,
                            l.l_returnflag, l.l_linestatus,
                            CAST(l.l_quantity AS BIGINT),
                            p.p_brand ASC NULLS FIRST,
                            p.p_name ASC NULLS FIRST,
                            s.s_name ASC NULLS FIRST) AS rn
          FROM lineitem l
          LEFT JOIN part p ON l.l_partkey = p.p_partkey
          LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        ),
        totals AS (
          SELECT l_orderkey AS t_key, CAST(count(*) AS BIGINT) AS tot
          FROM lineitem GROUP BY 1
        )
        SELECT q.*,
               CAST(COALESCE(t.tot, 0) AS BIGINT) AS n_children_total,
               CAST(COALESCE(t.tot, 0) - LEAST(COALESCE(t.tot, 0), 4) AS BIGINT)
                 AS n_children_overflow
        FROM (
          ${firsOracleSql("""
        lineitem_capped AS (
          SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                 l_returnflag, l_linestatus, l_quantity
          FROM enr WHERE rn <= 4
        ),
        """, "lineitem_capped", "orders")}
        ) q LEFT JOIN totals t ON q.id = t.t_key
      """)) { (s, dir) =>
      buildFirsFull(s, dir, t(s, dir, "orders"), t(s, dir, "lineitem"),
        childCap = 4)
    },

    // ---- incremental gold refresh ≡ full rebuild (oracle-gated) ----------
    // The reference rebuilds its MVs from scratch 3×/day
    // (etl_refresh_views/views_refresh_sql.py:5-79, dedupe at
    // master_etl.py:212); the Spark-first engine maintains them
    // incrementally. This row PROVES refresh ≡ rebuild through the driver
    // gate: apply a deterministic change batch (parent deletes %101=5,
    // child-wipe deletes %97=3, quantity updates %89=7, new-line inserts
    // %93=11), splice ONLY the touched parents via GoldIncremental.refresh,
    // and hash-compare against DuckDB building v2 from scratch. The
    // recompute scans are semi-join-pruned to the changed keys, so at
    // 100 TB the refresh is O(changed parents), not O(fact table).
    QueryDef(
      "mv_firs_incremental",
      "Incremental firs_mv maintenance: deterministic change batch (deletes/updates/inserts), changed-parent-only recompute spliced over gold v1, hash-gated ≡ a from-scratch v2 rebuild — views_refresh_sql.py:5-79",
      Some(firsOracleSql("""
        lineitem_v2 AS (
          SELECT * REPLACE (CASE WHEN l_orderkey % 89 = 7 THEN l_quantity + 5 ELSE l_quantity END AS l_quantity)
          FROM lineitem WHERE l_orderkey % 101 <> 5 AND l_orderkey % 97 <> 3
          UNION ALL
          SELECT * REPLACE (l_linenumber + 100 AS l_linenumber, 'N' AS l_returnflag, 'O' AS l_linestatus)
          FROM lineitem
          WHERE l_orderkey % 101 <> 5 AND l_orderkey % 97 <> 3
            AND l_orderkey % 93 = 11 AND l_linenumber = 1
        ),
        orders_v2 AS (SELECT * FROM orders WHERE o_orderkey % 101 <> 5),
        """, "lineitem_v2", "orders_v2"))) { (s, dir) =>
      val liV1 = t(s, dir, "lineitem")
      val ordV1 = t(s, dir, "orders")
      // v2 state after the change batch (same four rules as the oracle CTEs)
      val kept = col("l_orderkey") % 101 =!= 5 && col("l_orderkey") % 97 =!= 3
      val liV2 = liV1.filter(kept)
        .withColumn("l_quantity",
          when(col("l_orderkey") % 89 === 7, col("l_quantity") + 5)
            .otherwise(col("l_quantity")))
        .unionByName(liV1
          .filter(kept && col("l_orderkey") % 93 === 11 && col("l_linenumber") === 1)
          .withColumn("l_linenumber", (col("l_linenumber") + 100).cast("int"))
          .withColumn("l_returnflag", lit("N"))
          .withColumn("l_linestatus", lit("O")))
      val ordV2 = ordV1.filter(col("o_orderkey") % 101 =!= 5)
      // gold v1 + the changed-parent key set (union of all four rules —
      // including the deleted parents, whose stale rows must drop)
      val goldPrev = buildFirsFull(s, dir, ordV1, liV1)
      val changed = ordV1.select(col("o_orderkey").as("id")).filter(
        col("id") % 101 === 5 || col("id") % 97 === 3 ||
          col("id") % 89 === 7 || col("id") % 93 === 11)
      graft.gold.GoldIncremental.refresh(goldPrev, changed, "id") { keys =>
        // semi-join the changed-key set into BOTH scans so the recompute
        // reads only the touched parents' facts. NO broadcast hint
        // (round-10): the change batch is a fixed FRACTION of the parents
        // (residue classes), so the key set grows with data — AQE
        // broadcasts it while it is actually small and falls back to a
        // shuffled join past the budget, instead of the hint forcing an
        // OOM at scale (the 100× canary caught exactly that in the
        // accuseds twin).
        val k = keys.select(col("id").as("ck"))
        buildFirsFull(s, dir,
          ordV2.join(k, col("o_orderkey") === col("ck"), "left_semi"),
          liV2.join(k, col("l_orderkey") === col("ck"), "left_semi"))
      }
    },


    // ---- accuseds_mv: per-child-row MV, INNER join on the AI table -------
    QueryDef(
      "mv_accuseds",
      "Per-accused gold row: INNER 4-way chain on the AI flat table (accuseds_mv.sql:132-136, contrast LEFT in advanced_search), nullable persons sub-lookup, decorrelated per-person crime counts + per-crime drug/disposal rollups",
      Some(accusedsOracleSql("", "lineitem"))) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      buildAccuseds(s, dir, li, li)
    },

    // ---- incremental accuseds refresh: the CROSS-PARENT dependency case --
    // mv_firs_incremental proves parent-local refresh; this row proves the
    // HARD case GoldIncrementalSpec only showed in spec: the per-person
    // history (noOfCrimes + previouslyInvolved) spans every crime a person
    // appears in, so the changed-key set must expand THROUGH THE PERSON
    // GRAPH — any crime sharing a person with a directly-changed crime
    // gets recomputed, or its rows keep stale history. The oracle rebuilds
    // v2 from scratch, so an under-expanded key set hash-fails.
    QueryDef(
      "mv_accuseds_incremental",
      "Incremental accuseds_mv maintenance with person-graph key expansion: child deletes/updates/inserts, changed crimes ∪ all crimes of their persons recomputed over the FULL v2 history, hash ≡ from-scratch v2 rebuild",
      Some(accusedsOracleSql("""
        lineitem_v2 AS (
          SELECT * REPLACE (CASE WHEN l_orderkey % 89 = 7 THEN l_quantity + 5 ELSE l_quantity END AS l_quantity)
          FROM lineitem WHERE l_orderkey % 97 <> 3
          UNION ALL
          SELECT * REPLACE (l_linenumber + 100 AS l_linenumber, 'N' AS l_returnflag, 'O' AS l_linestatus)
          FROM lineitem
          WHERE l_orderkey % 97 <> 3 AND l_orderkey % 93 = 11 AND l_linenumber = 1
        ),
        """, "lineitem_v2"))) { (s, dir) =>
      val liV1 = t(s, dir, "lineitem")
      val liV2 = liV1.filter(col("l_orderkey") % 97 =!= 3)
        .withColumn("l_quantity",
          when(col("l_orderkey") % 89 === 7, col("l_quantity") + 5)
            .otherwise(col("l_quantity")))
        .unionByName(liV1
          .filter(col("l_orderkey") % 97 =!= 3 &&
            col("l_orderkey") % 93 === 11 && col("l_linenumber") === 1)
          .withColumn("l_linenumber", (col("l_linenumber") + 100).cast("int"))
          .withColumn("l_returnflag", lit("N"))
          .withColumn("l_linestatus", lit("O")))
      // Gold v1 is a STORED table in production — the maintainer reads the
      // current gold from storage, it never re-derives it lazily. At scale
      // the query therefore SNAPSHOTS the v1 build to parquet and reads it
      // back (round-11): fidelity, and it lets the v1 build's shuffle
      // files be GC'd before the refresh runs. Without this, three fat-MV
      // spill sets coexist on disk for the whole query (v1 build, ~full
      // recompute — the person graph on this corpus expands to nearly
      // every parent — and the anti-join exchange), which at the 100×
      // canary exceeded the sandbox disk (ENOSPC, twice). The snapshot is
      // GATED on fact-table size (same adaptive discipline as the
      // anti-join's key budget): at sf0.1 the write+read+full-GC costs
      // ~10 s against a 2.8 s lazy plan whose spill fits trivially, so
      // small scales keep the lazy shape — measured both ways, PLANS.md
      // r11. Same wiped-at-start target/replay root as the streaming
      // maintainers: repeated runs keep exactly ONE copy.
      // Size probe goes through the Hadoop FileSystem API (the same one
      // the scan uses), not java.io.File — a java.io probe reads 0 on
      // any non-local store and would silently pin the lazy shape.
      def dirBytes(path: String): Long = {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      }
      val goldPrev =
        if (dirBytes(s"$dir/lineitem.parquet") < SnapshotMinFactBytes)
          buildAccuseds(s, dir, liV1, liV1)
        else {
          val snap = java.nio.file.Paths.get("target", "replay",
            "mv_accuseds_incr_v1").toString
          LocalFs.writer(buildAccuseds(s, dir, liV1, liV1)).mode("overwrite").parquet(snap)
          System.gc() // let ContextCleaner reclaim the build's shuffle files
          s.read.parquet(snap)
        }
      // direct keys: the three change rules; expanded: any crime of any
      // person seen in a directly-changed crime. The person set comes from
      // the UNION of v1 and v2 facts restricted to the direct keys — v1
      // alone would under-expand for a batch whose inserts introduce a NEW
      // person-crime edge (this batch's inserts happen to reuse existing
      // pairs, but the template must be sound for any batch). The crime
      // expansion then scans BOTH versions' facts for those persons: a
      // new edge makes v2 crimes of that person stale too.
      // NO broadcast hints (round-10): direct is a fixed FRACTION of the
      // parents, and the person-graph expansion multiplies it — at the
      // 100× canary the hinted broadcasts of these key sets OOMed a task.
      // AQE broadcasts them at runtime while they are actually small and
      // degrades to shuffled joins past the budget; the hint removed the
      // degrade path.
      val direct = liV1.select(col("l_orderkey"))
        .unionByName(liV2.select(col("l_orderkey"))).distinct().filter(
          col("l_orderkey") % 97 === 3 || col("l_orderkey") % 89 === 7 ||
            col("l_orderkey") % 93 === 11)
      val persons = liV1.select(col("l_orderkey"), col("l_suppkey"))
        .unionByName(liV2.select(col("l_orderkey"), col("l_suppkey")))
        .join(direct, Seq("l_orderkey"), "left_semi")
        .select(col("l_suppkey")).distinct()
      // MATERIALIZED TO PARQUET, not persist() (round-12, VERDICT r11
      // what's-wrong #2): the refresh consumes the key set three times
      // (budget count, gold anti-join, recompute semi-join) and lazily
      // each consumer re-ran the whole v1∪v2 person-graph expansion. A
      // .persist() computed it once but leaked one storage entry per
      // refresh invocation in a long-lived session (nothing ever
      // unpersists it — the refresh's output is lazy, so there is no
      // point inside this function where the blocks are safely done).
      // The spill file costs the same single computation, pins no
      // executor memory, and overwrites itself on every invocation (same
      // wiped target/replay root as the maintainers). The key set is
      // small by the refresh's own O(changed) contract.
      val expanded = graft.streaming.VersionedState.writeRead(
        liV1.select(col("l_orderkey"), col("l_suppkey"))
          .unionByName(liV2.select(col("l_orderkey"), col("l_suppkey")))
          .join(persons, Seq("l_suppkey"), "left_semi")
          .select(col("l_orderkey")).distinct()
          .unionByName(direct).distinct()
          .select(col("l_orderkey").as("crime_id")),
        java.nio.file.Paths.get("target", "replay",
          "mv_accuseds_incr_keys").toString)
      graft.gold.GoldIncremental.refresh(goldPrev, expanded, "crime_id") { keys =>
        val k = keys.select(col("crime_id").as("ck"))
        // child rows pruned to the expanded keys; the HISTORY side must
        // stay the FULL v2 fact table — a person's crime list spans
        // crimes outside the recompute slice
        buildAccuseds(s, dir,
          liV2.join(k, col("l_orderkey") === col("ck"), "left_semi"), liV2)
      }
    },

    // ---- advanced_search_firs_mv: flat per-parent search surface ---------
    QueryDef(
      "mv_advanced_search_firs",
      "Flat FIR search row: crimes⋈hierarchy only, stipulated-period CASE + due date + per-row drug details w/ worth (advanced_search_firs_mv.sql:60-84)",
      Some(s"""
        WITH drug0 AS (
          SELECT l.l_orderkey, l.l_shipdate, l.l_linenumber, l.l_partkey,
                 '{"name":"' || p.p_brand || '","quantity":"' ||
                 CASE WHEN CAST(l.l_quantity AS BIGINT) >= 10 THEN CAST(CAST(l.l_quantity AS BIGINT) AS VARCHAR) || ' Units'
                      WHEN CAST(l.l_quantity AS BIGINT) > 0 THEN CAST(CAST(l.l_quantity AS BIGINT) * 1000 AS VARCHAR) || ' mg'
                      ELSE 'N/A' END ||
                 '","worth":' || CAST(floor(l.l_extendedprice) AS BIGINT) || '}' AS js
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        drug_agg AS (
          SELECT l_orderkey AS da_key,
                 '[' || string_agg(js, ',' ORDER BY l_shipdate, l_linenumber, l_partkey, js) || ']' AS drug_details
          FROM drug0 GROUP BY l_orderkey
        )
        SELECT o.o_orderkey AS id,
               n.n_name AS unit,
               c.c_name AS ps,
               lower(c.c_name) AS search_ps,
               CAST(year(o.o_orderdate) AS INTEGER) AS fir_year,
               o.o_orderstatus AS case_status,
               o.o_orderpriority AS case_classification,
               (o.o_orderpriority = '1-URGENT') AS is_commercial,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN
                      CASE WHEN date_diff('day', o.o_orderdate::DATE, DATE '$Anchor') <= 180
                           THEN 'Within Limit (180 Days)' ELSE 'Overdue (Beyond 180 Days)' END
                    ELSE
                      CASE WHEN date_diff('day', o.o_orderdate::DATE, DATE '$Anchor') <= 60
                           THEN 'Within Limit (60 Days)' ELSE 'Overdue (Beyond 60 Days)' END
               END AS stipulated_period,
               strftime(o.o_orderdate::DATE + CASE WHEN o.o_orderpriority = '1-URGENT' THEN 180 ELSE 60 END, '%Y-%m-%d') AS due_date,
               COALESCE(d.drug_details, '[]') AS drug_details
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN drug_agg d ON o.o_orderkey = d.da_key
      """)) { (s, dir) =>
      // keyed fan-out on the group key (round-12, was round-robin): the
      // broadcast join preserves the partitioning, so the collect_list
      // groupBy reuses the exchange — one complete aggregate, no partial
      // repack + second exchange (size-gated no-op at scale)
      val li = graft.core.Fanout.keyed(s, t(s, dir, "lineitem"), dir,
        Seq(col("l_orderkey")), "lineitem")
      val part = broadcast(t(s, dir, "part"))
      val perRowQty = when(col("l_quantity").cast("long") >= 10,
        concat(col("l_quantity").cast("long").cast("string"), lit(" Units")))
        .when(col("l_quantity").cast("long") > 0,
          concat((col("l_quantity").cast("long") * 1000).cast("string"), lit(" mg")))
        .otherwise("N/A")
      val drugJs = concat(lit("{\"name\":\""), col("p_brand"),
        lit("\",\"quantity\":\""), perRowQty,
        lit("\",\"worth\":"), floor(col("l_extendedprice")).cast("long"), lit("}"))
      val drugAgg = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("da_key"))
        .agg(jsonArrOrdered(Seq(col("l_shipdate"), col("l_linenumber"), col("l_partkey")),
          drugJs).as("drug_details"))

      val isComm = col("o_orderpriority") === "1-URGENT"
      val days = datediff(lit(Anchor).cast("date"), col("o_orderdate"))
      val stip = when(isComm,
        when(days <= 180, "Within Limit (180 Days)")
          .otherwise("Overdue (Beyond 180 Days)"))
        .otherwise(when(days <= 60, "Within Limit (60 Days)")
          .otherwise("Overdue (Beyond 60 Days)"))
      val due = date_format(
        date_add(to_date(col("o_orderdate")), when(isComm, 180).otherwise(60)),
        "yyyy-MM-dd")

      graft.core.Fanout.bySize(s, t(s, dir, "orders"), dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(drugAgg, col("o_orderkey") === col("da_key"), "left")
        .select(
          col("o_orderkey").as("id"),
          col("n_name").as("unit"),
          col("c_name").as("ps"),
          lower(col("c_name")).as("search_ps"),
          year(col("o_orderdate")).as("fir_year"),
          col("o_orderstatus").as("case_status"),
          col("o_orderpriority").as("case_classification"),
          isComm.as("is_commercial"),
          stip.as("stipulated_period"),
          due.as("due_date"),
          coalesce(col("drug_details"), lit("[]")).as("drug_details"))
    },

    // ---- advanced_search_accuseds_mv at full breadth ----------------------
    // The per-accused search surface (advanced_search_accuseds_mv.sql:1-146):
    // child-row grain with a 5-way join - crime INNER, hierarchy INNER
    // (broadcast), persons LEFT with gaps, AI-flat LEFT with gaps - plus
    // COALESCE role/status with the bucket CASE over BOTH domains, both
    // address assemblies, the DISTINCT-upper-trim FILTER drugType array,
    // the ordered drugDetails JSON, and the stipulated-period/due-date
    // pair. One lineitem scan for the child rows, one for the two
    // per-crime drug aggregates (shared groupBy), all dims broadcast.
    QueryDef(
      "mv_advanced_search_full",
      "Per-accused search MV at full breadth: 5-way join w/ gapped LEFTs, coalesced role/status buckets, addresses, drugType + drugDetails, stipulated period (advanced_search_accuseds_mv.sql:1-146)",
      Some(s"""
        WITH acc AS (
          SELECT * FROM lineitem WHERE l_orderkey % 8 = 0
        ),
        drug0 AS (
          SELECT a.l_orderkey, a.l_shipdate, a.l_linenumber, a.l_partkey,
                 upper(trim(p.p_name)) AS drug_name,
                 (p.p_name NOT LIKE '%green%') AS keep,
                 '{"name":"' || p.p_brand || '","quantity":"' ||
                 CASE WHEN CAST(a.l_quantity AS BIGINT) >= 10 THEN CAST(CAST(a.l_quantity AS BIGINT) AS VARCHAR) || ' Units'
                      WHEN CAST(a.l_quantity AS BIGINT) > 0 THEN CAST(CAST(a.l_quantity AS BIGINT) * 1000 AS VARCHAR) || ' mg'
                      ELSE 'N/A' END ||
                 '","worth":' || CAST(floor(a.l_extendedprice) AS BIGINT) || '}' AS js
          FROM acc a JOIN part p ON a.l_partkey = p.p_partkey
        ),
        drug_agg AS (
          SELECT l_orderkey AS da_key,
                 '[' || string_agg(js, ',' ORDER BY l_shipdate, l_linenumber, l_partkey, js) || ']' AS drug_details,
                 list_sort(array_agg(DISTINCT drug_name) FILTER (WHERE keep)) AS dt
          FROM drug0 GROUP BY l_orderkey
        )
        SELECT a.l_orderkey AS crime_id, a.l_linenumber AS seq_num,
               a.l_orderkey * 10 + a.l_linenumber AS accused_code,
               a.l_quantity, a.l_discount, a.l_tax,
               a.l_returnflag, a.l_linestatus,
               COALESCE(bfa.p_brand, 'ROLE-' || a.l_returnflag) AS accused_role,
               CASE WHEN COALESCE(bfa.p_type, a.l_returnflag || '-' || a.l_linestatus) LIKE 'SMALL%'
                      OR COALESCE(bfa.p_type, a.l_returnflag || '-' || a.l_linestatus) LIKE 'MEDIUM%' THEN 'Contained'
                    WHEN COALESCE(bfa.p_type, a.l_returnflag || '-' || a.l_linestatus) LIKE 'LARGE%'
                      OR COALESCE(bfa.p_type, a.l_returnflag || '-' || a.l_linestatus) LIKE 'STANDARD%' THEN 'Bulk'
                    WHEN COALESCE(bfa.p_type, a.l_returnflag || '-' || a.l_linestatus) LIKE 'ECONOMY%' THEN 'Deferred'
                    WHEN COALESCE(bfa.p_type, a.l_returnflag || '-' || a.l_linestatus) LIKE 'PROMO%' THEN 'Direct'
                    WHEN COALESCE(bfa.p_type, a.l_returnflag || '-' || a.l_linestatus) LIKE 'R-%' THEN 'Returned'
                    WHEN COALESCE(bfa.p_type, a.l_returnflag || '-' || a.l_linestatus) = 'N-O' THEN 'Open'
                    ELSE 'Unknown' END AS accused_status,
               COALESCE(bfa.p_type, a.l_returnflag || '-' || a.l_linestatus) AS accused_status_raw,
               o.o_orderstatus AS case_status, o.o_orderpriority AS case_classification,
               o.o_totalprice AS case_worth,
               CAST(year(o.o_orderdate) AS INTEGER) AS fir_year,
               strftime(o.o_orderdate, '%Y-%m') AS fir_month,
               c.c_mktsegment AS ps_name, lower(c.c_name) AS search_ps,
               n.n_name AS dist_name, n.n_nationkey AS dist_code,
               r.r_name AS zone_name,
               p2.s_name AS person_name, lower(COALESCE(p2.s_name, 'unknown')) AS search_person,
               p2.s_acctbal AS person_balance, p2.s_nationkey AS person_nation,
               '+' || CAST(p2.s_nationkey AS VARCHAR) || '-' || CAST(p2.s_suppkey AS VARCHAR) AS person_phone,
               CASE WHEN p2.s_suppkey IS NULL THEN NULL
                    WHEN p2.s_suppkey % 13 = 0 THEN 'yes' ELSE 'no' END AS is_died,
               concat_ws(', ', NULLIF(p2.s_name, ''), NULLIF(n.n_name, ''),
                         NULLIF(c.c_mktsegment, '')) AS present_address,
               concat_ws(', ', NULLIF(upper(p2.s_name), ''), NULLIF(r.r_name, '')) AS permanent_address,
               CASE WHEN d.dt IS NULL OR len(d.dt) = 0 THEN '[]'
                    ELSE '["' || array_to_string(d.dt, '","') || '"]' END AS drug_type,
               COALESCE(d.drug_details, '[]') AS drug_details,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN
                      CASE WHEN date_diff('day', o.o_orderdate::DATE, DATE '$Anchor') <= 180
                           THEN 'Within Limit (180 Days)' ELSE 'Overdue (Beyond 180 Days)' END
                    ELSE
                      CASE WHEN date_diff('day', o.o_orderdate::DATE, DATE '$Anchor') <= 60
                           THEN 'Within Limit (60 Days)' ELSE 'Overdue (Beyond 60 Days)' END
               END AS stipulated_period,
               strftime(o.o_orderdate::DATE +
                 CASE WHEN o.o_orderpriority = '1-URGENT' THEN 180 ELSE 60 END,
                 '%Y-%m-%d') AS due_date
        FROM acc a
        JOIN orders o ON a.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        LEFT JOIN (SELECT * FROM supplier WHERE s_suppkey % 7 <> 0) p2
               ON a.l_suppkey = p2.s_suppkey
        LEFT JOIN (SELECT p_partkey, p_brand, p_type FROM part
                   WHERE p_partkey % 3 = 0) bfa
               ON a.l_partkey = bfa.p_partkey
        LEFT JOIN drug_agg d ON a.l_orderkey = d.da_key
      """)) { (s, dir) =>
      val acc = t(s, dir, "lineitem").filter(col("l_orderkey") % 8 === 0)
      val part = broadcast(t(s, dir, "part"))

      // per-crime drug aggregates: ONE groupBy carries both the ordered
      // details JSON and the DISTINCT-upper-trim FILTER type array
      val perRowQty = when(col("l_quantity").cast("long") >= 10,
        concat(col("l_quantity").cast("long").cast("string"), lit(" Units")))
        .when(col("l_quantity").cast("long") > 0,
          concat((col("l_quantity").cast("long") * 1000).cast("string"), lit(" mg")))
        .otherwise("N/A")
      val drugJs = concat(lit("{\"name\":\""), col("p_brand"),
        lit("\",\"quantity\":\""), perRowQty,
        lit("\",\"worth\":"), floor(col("l_extendedprice")).cast("long"), lit("}"))
      val drugAgg = acc.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey").as("da_key"))
        .agg(
          jsonArrOrdered(Seq(col("l_shipdate"), col("l_linenumber"), col("l_partkey")),
            drugJs).as("drug_details"),
          graft.functions.SortedRender.sorted_arr(collect_set(
            when(!col("p_name").like("%green%"),
              upper(trim(col("p_name")))))).as("dt"))

      val statusBase = coalesce(col("bfa_type"),
        concat(col("l_returnflag"), lit("-"), col("l_linestatus")))
      val statusBucket =
        when(statusBase.like("SMALL%") || statusBase.like("MEDIUM%"), "Contained")
          .when(statusBase.like("LARGE%") || statusBase.like("STANDARD%"), "Bulk")
          .when(statusBase.like("ECONOMY%"), "Deferred")
          .when(statusBase.like("PROMO%"), "Direct")
          .when(statusBase.like("R-%"), "Returned")
          .when(statusBase === "N-O", "Open")
          .otherwise("Unknown")
      val isComm = col("o_orderpriority") === "1-URGENT"
      val days = datediff(lit(Anchor).cast("date"), col("o_orderdate"))
      val stip = when(isComm,
        when(days <= 180, "Within Limit (180 Days)")
          .otherwise("Overdue (Beyond 180 Days)"))
        .otherwise(when(days <= 60, "Within Limit (60 Days)")
          .otherwise("Overdue (Beyond 60 Days)"))
      val due = date_format(
        date_add(to_date(col("o_orderdate")), when(isComm, 180).otherwise(60)),
        "yyyy-MM-dd")

      acc
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(t(s, dir, "supplier").filter(col("s_suppkey") % 7 =!= 0)),
          col("l_suppkey") === col("s_suppkey"), "left")
        .join(broadcast(t(s, dir, "part").filter(col("p_partkey") % 3 === 0)
          .select(col("p_partkey").as("bfa_key"), col("p_brand").as("bfa_brand"),
            col("p_type").as("bfa_type"))),
          col("l_partkey") === col("bfa_key"), "left")
        .join(drugAgg, col("l_orderkey") === col("da_key"), "left")
        .select(
          col("l_orderkey").as("crime_id"), col("l_linenumber").as("seq_num"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("accused_code"),
          col("l_quantity"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"),
          coalesce(col("bfa_brand"), concat(lit("ROLE-"), col("l_returnflag")))
            .as("accused_role"),
          statusBucket.as("accused_status"),
          statusBase.as("accused_status_raw"),
          col("o_orderstatus").as("case_status"),
          col("o_orderpriority").as("case_classification"),
          col("o_totalprice").as("case_worth"),
          year(col("o_orderdate")).as("fir_year"),
          date_format(col("o_orderdate"), "yyyy-MM").as("fir_month"),
          col("c_mktsegment").as("ps_name"), lower(col("c_name")).as("search_ps"),
          col("n_name").as("dist_name"), col("n_nationkey").as("dist_code"),
          col("r_name").as("zone_name"),
          col("s_name").as("person_name"),
          lower(coalesce(col("s_name"), lit("unknown"))).as("search_person"),
          col("s_acctbal").as("person_balance"), col("s_nationkey").as("person_nation"),
          concat(lit("+"), col("s_nationkey").cast("string"), lit("-"),
            col("s_suppkey").cast("string")).as("person_phone"),
          when(col("s_suppkey").isNull, lit(null).cast("string"))
            .when(col("s_suppkey") % 13 === 0, "yes").otherwise("no").as("is_died"),
          concat_ws(", ", nullif(col("s_name"), lit("")),
            nullif(col("n_name"), lit("")), nullif(col("c_mktsegment"), lit("")))
            .as("present_address"),
          concat_ws(", ", nullif(upper(col("s_name")), lit("")),
            nullif(col("r_name"), lit(""))).as("permanent_address"),
          when(col("dt").isNull || size(col("dt")) === 0, "[]")
            .otherwise(concat(lit("[\""), array_join(col("dt"), "\",\""), lit("\"]")))
            .as("drug_type"),
          coalesce(col("drug_details"), lit("[]")).as("drug_details"),
          stip.as("stipulated_period"),
          due.as("due_date"))
    })
}
