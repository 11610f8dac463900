package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** OLAP-surface operators the reference's reporting layer leans on
  * (subtotal pyramids, cross-tabs, user sessionization) plus the
  * LM-statistics scoring pass a corpus-curation pipeline runs after the
  * bigram table exists (`dd29_bigram_lm`).
  *
  * Scale notes live on each query; the common theme: every one of these
  * is a single shuffle on the natural key (rollup/pivot ride ONE groupBy
  * with map-side partials; sessionization partitions by user), so the
  * shapes survive a 1000-executor deployment unchanged.
  */
object OlapOps {

  val defs: Seq[QueryDef] = Seq(

    // ---- A16: ROLLUP subtotal pyramid -----------------------------------
    QueryDef(
      "a16_rollup",
      "ROLLUP (year, flag): detail rows + per-year subtotals + grand total in ONE pass — Spark Expand feeds a single map-side-combined aggregate, no self-union of three scans",
      Some("""
        SELECT CAST(year(l_shipdate) AS INT) AS ship_year, l_returnflag AS flag,
               CAST(GROUPING(year(l_shipdate)) * 2 + GROUPING(l_returnflag) AS INT) AS gid,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY ROLLUP(year(l_shipdate), l_returnflag)
      """)) { (s, dir) =>
      // The subtotal-pyramid shape: Catalyst compiles rollup() to ONE
      // Expand (3 grouping sets per input row) + ONE hash aggregate with
      // map-side partials — at 100 TB that is one shuffle keyed by
      // (gid, year, flag), vs the naive 3-scan UNION ALL a report writer
      // would hand-roll. grouping_id() bit order matches DuckDB's
      // GROUPING(a)*2 + GROUPING(b).
      t(s, dir, "lineitem")
        .select(year(col("l_shipdate")).as("ship_year"),
          col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("qty"))
        .rollup(col("ship_year"), col("flag"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(col("qty")).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(col("ship_year"), col("flag"), col("gid"), col("sum_qty"), col("n"))
    },

    // ---- A17: pivot / cross-tab -----------------------------------------
    QueryDef(
      "a17_pivot",
      "Cross-tab: years × return flags pivoted to one row per year with a column per flag — pinned pivot values keep it ONE groupBy, no per-column scans",
      Some("""
        SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
               CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_a,
               CAST(SUM(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_n,
               CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_r
        FROM lineitem GROUP BY 1
      """)) { (s, dir) =>
      // Explicit pivot values matter at scale: .pivot(col) with no value
      // list runs a DISTINCT collect to the driver first — an extra
      // blocking job over 100 TB. Pinning Seq("A","N","R") makes the whole
      // cross-tab one map-side-combined groupBy(year).
      t(s, dir, "lineitem")
        .select(year(col("l_shipdate")).as("ship_year"),
          col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("ship_year"))
        .pivot("flag", Seq("A", "N", "R"))
        .agg(sum(col("qty")))
        .na.fill(0L, Seq("A", "N", "R"))
        .select(col("ship_year"), col("A").as("qty_a"),
          col("N").as("qty_n"), col("R").as("qty_r"))
    },

    // ---- W12: batch sessionization (30-min inactivity gap) --------------
    QueryDef(
      "w12_batch_sessionize",
      "Gap-based sessionization: per-user event stream split into sessions at >30-min silences via lag + running sum of boundary flags — two windows, ONE user-keyed shuffle",
      Some("""
        WITH ordered AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
          SELECT user_id, event_id, ts,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_idx
          FROM ordered
        )
        SELECT user_id, CAST(session_idx AS INT) AS session_idx,
               COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(floor(epoch(MAX(ts)) - epoch(MIN(ts))) AS BIGINT) AS duration_sec
        FROM sess GROUP BY user_id, session_idx
      """)) { (s, dir) =>
      // The batch twin of st_session_window: both windows AND the final
      // groupBy share the user_id partitioning, so Spark reuses one
      // exchange for all three — lag, running sum, and the rollup are
      // per-user local. Microsecond timestamps: cast-to-double epoch
      // (unix_timestamp would truncate to seconds and merge adjacent
      // sessions whose gap straddles 1800.x s).
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val sessions = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("is_new",
          when(lag(col("ts"), 1).over(w).isNull ||
            col("ts").cast("double") - lag(col("ts"), 1).over(w).cast("double") > 1800d,
            1L).otherwise(0L))
        .withColumn("session_idx",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessions.groupBy(col("user_id"), col("session_idx").cast("int").as("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          floor(max(col("ts")).cast("double") - min(col("ts")).cast("double"))
            .cast("long").as("duration_sec"))
    },

    // ---- W13: cohort retention matrix -----------------------------------
    QueryDef(
      "w13_cohort_retention",
      "Cohort retention: users grouped by first-active day, per-(cohort, day-offset) distinct-active counts and retention rates — three user-keyed aggregates, no self-join of the raw event log",
      Some("""
        WITH activity AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        cohort AS (
          SELECT user_id, MIN(d) AS cohort_day FROM activity GROUP BY user_id
        ),
        sizes AS (
          SELECT cohort_day, COUNT(*) AS cohort_size FROM cohort GROUP BY cohort_day
        )
        SELECT CAST(c.cohort_day AS TIMESTAMP) AS cohort_day,
               CAST(date_diff('day', c.cohort_day, a.d) AS INT) AS day_offset,
               COUNT(DISTINCT a.user_id) AS n_active,
               CAST(ANY_VALUE(s.cohort_size) AS BIGINT) AS cohort_size,
               round(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / ANY_VALUE(s.cohort_size), 6) AS retention
        FROM activity a
        JOIN cohort c USING (user_id)
        JOIN sizes s ON s.cohort_day = c.cohort_day
        GROUP BY c.cohort_day, day_offset
      """)) { (s, dir) =>
      // The retention-triangle shape: everything after the first distinct
      // is keyed by user_id or cohort_day — the raw log is scanned ONCE,
      // day-deduped per user (collapses event volume by orders of
      // magnitude before any join), and the cohort dim joins back on the
      // user key. The sizes table is one row per day — broadcast. At
      // 100 TB the only big shuffle is the initial (user, day) distinct,
      // which no cohort formulation can avoid.
      val activity = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val cohortDf = activity.groupBy(col("user_id"))
        .agg(min(col("d")).as("cohort_day"))
      val sizes = cohortDf.groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("cohort_size"))
      activity.join(cohortDf, Seq("user_id"))
        .join(broadcast(sizes), Seq("cohort_day"))
        .groupBy(col("cohort_day").cast("timestamp").as("cohort_day"),
          datediff(col("d"), col("cohort_day")).cast("int").as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"),
          max(col("cohort_size")).as("cohort_size"),
          round(countDistinct(col("user_id")).cast("double") /
            max(col("cohort_size")), 6).as("retention"))
    },

    // ---- W14: trailing-frame z-score anomaly detection ------------------
    QueryDef(
      "w14_trailing_zscore",
      "Time-series anomaly gate: each day's metric z-scored against its own trailing 7-day frame (ROWS 7 PRECEDING..1 PRECEDING) — bounded-frame window stats from DECIMAL sums, |z|>2 flags; one series-keyed shuffle",
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS v
          FROM events GROUP BY 1, 2
        ),
        framed AS (
          SELECT event_type, d, v,
                 COUNT(v) OVER w AS cnt,
                 CAST(SUM(v) OVER w AS DOUBLE) AS sx,
                 CAST(SUM(v * v) OVER w AS DOUBLE) AS sx2
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, CAST(d AS TIMESTAMP) AS day,
               CAST(v AS DOUBLE) AS daily_value,
               CASE WHEN cnt >= 2 AND (sx2 - sx * sx / cnt) / (cnt - 1) > 0
                    THEN round((CAST(v AS DOUBLE) - sx / cnt) /
                               sqrt((sx2 - sx * sx / cnt) / (cnt - 1)), 6)
                    ELSE NULL END AS zscore,
               CASE WHEN cnt >= 2 AND (sx2 - sx * sx / cnt) / (cnt - 1) > 0
                    AND abs((CAST(v AS DOUBLE) - sx / cnt) /
                            sqrt((sx2 - sx * sx / cnt) / (cnt - 1))) > 2
                    THEN TRUE ELSE FALSE END AS anomaly
        FROM framed
      """)) { (s, dir) =>
      // The trailing-baseline shape every metrics pipeline runs: the
      // frame EXCLUDES the current row (7 PRECEDING..1 PRECEDING), so a
      // spike judges itself against history it isn't part of. Cross-
      // engine float parity for windowed variance: daily values freeze
      // to DECIMAL(18,2) first, the frame sums (Σx, Σx²) are DECIMAL —
      // exact, order-free — and only the final mean/σ/z arithmetic runs
      // in IEEE doubles, identical on both engines. The day-grain
      // pre-aggregate collapses the log before the window, and the
      // groupBy and window share the event_type key — one shuffle.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(round(col("value"), 2).cast("decimal(18,2)")).as("v"))
      val w = Window.partitionBy("event_type").orderBy(col("d")).rowsBetween(-7, -1)
      val framed = daily
        .withColumn("cnt", count(col("v")).over(w))
        .withColumn("sx", sum(col("v")).over(w).cast("double"))
        .withColumn("sx2", sum(col("v") * col("v")).over(w).cast("double"))
      // ANSI mode faults integer division by zero even in untaken CASE
      // branches of the row: null-ify the divisor below the 2-row
      // minimum instead (null propagates to a null z, same as the guard)
      val cntD = when(col("cnt") >= 2, col("cnt").cast("double"))
      val variance = (col("sx2") - col("sx") * col("sx") / cntD) / (cntD - 1)
      val z = (col("v").cast("double") - col("sx") / cntD) / sqrt(variance)
      framed.select(col("event_type"),
        col("d").cast("timestamp").as("day"),
        col("v").cast("double").as("daily_value"),
        when(col("cnt") >= 2 && variance > 0, round(z, 6)).otherwise(lit(null)).as("zscore"),
        when(col("cnt") >= 2 && variance > 0 && abs(z) > 2, lit(true))
          .otherwise(lit(false)).as("anomaly"))
    },

    // ---- DD30: per-document perplexity under the corpus bigram LM -------
    QueryDef(
      "dd30_lm_perplexity",
      "KenLM-style quality filter: score every document's bigrams under the corpus's own Laplace-smoothed bigram LM (avg bits per bigram) — LM table and scoring pass are each one equi-join-keyed shuffle",
      Some("""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS arr FROM documents
          WHERE len(string_split(text, ' ')) >= 2
        ),
        big AS (
          SELECT doc_id, b.prev AS prev, b.next AS next
          FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)-1),
                i -> struct_pack(prev := arr[i], next := arr[i+1]))) AS b FROM tok)
        ),
        pair_counts AS (SELECT prev, next, COUNT(*) AS c FROM big GROUP BY prev, next),
        prev_counts AS (SELECT prev, SUM(c) AS cp FROM pair_counts GROUP BY prev),
        vocab AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(arr) AS w FROM tok)),
        scored AS (
          SELECT b.doc_id,
                 CAST(round(-log2((pc.c + 1.0) / (pv.cp + vocab.v)), 9) AS DECIMAL(28,9)) AS cost
          FROM big b
          JOIN pair_counts pc ON b.prev = pc.prev AND b.next = pc.next
          JOIN prev_counts pv ON b.prev = pv.prev
          CROSS JOIN vocab
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               round(CAST(SUM(cost) AS DOUBLE) / COUNT(*), 6) AS avg_bits
        FROM scored GROUP BY doc_id
      """)) { (s, dir) =>
      // The CCNet-shaped quality gate, deterministic twin: the LM is the
      // corpus's own bigram table (dd29), smoothing is add-one over the
      // observed vocabulary, the doc score is mean bits per bigram. Scale
      // shape: bigram extraction is a NARROW array pass; the LM table is
      // (prev,next)-keyed — vocabulary-bounded, NOT corpus-bounded — so
      // the scoring join shuffles on a key set that stops growing long
      // before 100 TB; V rides in as a broadcast scalar. Float parity:
      // per-bigram cost rounds to 9 dp then sums in DECIMAL (order-free),
      // mirroring the TF-IDF recipe in core/Parity.scala.
      val docs = Text.tokenArrays(t(s, dir, "documents"), Seq(col("doc_id")), 2)
      val bigrams = docs.select(col("doc_id"),
        explode(Text.bigrams(col("arr"), "prev", "next")).as("b"))
        .select(col("doc_id"), col("b.prev").as("prev"), col("b.next").as("next"))
      val pairCounts = bigrams.groupBy(col("prev"), col("next"))
        .agg(count(lit(1)).as("c"))
      val prevCounts = pairCounts.groupBy(col("prev")).agg(sum(col("c")).as("cp"))
      val vocab = docs.select(explode(col("arr")).as("w"))
        .agg(countDistinct(col("w")).as("v"))
      // cost depends only on (prev,next): fold the smoothed log-prob into
      // the LM table once, then score docs with a single equi-join
      val lm = pairCounts
        .join(prevCounts, Seq("prev"))
        .crossJoin(broadcast(vocab))
        .select(col("prev"), col("next"),
          round(-log2((col("c") + lit(1.0)) / (col("cp") + col("v"))), 9)
            .cast("decimal(28,9)").as("cost"))
      bigrams.join(lm, Seq("prev", "next"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cost")).as("tot"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("tot").cast("double") / col("n_bigrams"), 6).as("avg_bits"))
    },

    // ---- W15: ordered multi-step event funnel ---------------------------
    QueryDef(
      "w15_event_funnel",
      "Ordered funnel view->click->purchase: cascaded per-user conditional mins (each step strictly after the prior step's first hit) — every stage keys on user_id, event_type filters pushed to the scan",
      Some("""
        WITH s1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
          FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
          WHERE e.event_type = 'click' GROUP BY 1
        ),
        s3 AS (
          SELECT e.user_id, min(e.ts) AS t3, min(s2.t2) AS t2
          FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
          WHERE e.event_type = 'purchase' GROUP BY 1
        )
        SELECT 'step1_view' AS step, count(*) AS users, CAST(0 AS BIGINT) AS gap_us_total FROM s1
        UNION ALL
        SELECT 'step2_click', count(*), CAST(coalesce(sum(epoch_us(t2) - epoch_us(t1)), 0) AS BIGINT) FROM s2
        UNION ALL
        SELECT 'step3_purchase', count(*), CAST(coalesce(sum(epoch_us(t3) - epoch_us(t2)), 0) AS BIGINT) FROM s3
      """)) { (s, dir) =>
      // Funnel semantics: step N counts users whose FIRST step-N event is
      // strictly after their first step-(N-1) event — the cascaded-min
      // formulation, not a per-user event-array fold. The fold (collect +
      // sort per user) holds a user's whole history in one task; a hot
      // user with 10^8 events OOMs it. Here every stage is a per-type
      // filtered scan (event_type reaches PushedFilters) aggregated to
      // ≤|users| rows, and all three stages + both joins key on user_id,
      // so one hash partitioning serves the whole funnel. Gap totals in
      // integer microseconds: exact, order-free, bit-stable cross-engine.
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"), col("event_type"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id")).where(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2.select(col("user_id"), col("t2")), Seq("user_id")).where(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"), min(col("t2")).as("t2"))
      val r1 = s1.agg(count(lit(1)).as("users"))
        .select(lit("step1_view").as("step"), col("users"), lit(0L).as("gap_us_total"))
      val r2 = s2.agg(count(lit(1)).as("users"),
        coalesce(sum(unix_micros(col("t2")) - unix_micros(col("t1"))), lit(0L)).as("gap_us_total"))
        .select(lit("step2_click").as("step"), col("users"), col("gap_us_total"))
      val r3 = s3.agg(count(lit(1)).as("users"),
        coalesce(sum(unix_micros(col("t3")) - unix_micros(col("t2"))), lit(0L)).as("gap_us_total"))
        .select(lit("step3_purchase").as("step"), col("users"), col("gap_us_total"))
      r1.unionByName(r2).unionByName(r3)
    },

    // ---- A18: one-pass column profiler ----------------------------------
    QueryDef(
      "a18_column_profile",
      "Data-profiling report over orders: per-column null count, exact distinct count, rendered min/max — ONE scan feeding one multi-distinct aggregate, long-form output via explode",
      Some("""
        SELECT 'o_orderkey' AS col_name, count(*) - count(o_orderkey) AS null_count,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS distinct_count,
               CAST(min(o_orderkey) AS VARCHAR) AS min_value, CAST(max(o_orderkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*) - count(o_custkey), CAST(count(DISTINCT o_custkey) AS BIGINT),
               CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*) - count(o_orderstatus), CAST(count(DISTINCT o_orderstatus) AS BIGINT),
               min(o_orderstatus), max(o_orderstatus) FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*) - count(o_totalprice), CAST(count(DISTINCT o_totalprice) AS BIGINT),
               CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
               CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderdate', count(*) - count(o_orderdate), CAST(count(DISTINCT o_orderdate) AS BIGINT),
               strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'), strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*) - count(o_orderpriority), CAST(count(DISTINCT o_orderpriority) AS BIGINT),
               min(o_orderpriority), max(o_orderpriority) FROM orders
      """)) { (s, dir) =>
      // The profiling pass every curation pipeline runs before touching a
      // new 100-TB drop. The oracle is a 6-scan UNION; the engine does it
      // in TWO cheap passes, deliberately split: (1) null counts + exact
      // distincts — all-long aggregation buffers, so the multi-distinct
      // Expand (~7× row multiplier, but one read vs six) stays on the
      // HashAggregate fast path; (2) min/max — string buffers, which
      // would otherwise demote the WHOLE expanded aggregate to
      // SortAggregate (measured 5× slower fused), but as a grouping-free
      // global fold they sort nothing. The two 1-row results cross-join
      // into the long-form report. At real scale swap countDistinct for
      // approx_count_distinct and pass 1 loses the Expand too; exact here
      // for oracle parity. min/max render through type-pinned formats
      // (DECIMAL(18,2), second-grain dates) so the strings are
      // bit-identical cross-engine.
      type Render = org.apache.spark.sql.Column => org.apache.spark.sql.Column
      val cols: Seq[(String, Render)] = Seq(
        ("o_orderkey", (_: org.apache.spark.sql.Column).cast("string")),
        ("o_custkey", (_: org.apache.spark.sql.Column).cast("string")),
        ("o_orderstatus", (c: org.apache.spark.sql.Column) => c),
        ("o_totalprice", (_: org.apache.spark.sql.Column).cast("decimal(18,2)").cast("string")),
        ("o_orderdate", date_format(_: org.apache.spark.sql.Column, "yyyy-MM-dd HH:mm:ss")),
        ("o_orderpriority", (c: org.apache.spark.sql.Column) => c))
      val o = t(s, dir, "orders")
      val countExprs = cols.flatMap { case (c, _) => Seq(
        (count(lit(1)) - count(col(c))).as(s"nulls_$c"),
        countDistinct(col(c)).as(s"dist_$c")) }
      val rangeExprs = cols.flatMap { case (c, r) => Seq(
        r(min(col(c))).as(s"min_$c"), r(max(col(c))).as(s"max_$c")) }
      val counts = o.agg(countExprs.head, countExprs.tail: _*)
      val ranges = o.agg(rangeExprs.head, rangeExprs.tail: _*)
      counts.crossJoin(ranges)
        .select(explode(array(cols.map { case (c, _) =>
          struct(lit(c).as("col_name"), col(s"nulls_$c").as("null_count"),
            col(s"dist_$c").as("distinct_count"),
            col(s"min_$c").as("min_value"), col(s"max_$c").as("max_value"))
        }: _*)).as("m"))
        .select(col("m.*"))
    },

    // ---- A19: per-group OLS regression via sufficient statistics ---------
    QueryDef(
      "a19_group_regression",
      "Grouped least-squares: slope/intercept of extendedprice on quantity per (returnflag, ship year) from sufficient statistics (n, Sx, Sy, Sxy, Sxx) accumulated EXACTLY in DECIMAL by one map-side-combined groupBy — the closed form needs no second pass and no per-group data motion, so it costs the same as a sum at any scale; the float division happens once per group on exact operands, round(6) absorbs the last-ulp",
      Some("""
        WITH pts AS (
          SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS ship_year,
                 CAST(l_quantity AS DECIMAL(12,2)) AS x,
                 CAST(l_extendedprice AS DECIMAL(12,2)) AS y
          FROM lineitem
        ),
        stats AS (
          SELECT l_returnflag, ship_year,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS DECIMAL(38,2)) AS sx, CAST(sum(y) AS DECIMAL(38,2)) AS sy,
                 CAST(sum(x*y) AS DECIMAL(38,4)) AS sxy, CAST(sum(x*x) AS DECIMAL(38,4)) AS sxx
          FROM pts GROUP BY 1,2
        )
        SELECT l_returnflag, ship_year, n,
               round((n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                   / (n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 6) AS slope,
               round((CAST(sy AS DOUBLE)
                   - ((n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                      / (n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
                     * CAST(sx AS DOUBLE)) / n, 6) AS intercept
        FROM stats
      """)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val pts = t(s, dir, "lineitem").select(col("l_returnflag"),
        year(col("l_shipdate")).cast("int").as("ship_year"),
        col("l_quantity").cast(DecimalType(12, 2)).as("x"),
        col("l_extendedprice").cast(DecimalType(12, 2)).as("y"))
      val stats = pts.groupBy(col("l_returnflag"), col("ship_year"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast(DecimalType(38, 2)).as("sx"),
          sum(col("y")).cast(DecimalType(38, 2)).as("sy"),
          sum(col("x") * col("y")).cast(DecimalType(38, 4)).as("sxy"),
          sum(col("x") * col("x")).cast(DecimalType(38, 4)).as("sxx"))
      val slope = (col("n") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        (col("n") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      stats.select(col("l_returnflag"), col("ship_year"), col("n"),
        round(slope, 6).as("slope"),
        round((col("sy").cast("double") - slope * col("sx").cast("double")) / col("n"), 6)
          .as("intercept"))
    },

    // ---- W16: date-spine gap filling + forward fill ----------------------
    QueryDef(
      "w16_gap_fill",
      "Time-series regularization: per customer a monthly date spine from first to last order month, actual totals joined on, gaps forward-filled with the last known value (last IGNORE NULLS window) — the spine is GENERATED per key with sequence+explode (rows proportional to the output, no calendar table shuffle) and the fill rides the same customer-key partition as the join",
      Some("""
        WITH monthly AS (
          SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_total
          FROM orders WHERE o_custkey % 100 = 0
          GROUP BY 1,2
        ),
        spans AS (
          SELECT o_custkey, min(month) AS mn, max(month) AS mx FROM monthly GROUP BY 1
        ),
        spine AS (
          SELECT s.o_custkey, unnest(generate_series(s.mn, s.mx, INTERVAL 1 MONTH)) AS month
          FROM spans s
        ),
        joined AS (
          SELECT sp.o_custkey, sp.month, m.month_total
          FROM spine sp LEFT JOIN monthly m ON sp.o_custkey = m.o_custkey AND sp.month = m.month
        )
        SELECT o_custkey, month,
               COALESCE(month_total, 0.0) AS month_total,
               last_value(month_total IGNORE NULLS) OVER (
                 PARTITION BY o_custkey ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_total,
               month_total IS NULL AS is_gap
        FROM joined
      """)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      // cache: monthly feeds the span aggregate AND the spine join
      val monthly = t(s, dir, "orders").filter(col("o_custkey") % 100 === 0)
        .groupBy(col("o_custkey"),
          date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("month_total"))
        .cache()
      val spans = monthly.groupBy(col("o_custkey"))
        .agg(min(col("month")).as("mn"), max(col("month")).as("mx"))
      val spine = spans.select(col("o_custkey"),
        explode(expr("sequence(mn, mx, interval 1 month)")).as("month"))
      val wF = Window.partitionBy(col("o_custkey")).orderBy(col("month"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(monthly, Seq("o_custkey", "month"), "left")
        .select(col("o_custkey"), col("month"),
          coalesce(col("month_total"), lit(0.0)).as("month_total"),
          last(col("month_total"), ignoreNulls = true).over(wF).as("filled_total"),
          col("month_total").isNull.as("is_gap"))
    },

    // ---- W17: INTERSECT / EXCEPT set algebra -----------------------------
    QueryDef(
      "w17_set_ops",
      "Relational set algebra on yearly active-customer sets: 1995 INTERSECT 1996, and both EXCEPT directions, tagged and unioned — Spark lowers these to distinct-aggregated semi/anti joins on the already-distinct key sets; both year slices are cached once and reused by all three branches",
      Some("""
        WITH a95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        a96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM a95 INTERSECT SELECT o_custkey FROM a96)
        UNION ALL
        SELECT 'only_1995', o_custkey FROM (SELECT o_custkey FROM a95 EXCEPT SELECT o_custkey FROM a96)
        UNION ALL
        SELECT 'only_1996', o_custkey FROM (SELECT o_custkey FROM a96 EXCEPT SELECT o_custkey FROM a95)
      """)) { (s, dir) =>
      val o = t(s, dir, "orders")
      def active(y: Int) = o.filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey")).distinct().cache()
      val a95 = active(1995)
      val a96 = active(1996)
      a95.intersect(a96).select(lit("both").as("tag"), col("o_custkey"))
        .unionByName(a95.except(a96)
          .select(lit("only_1995").as("tag"), col("o_custkey")))
        .unionByName(a96.except(a95)
          .select(lit("only_1996").as("tag"), col("o_custkey")))
    },

    // ---- A20: chi-square independence test -------------------------------
    QueryDef(
      "a20_chi_square",
      "Chi-square independence cells for priority x order-year: observed counts, expected = row_total*col_total/N, and the (o-e)^2/e contribution per cell — the contingency table is category-bounded, so after ONE groupBy the marginals and N are broadcast scalars; (o-e)*(o-e) is written as explicit multiplication on both engines (libm pow is not cross-engine stable)",
      Some("""
        WITH obs AS (
          SELECT o_orderpriority AS prio, CAST(year(o_orderdate) AS INT) AS yr,
                 CAST(count(*) AS BIGINT) AS o
          FROM orders GROUP BY 1,2
        ),
        rt AS (SELECT prio, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
        ct AS (SELECT yr, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
        n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs)
        SELECT obs.prio, obs.yr, obs.o,
               round(CAST(rt.r * ct.c AS DOUBLE) / n.n, 6) AS expected,
               round((obs.o - CAST(rt.r * ct.c AS DOUBLE) / n.n)
                   * (obs.o - CAST(rt.r * ct.c AS DOUBLE) / n.n)
                   / (CAST(rt.r * ct.c AS DOUBLE) / n.n), 6) AS contrib
        FROM obs JOIN rt USING(prio) JOIN ct USING(yr) CROSS JOIN n
      """)) { (s, dir) =>
      // cache: the contingency table feeds both marginals, N, and the
      // final join — category-bounded, tiny at any data size
      val obs = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          year(col("o_orderdate")).cast("int").as("yr"))
        .agg(count(lit(1)).as("o")).cache()
      val rt = obs.groupBy(col("prio")).agg(sum(col("o")).as("r"))
      val ct = obs.groupBy(col("yr")).agg(sum(col("o")).as("c"))
      val n = obs.agg(sum(col("o")).as("n"))
      val e = (col("r") * col("c")).cast("double") / col("n")
      obs.join(broadcast(rt), Seq("prio")).join(broadcast(ct), Seq("yr"))
        .crossJoin(broadcast(n))
        .select(col("prio"), col("yr"), col("o"),
          round(e, 6).as("expected"),
          round((col("o") - e) * (col("o") - e) / e, 6).as("contrib"))
    },

    // ---- A21: exact weighted median --------------------------------------
    // Scale note (round-8 rewrite): the oracle SQL below is the SPEC — a
    // cumulative-weight RANGE frame partitioned by l_returnflag (3 values),
    // which as an executed plan would sort the whole fact table inside 3
    // window partitions (parallelism capped at 3; measured 7.0× wall-clock
    // for 10× data). The engine plan is a two-phase EXACT median instead:
    // (1) per-(flag, value) weights — one well-distributed map-side-
    // combined shuffle, which also makes a ROWS frame ≡ the spec's RANGE
    // frame since each value appears once; (2) fixed-width value buckets
    // fold that to a ~thousand-row relation where a tiny window locates
    // the half-weight bucket and its preceding cumulative weight; (3) only
    // the target bucket's values (bounded by bucket width, not data size)
    // get the final cumulative sum. All weights accumulate in DECIMAL, so
    // the result is bit-identical to the spec — the oracle is unchanged.
    QueryDef(
      "a21_weighted_median",
      "Exact weighted median (price weighted by quantity) per return flag: smallest v whose cumulative weight reaches half the total. Engine runs it two-phase (per-value weights → bucket cumsum locates the half-weight bucket → final cumsum over that bucket only), so no full-fact sort ever sits in a 3-partition window; DECIMAL accumulation keeps it bit-equal to the one-window oracle spec",
      Some("""
        WITH w AS (
          SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
                 CAST(l_quantity AS DECIMAL(12,2)) AS q
          FROM lineitem
        ),
        cum AS (
          SELECT l_returnflag, v, q,
                 SUM(q) OVER (PARTITION BY l_returnflag ORDER BY v
                              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                 SUM(q) OVER (PARTITION BY l_returnflag) AS tw
          FROM w
        )
        SELECT l_returnflag, CAST(min(v) AS DOUBLE) AS weighted_median,
               CAST(CAST(any_value(tw) AS DECIMAL(18,2)) AS DOUBLE) AS total_weight
        FROM cum WHERE cw * 2 >= tw GROUP BY l_returnflag
      """)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val w = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_extendedprice").cast(DecimalType(12, 2)).as("v"),
        col("l_quantity").cast(DecimalType(12, 2)).as("q"))
      // Phase 1: exact weight per distinct value — THE data-sized shuffle,
      // keyed by (flag, v) so it distributes; everything after is bounded.
      val perV = w.groupBy(col("l_returnflag"), col("v"))
        .agg(sum(col("q")).cast(DecimalType(22, 2)).as("wv"))
        .withColumn("bkt", floor(col("v") / 100).cast("long"))
      // Phase 2: bucket relation (≈ price-range/100 rows per flag) carries
      // the cumulative scan; windows here touch thousands of rows, not the
      // fact table.
      val perB = perV.groupBy(col("l_returnflag"), col("bkt"))
        .agg(sum(col("wv")).cast(DecimalType(22, 2)).as("bw"))
      val wb = Window.partitionBy(col("l_returnflag")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumB = perB
        .withColumn("cumbw", sum(col("bw")).over(wb).cast(DecimalType(22, 2)))
        .withColumn("tw",
          sum(col("bw")).over(Window.partitionBy(col("l_returnflag")))
            .cast(DecimalType(22, 2)))
      val target = cumB.filter(col("cumbw") * 2 >= col("tw"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("bkt")).as("tbkt"))
        .join(cumB.select(col("l_returnflag"), col("bkt").as("tbkt"),
          col("bw"), col("cumbw"), col("tw")), Seq("l_returnflag", "tbkt"))
        .withColumn("prev", (col("cumbw") - col("bw")).cast(DecimalType(22, 2)))
        .select(col("l_returnflag"), col("tbkt"), col("prev"), col("tw"))
      // Phase 3: final exact cumsum over the target bucket's values only —
      // bounded by bucket width (≤10k distinct cent-values), never by data.
      val inB = perV.join(broadcast(target),
        Seq("l_returnflag")).filter(col("bkt") === col("tbkt"))
      val wv2 = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      inB.withColumn("cum", sum(col("wv")).over(wv2))
        .filter((col("prev") + col("cum")) * 2 >= col("tw"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("v")).cast("double").as("weighted_median"),
          first(col("tw")).cast(DecimalType(18, 2)).cast("double").as("total_weight"))
    },

    // ---- W18: cumulative distinct users (first-seen trick) ---------------
    QueryDef(
      "w18_cumulative_distinct",
      "Daily active + cumulative distinct users: the expanding-window COUNT(DISTINCT) that does NOT exist as a scalable operator anywhere — replaced by the first-seen identity (a user adds 1 exactly on their first day, so cumulative distinct = running sum of first-appearance counts). The oracle states the global day-ordered window; the engine runs it two-phase (year-partitioned running sum + broadcast year offsets) so no Sort ever sits on a single partition",
      Some("""
        WITH firsts AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
        ),
        per_day AS (
          SELECT first_day AS d, CAST(count(*) AS BIGINT) AS new_users FROM firsts GROUP BY 1
        ),
        activity AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM events GROUP BY 1
        )
        SELECT CAST(a.d AS TIMESTAMP) AS d, a.dau,
               COALESCE(p.new_users, 0) AS new_users,
               CAST(SUM(COALESCE(p.new_users, 0)) OVER (ORDER BY a.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct_users
        FROM activity a LEFT JOIN per_day p ON a.d = p.d
      """)) { (s, dir) =>
      // ONE event scan: both the DAU and the first-seen aggregates read the
      // cached distinct (user, day) relation — user-day-bounded, far
      // smaller than the raw log
      val ud = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("date").as("d"))
        .distinct().cache()
      val firsts = ud.groupBy(col("user_id")).agg(min(col("d")).as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("new_users"))
      val activity = ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
      // day-bounded from here on — cache the spine the window and the
      // year-offset aggregate both read
      val daily = activity.join(firsts, Seq("d"), "left")
        .select(col("d"), col("dau"),
          coalesce(col("new_users"), lit(0L)).as("new_users"),
          year(col("d")).as("y"))
        .cache()
      // two-phase global cumsum (dd40's shape on the calendar): within-year
      // running sum rides a year-partitioned window; year offsets come from
      // the tiny year-level inequality join and broadcast
      val yearTot = daily.groupBy(col("y")).agg(sum(col("new_users")).as("c"))
      val offsets = yearTot.as("x")
        .join(yearTot.as("y2"), col("y2.y") < col("x.y"), "left")
        .groupBy(col("x.y").as("y"))
        .agg(coalesce(sum(col("y2.c")), lit(0L)).as("off"))
      val wIn = Window.partitionBy(col("y")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(broadcast(offsets), Seq("y"))
        .select(col("d").cast("timestamp").as("d"), col("dau"), col("new_users"),
          (col("off") + sum(col("new_users")).over(wIn)).cast("long")
            .as("cum_distinct_users"))
    },

    // ---- W19: distribution ranks (percent_rank / cume_dist / ntile) ------
    QueryDef(
      "w19_distribution_ranks",
      "Customer-spend distribution position within each market segment: percent_rank, cume_dist, and ntile(4) quartile over ONE segment-keyed window — the ORDER includes the key (spend, custkey) so ntile's position-based buckets are total-order deterministic across engines; spend accumulates in DECIMAL before the double render",
      Some("""
        WITH spend AS (
          SELECT c.c_custkey, c.c_mktsegment,
                 CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
          FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY 1,2
        )
        SELECT c_custkey, c_mktsegment, spend,
               round(percent_rank() OVER w, 9) AS pr,
               round(cume_dist() OVER w, 9) AS cd,
               CAST(ntile(4) OVER w AS INT) AS quartile
        FROM spend WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend, c_custkey)
      """)) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val spend = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .join(t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("spend"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("spend"), col("c_custkey"))
      spend.select(col("c_custkey"), col("c_mktsegment"), col("spend"),
        round(percent_rank().over(w), 9).as("pr"),
        round(cume_dist().over(w), 9).as("cd"),
        ntile(4).over(w).cast("int").as("quartile"))
    },

    // ---- DQ1: data-quality expectations report ---------------------------
    QueryDef(
      "dq1_quality_report",
      "Data-quality expectations in ONE pass shape: uniqueness of the order key, FK integrity to customer (broadcast-dim anti count), null/positivity and domain checks — each check is a named row with pass flag + violation count, the report an ETL gate publishes every run; all checks are aggregates, only scalar rows leave the cluster",
      Some("""
        WITH uniq AS (
          SELECT CAST(count(*) AS BIGINT) AS total, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS dk
          FROM orders
        ),
        fk AS (
          SELECT CAST(count(*) AS BIGINT) AS n_orphan
          FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_custkey IS NULL
        ),
        nulls AS (
          SELECT CAST(count(*) FILTER (o_orderdate IS NULL) AS BIGINT) AS null_dates,
                 CAST(count(*) FILTER (o_totalprice IS NULL OR o_totalprice <= 0) AS BIGINT) AS bad_prices
          FROM orders
        ),
        dom AS (
          SELECT CAST(count(*) AS BIGINT) AS bad_status
          FROM orders WHERE o_orderstatus NOT IN ('O','F','P')
        )
        SELECT 'orderkey_unique' AS check_name, uniq.total = uniq.dk AS passed, uniq.total - uniq.dk AS n_violations FROM uniq
        UNION ALL
        SELECT 'custkey_fk_integrity', fk.n_orphan = 0, fk.n_orphan FROM fk
        UNION ALL
        SELECT 'orderdate_not_null', nulls.null_dates = 0, nulls.null_dates FROM nulls
        UNION ALL
        SELECT 'totalprice_positive', nulls.bad_prices = 0, nulls.bad_prices FROM nulls
        UNION ALL
        SELECT 'status_in_domain', dom.bad_status = 0, dom.bad_status FROM dom
      """)) { (s, dir) =>
      val o = t(s, dir, "orders")
      def report(name: String, v: org.apache.spark.sql.Column): DataFrame => DataFrame =
        df => df.select(lit(name).as("check_name"),
          (v === 0L).as("passed"), v.as("n_violations"))
      // the four table-wide expectations fold into ONE aggregate pass over
      // one scan; only the FK check needs its own (anti-join) scan
      val wide = o.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("null_dates"),
        sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1L)
          .otherwise(0L)).as("bad_prices"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("bad_status")).cache()
      val fk = o.join(broadcast(t(s, dir, "customer").select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphan"))
      report("orderkey_unique", col("dup_keys"))(wide)
        .unionByName(report("custkey_fk_integrity", col("n_orphan"))(fk))
        .unionByName(report("orderdate_not_null", col("null_dates"))(wide))
        .unionByName(report("totalprice_positive", col("bad_prices"))(wide))
        .unionByName(report("status_in_domain", col("bad_status"))(wide))
    },

    // ---- A25: Welch's two-sample t-test ------------------------------------
    QueryDef(
      "a25_welch_ttest",
      "Welch's unequal-variance t-test between two customer segments on account balance — the A/B significance readout every experimentation pipeline ships: per-group n/Σx/Σx² fold as EXACT decimals in ONE map-side-combined groupBy (sufficient statistics, the at-scale shape — never a second pass for the variance), then t, the Welch–Satterthwaite df, and the |t|>1.96 verdict are pure arithmetic on the 2-row relation. acctbal has 2 decimal digits, so Σx at DECIMAL(28,2) and Σx² at DECIMAL(28,4) are EXACT — the means and variances derive from integers, no float-order concerns at all",
      Some("""
        WITH g AS (
          SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(c_acctbal, 2) AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sx,
                 CAST(sum(CAST(round(c_acctbal*c_acctbal, 4) AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sxx
          FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
          GROUP BY 1
        ),
        w AS (
          SELECT
            max(CASE WHEN seg = 'AUTOMOBILE' THEN n END) AS n_a,
            max(CASE WHEN seg = 'BUILDING'   THEN n END) AS n_b,
            max(CASE WHEN seg = 'AUTOMOBILE' THEN CAST(sx AS DOUBLE) END) AS sxa,
            max(CASE WHEN seg = 'BUILDING'   THEN CAST(sx AS DOUBLE) END) AS sxb,
            max(CASE WHEN seg = 'AUTOMOBILE' THEN CAST(sxx AS DOUBLE) END) AS sxxa,
            max(CASE WHEN seg = 'BUILDING'   THEN CAST(sxx AS DOUBLE) END) AS sxxb
          FROM g
        ),
        m AS (
          SELECT n_a, n_b, sxa/n_a AS mean_a, sxb/n_b AS mean_b,
                 (sxxa - sxa*sxa/n_a)/(n_a - 1) AS var_a,
                 (sxxb - sxb*sxb/n_b)/(n_b - 1) AS var_b
          FROM w
        )
        SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
               round(var_a, 6) AS var_a, round(var_b, 6) AS var_b,
               round((mean_a - mean_b)/sqrt(var_a/n_a + var_b/n_b), 6) AS t_stat,
               round((var_a/n_a + var_b/n_b)*(var_a/n_a + var_b/n_b)
                     / ((var_a/n_a)*(var_a/n_a)/(n_a - 1)
                        + (var_b/n_b)*(var_b/n_b)/(n_b - 1)), 2) AS df,
               abs((mean_a - mean_b)/sqrt(var_a/n_a + var_b/n_b)) > 1.96 AS significant
        FROM m
      """)) { (s, dir) =>
      // squares written as explicit multiplication (a20's libm-pow
      // lesson); the whole test after the groupBy is a 1-row select
      val g = t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(round(c_acctbal, 2) AS DECIMAL(18,2))) AS DECIMAL(28,2))").as("sx"),
          expr("CAST(sum(CAST(round(c_acctbal*c_acctbal, 4) AS DECIMAL(18,4))) AS DECIMAL(28,4))").as("sxx"))
      g.agg(
          max(when(col("seg") === "AUTOMOBILE", col("n"))).as("n_a"),
          max(when(col("seg") === "BUILDING", col("n"))).as("n_b"),
          max(when(col("seg") === "AUTOMOBILE", col("sx").cast("double"))).as("sxa"),
          max(when(col("seg") === "BUILDING", col("sx").cast("double"))).as("sxb"),
          max(when(col("seg") === "AUTOMOBILE", col("sxx").cast("double"))).as("sxxa"),
          max(when(col("seg") === "BUILDING", col("sxx").cast("double"))).as("sxxb"))
        .selectExpr("n_a", "n_b", "sxa/n_a AS mean_a", "sxb/n_b AS mean_b",
          "(sxxa - sxa*sxa/n_a)/(n_a - 1) AS var_a",
          "(sxxb - sxb*sxb/n_b)/(n_b - 1) AS var_b")
        .selectExpr("n_a", "n_b",
          "round(mean_a, 6) AS mean_a", "round(mean_b, 6) AS mean_b",
          "round(var_a, 6) AS var_a", "round(var_b, 6) AS var_b",
          "round((mean_a - mean_b)/sqrt(var_a/n_a + var_b/n_b), 6) AS t_stat",
          "round((var_a/n_a + var_b/n_b)*(var_a/n_a + var_b/n_b)" +
            " / ((var_a/n_a)*(var_a/n_a)/(n_a - 1)" +
            "    + (var_b/n_b)*(var_b/n_b)/(n_b - 1)), 2) AS df",
          "abs((mean_a - mean_b)/sqrt(var_a/n_a + var_b/n_b)) > 1.96 AS significant")
    })
}
