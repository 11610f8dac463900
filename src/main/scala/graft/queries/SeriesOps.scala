package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}

/** Time-series statistics over the events stream — the monitoring surface a
  * production pipeline layers on its own telemetry (the reference keeps
  * per-batch run statistics and anomaly flags around its ETL loop;
  * `etl-crimes/etl_crimes.py` run-summary accounting): exponential
  * smoothing of the per-type daily signal, robust (median/MAD) outlier
  * flagging, and the CUBE cross-tab of the order fact.
  *
  * Cross-engine float discipline (house rules): every SUM/AVG that feeds a
  * comparison or an output runs over DECIMAL so partial-aggregation order
  * can't wiggle low bits; doubles appear only AFTER the aggregate, in
  * expressions whose operand order is written identically in the Spark and
  * DuckDB forms, and every emitted double is round(6).
  */
object SeriesOps {

  /** (1-alpha)^k for alpha=0.3, k=0..9 — written as full decimal literals so
    * the Spark and DuckDB parsers produce bit-identical doubles. */
  private val ewmaW: Seq[String] = Seq(
    "1.0", "0.7", "0.49", "0.343", "0.2401", "0.16807", "0.117649",
    "0.0823543", "0.05764801", "0.040353607")

  val defs: Seq[QueryDef] = Seq(

    // ---- W31: Holt linear-trend smoothing (recursive state, exact) --------
    // w20's EWMA truncates the recursion to 10 taps; Holt's linear method
    // (level + trend double smoothing) is INHERENTLY recursive, so this op
    // shows the other idiom: the per-type series collapses to ONE row
    // (day-grain bounded), and the recursion runs in array-land via
    // aggregate() — a sequential left fold whose float-op order is written
    // IDENTICALLY in the DuckDB recursive CTE, so the result is bit-equal
    // with no decimal freezing of the recursion itself (inputs are frozen
    // daily sums). alpha = beta = 0.5: exact binary fractions. At 100 TB
    // the day-level pre-aggregation is the only corpus-scale work; the
    // fold touches <= days-per-type elements per row.
    QueryDef(
      "w31_holt_linear",
      "Holt linear-trend smoothing (alpha=beta=0.5) of each type's daily value sum: l1=y1, b1=y2-y1, sequential update fold, final level/trend + 7-day forecast — one day-grain pre-agg, recursion in array-land",
      Some("""
        WITH RECURSIVE daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
          FROM events GROUP BY 1, 2
        ),
        idx AS (
          SELECT event_type, y,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
          FROM daily
        ),
        mx AS (SELECT event_type, max(i) AS n FROM idx GROUP BY 1),
        rec AS (
          SELECT a.event_type, 1 AS i, a.y AS l, b.y - a.y AS b
          FROM idx a JOIN idx b ON a.event_type = b.event_type
                                AND a.i = 1 AND b.i = 2
          UNION ALL
          SELECT r.event_type, r.i + 1,
                 0.5 * x.y + 0.5 * (r.l + r.b),
                 0.5 * ((0.5 * x.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
          FROM rec r JOIN idx x ON x.event_type = r.event_type
                                AND x.i = r.i + 1
        )
        SELECT r.event_type, round(r.l, 6) AS level, round(r.b, 6) AS trend,
               round(r.l + 7 * r.b, 6) AS forecast_7d
        FROM rec r JOIN mx m ON r.event_type = m.event_type AND r.i = m.n
      """)) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      daily.groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("sd"))
        .select(col("event_type"), expr("transform(sd, x -> x.y)").as("ys"))
        .filter(size(col("ys")) >= 2)
        // the fold consumes elements 2..n against the (l1, b1) init — y2
        // feeds BOTH the init's trend and the first update, the standard
        // Holt convention; expression shapes mirror the CTE exactly
        .withColumn("st", expr(
          """aggregate(slice(ys, 2, size(ys) - 1),
               named_struct('l', element_at(ys, 1),
                            'b', element_at(ys, 2) - element_at(ys, 1)),
               (acc, y) -> named_struct(
                 'l', 0.5d * y + 0.5d * (acc.l + acc.b),
                 'b', 0.5d * ((0.5d * y + 0.5d * (acc.l + acc.b)) - acc.l)
                      + 0.5d * acc.b))"""))
        .select(col("event_type"),
          round(col("st.l"), 6).as("level"),
          round(col("st.b"), 6).as("trend"),
          round(col("st.l") + lit(7.0) * col("st.b"), 6).as("forecast_7d"))
    },

    // ---- W32: forecast-residual anomaly flags (w31's monitoring face) -----
    // What a monitoring pipeline does with a forecaster: one-step-ahead
    // Holt residuals (resid_t = y_t - (l_{t-1} + b_{t-1})) flagged by the
    // robust 3-MAD rule. Residuals ride the SAME array fold as w31 (the
    // accumulator carries the growing resid list); medians are EXACT —
    // avg-of-middle-two over the sorted per-type array, written with the
    // identical expression in both engines, so the flag boundary compares
    // bit-equal doubles. Per-type series are day-grain bounded, so the
    // fold and both medians are one row's array work at any event volume.
    QueryDef(
      "w32_holt_anomaly",
      "One-step-ahead Holt residuals per type + exact-median 3-MAD anomaly flags — same fold as w31 with a residual accumulator, medians in array-land",
      Some("""
        WITH RECURSIVE daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
          FROM events GROUP BY 1, 2
        ),
        idx AS (
          SELECT event_type, y,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
          FROM daily
        ),
        rec AS (
          SELECT a.event_type, 1 AS i, a.y AS l, b.y - a.y AS b
          FROM idx a JOIN idx b ON a.event_type = b.event_type
                                AND a.i = 1 AND b.i = 2
          UNION ALL
          SELECT r.event_type, r.i + 1,
                 0.5 * x.y + 0.5 * (r.l + r.b),
                 0.5 * ((0.5 * x.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
          FROM rec r JOIN idx x ON x.event_type = r.event_type
                                AND x.i = r.i + 1
        ),
        resids AS (
          SELECT r.event_type, r.i + 1 AS i, x.y,
                 x.y - (r.l + r.b) AS resid
          FROM rec r JOIN idx x ON x.event_type = r.event_type
                                AND x.i = r.i + 1
        ),
        sr AS (
          SELECT event_type, list_sort(list(resid)) AS s FROM resids GROUP BY 1
        ),
        med AS (
          SELECT event_type, s,
                 CASE WHEN len(s) % 2 = 1 THEN s[(len(s) + 1) // 2]
                      ELSE (s[len(s) // 2] + s[len(s) // 2 + 1]) / 2.0 END AS med
          FROM sr
        ),
        mad AS (
          SELECT event_type, med,
                 CASE WHEN len(sa) % 2 = 1 THEN sa[(len(sa) + 1) // 2]
                      ELSE (sa[len(sa) // 2] + sa[len(sa) // 2 + 1]) / 2.0 END AS mad
          FROM (SELECT event_type, med,
                       list_sort(list_transform(s, v -> abs(v - med))) AS sa
                FROM med)
        )
        SELECT r.event_type, CAST(r.i AS BIGINT) AS day_idx,
               round(r.y, 6) AS y, round(r.y - r.resid, 6) AS forecast,
               round(r.resid, 6) AS resid,
               CASE WHEN abs(r.resid - m.med) > 3 * m.mad THEN 1 ELSE 0 END AS anomaly
        FROM resids r JOIN mad m ON r.event_type = m.event_type
      """)) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      val series = daily.groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("sd"))
        .select(col("event_type"), expr("transform(sd, x -> x.y)").as("ys"))
        .filter(size(col("ys")) >= 2)
      // the w31 fold with a residual accumulator: resid uses the PRE-update
      // state (acc at t-1), exactly like the CTE's r.l + r.b at step i
      val folded = series.withColumn("r", expr(
        """aggregate(slice(ys, 2, size(ys) - 1),
             named_struct('l', element_at(ys, 1),
                          'b', element_at(ys, 2) - element_at(ys, 1),
                          'r', cast(array() as array<double>)),
             (acc, y) -> named_struct(
               'l', 0.5d * y + 0.5d * (acc.l + acc.b),
               'b', 0.5d * ((0.5d * y + 0.5d * (acc.l + acc.b)) - acc.l)
                    + 0.5d * acc.b,
               'r', concat(acc.r, array(y - (acc.l + acc.b))))).r"""))
        .withColumn("sr", array_sort(col("r")))
        .withColumn("med", expr(
          """CASE WHEN size(sr) % 2 = 1
                  THEN element_at(sr, cast((size(sr) + 1) / 2 as int))
                  ELSE (element_at(sr, cast(size(sr) / 2 as int)) +
                        element_at(sr, cast(size(sr) / 2 as int) + 1)) / 2.0d END"""))
        .withColumn("sa", expr("array_sort(transform(r, v -> abs(v - med)))"))
        .withColumn("mad", expr(
          """CASE WHEN size(sa) % 2 = 1
                  THEN element_at(sa, cast((size(sa) + 1) / 2 as int))
                  ELSE (element_at(sa, cast(size(sa) / 2 as int)) +
                        element_at(sa, cast(size(sa) / 2 as int) + 1)) / 2.0d END"""))
      folded
        .select(col("event_type"), col("ys"), col("med"), col("mad"),
          posexplode(col("r")).as(Seq("p", "resid")))
        .select(col("event_type"), (col("p") + 2).cast("long").as("day_idx"),
          round(element_at(col("ys"), col("p") + 2), 6).as("y"),
          round(element_at(col("ys"), col("p") + 2) - col("resid"), 6)
            .as("forecast"),
          round(col("resid"), 6).as("resid"),
          when(abs(col("resid") - col("med")) > lit(3.0) * col("mad"), 1)
            .otherwise(0).as("anomaly"))
    },

    // ---- W20: truncated EWMA smoothing of the daily event signal ---------
    QueryDef(
      "w20_ewma_smoothing",
      "Exponentially-weighted moving average (alpha=0.3, adjust-normalized convention, 10-tap truncation) of each event type's daily mean value: one day-level pre-aggregation bounds the series to days x types, then ten lag taps ride ONE type-keyed window — no recursive state, no driver loop",
      Some {
        // num/den written as explicit left-associated chains; the Spark
        // expression below mirrors the term order exactly.
        val num = ewmaW.zipWithIndex.map { case (w, k) =>
          if (k == 0) s"$w * x" else s"COALESCE($w * lag(x, $k) OVER w, 0.0)"
        }.mkString(" + ")
        val den = ewmaW.zipWithIndex.map { case (w, k) =>
          if (k == 0) w
          else s"CASE WHEN lag(x, $k) OVER w IS NULL THEN 0.0 ELSE $w END"
        }.mkString(" + ")
        s"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS x
          FROM events GROUP BY 1, 2
        )
        SELECT event_type, CAST(d AS TIMESTAMP) AS day, round(x, 6) AS daily_avg,
               round(($num) / ($den), 6) AS ewma
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d)
        """
      }) { (s, dir) =>
      // The closed-form tap expansion is the distributed answer to a
      // recurrence: s_i = a*x_i + (1-a)*s_{i-1} looks inherently serial,
      // but weights below 0.7^9 ~ 0.04 contribute under rounding
      // precision, so a 10-tap truncation is exact to round(6) semantics
      // while keeping the whole query ONE window over ONE pre-aggregated
      // exchange. At 100 TB the day-level pre-agg is the load-bearing
      // move: the window sees days x types rows (thousands), never raw
      // events.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg((sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("x"))
      val w = Window.partitionBy("event_type").orderBy("d")
      def tap(k: Int): Column = {
        val wk = expr(ewmaW(k) + "D")
        if (k == 0) wk * col("x")
        else coalesce(wk * lag(col("x"), k).over(w), lit(0.0))
      }
      def wgt(k: Int): Column = {
        val wk = expr(ewmaW(k) + "D")
        if (k == 0) wk
        else when(lag(col("x"), k).over(w).isNull, lit(0.0)).otherwise(wk)
      }
      val num = (1 until 10).foldLeft(tap(0))((acc, k) => acc + tap(k))
      val den = (1 until 10).foldLeft(wgt(0))((acc, k) => acc + wgt(k))
      // date→timestamp for the output dtype only (both engines emit
      // timestamp[us]; a raw DATE column round-trips as different physical
      // types through the two parquet writers)
      daily.select(col("event_type"), col("d").cast("timestamp").as("day"),
        round(col("x"), 6).as("daily_avg"),
        round(num / den, 6).as("ewma"))
    },

    // ---- W21: median/MAD robust outlier flags ----------------------------
    QueryDef(
      "w21_mad_outliers",
      "Robust anomaly detection per event type: median + median-absolute-deviation of the daily total, days flagged where |x - med| > 3*MAD — exact medians over the day-bounded series; the per-type stats are 5 rows and broadcast back, so raw events shuffle exactly once (the daily groupBy)",
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
          FROM events GROUP BY 1, 2
        ),
        med AS (
          SELECT event_type, round(quantile_cont(x, 0.5), 6) AS med
          FROM daily GROUP BY 1
        ),
        dev AS (
          SELECT daily.event_type, round(abs(x - med), 6) AS dev
          FROM daily JOIN med USING (event_type)
        ),
        mad AS (
          SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
          FROM dev GROUP BY 1
        )
        SELECT dev.event_type, COUNT(*) AS n_days,
               MIN(med.med) AS med, MIN(mad.mad) AS mad,
               CAST(SUM(CASE WHEN dev.dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_outliers,
               round(MAX(dev.dev), 6) AS max_dev
        FROM dev JOIN med USING (event_type) JOIN mad USING (event_type)
        GROUP BY 1
      """)) { (s, dir) =>
      // Medians are exact (percentile, not approx) because the series they
      // run over is already day-bounded: ~30 rows per type here, ~36k rows
      // per type after a century of days — driver-safe at any corpus
      // scale. The med/mad relations are type-bounded (5 rows): broadcast
      // joins, so the plan's only data shuffle is the daily groupBy.
      // Both engines interpolate even-count medians as lower+0.5*(hi-lo)
      // over identical rounded inputs; round(6) pins the comparison.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("x"))
        .cache()
      val med = daily.groupBy("event_type")
        .agg(round(expr("percentile(x, 0.5D)"), 6).as("med"))
      val dev = daily.join(broadcast(med), "event_type")
        .select(col("event_type"), col("med"),
          round(abs(col("x") - col("med")), 6).as("dev"))
      val mad = dev.groupBy("event_type")
        .agg(round(expr("percentile(dev, 0.5D)"), 6).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          min(col("med")).as("med"),
          min(col("mad")).as("mad"),
          sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          round(max(col("dev")), 6).as("max_dev"))
    },

    // ---- A22: CUBE cross-tab over the order fact -------------------------
    QueryDef(
      "a22_cube_grouping",
      "CUBE (nation, order year): all four grouping sets — detail, per-nation, per-year, grand total — from ONE Expand + ONE map-side-combined aggregate; the dimension join broadcasts nation and shuffles orders&customer on the FK once",
      Some("""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(GROUPING(n_name) * 2 + GROUPING(year(o_orderdate)) AS INT) AS gid,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
               COUNT(*) AS n
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY CUBE(n_name, year(o_orderdate))
      """)) { (s, dir) =>
      // cube() compiles to one Expand (4 grouping sets per row) feeding
      // one hash aggregate with partial pushdown — the same
      // one-exchange-for-all-subtotals argument as a16_rollup, doubled.
      // At 100 TB: orders⋈customer is an FK equi-join both sides shuffle
      // on (customer is a real dimension, not broadcastable at scale);
      // nation is 25 rows and broadcasts; the Expand multiplies rows
      // AFTER the map-side partial has collapsed them to group cardinality.
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"),
          year(col("o_orderdate")).as("order_year"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name").as("nation")))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .cube(col("nation"), col("order_year"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(col("price")).cast("double").as("total"),
          count(lit(1)).as("n"))
        .select(col("nation"), col("order_year"), col("gid"), col("total"),
          col("n"))
    },

    // ---- W22: calendar-aware RANGE-frame trailing sum --------------------
    QueryDef(
      "w22_range_frame_sum",
      "Trailing 7-CALENDAR-day sum per event type via a RANGE frame over the day number — unlike a ROWS frame (w14), missing days shrink the window instead of silently stretching it across gaps; DECIMAL accumulation inside the frame, ONE type-keyed shuffle",
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dn,
                 SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS v
          FROM events GROUP BY 1, 2, 3
        )
        SELECT event_type, CAST(d AS TIMESTAMP) AS day,
               CAST(v AS DOUBLE) AS daily_value,
               CAST(SUM(v) OVER w AS DOUBLE) AS trailing_7d,
               CAST(COUNT(*) OVER w AS BIGINT) AS days_in_frame
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY dn
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      """)) { (s, dir) =>
      // RANGE vs ROWS is a correctness distinction, not a style one: a
      // ROWS 6-PRECEDING frame over a series with holes quietly sums 7
      // OBSERVATIONS spanning arbitrarily many calendar days. Ordering
      // the frame by day NUMBER makes the window calendar-true, and both
      // engines evaluate integer RANGE frames with the same semantics.
      // The frame sum stays in DECIMAL (order-free) until the output cast.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"),
          datediff(to_date(col("ts")), lit("2024-01-01")).as("dn"))
        .agg(sum(round(col("value"), 2).cast("decimal(18,2)")).as("v"))
      val w = Window.partitionBy("event_type").orderBy("dn")
        .rangeBetween(-6, Window.currentRow)
      daily.select(col("event_type"), col("d").cast("timestamp").as("day"),
        col("v").cast("double").as("daily_value"),
        sum(col("v")).over(w).cast("double").as("trailing_7d"),
        count(lit(1)).over(w).cast("long").as("days_in_frame"))
    },

    // ---- W23: overlapping-interval coalescing ----------------------------
    QueryDef(
      "w23_interval_merge",
      "Interval coalescing per supplier: each lineitem spans shipdate..shipdate+quantity%14 days; overlapping/touching spans merge into islands (new island when start > running max of prior ends), then per-supplier coverage stats — island detection, island rollup, and the final stats share ONE supplier-keyed exchange",
      Some("""
        WITH iv AS (
          SELECT l_suppkey AS supp, CAST(l_shipdate AS DATE) AS s,
                 CAST(l_shipdate AS DATE)
                   + CAST(CAST(l_quantity AS BIGINT) % 14 AS INT) AS e
          FROM lineitem WHERE l_suppkey % 25 = 0
        ),
        flagged AS (
          SELECT supp, s, e,
                 CASE WHEN max(e) OVER (PARTITION BY supp ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= s
                      THEN 0 ELSE 1 END AS is_new
          FROM iv
        ),
        islands AS (
          SELECT supp, s, e,
                 SUM(is_new) OVER (PARTITION BY supp ORDER BY s, e
                   ROWS UNBOUNDED PRECEDING) AS island
          FROM flagged
        ),
        spans AS (
          SELECT supp, island, MIN(s) AS span_s, MAX(e) AS span_e,
                 CAST(count(*) AS BIGINT) AS n_iv
          FROM islands GROUP BY supp, island
        )
        SELECT supp, CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(SUM(date_diff('day', span_s, span_e) + 1) AS BIGINT)
                 AS covered_days,
               CAST(MAX(date_diff('day', span_s, span_e) + 1) AS BIGINT)
                 AS longest_span_days
        FROM spans GROUP BY supp
      """)) { (s, dir) =>
      // The classic islands pattern at scale: "does this interval extend
      // the current island" is a running MAX over prior ends — a frame
      // Spark evaluates incrementally, never materializing the prefix —
      // and the island id is a running SUM of the boundary flags. All
      // three windows plus both rollups hash-partition on the supplier
      // key, so the executed plan carries exactly one exchange; no
      // interval self-join (the naive O(n^2) overlap formulation) ever
      // appears.
      val iv = t(s, dir, "lineitem").filter(col("l_suppkey") % 25 === 0)
        .select(col("l_suppkey").as("supp"),
          to_date(col("l_shipdate")).as("s"),
          date_add(to_date(col("l_shipdate")),
            (col("l_quantity").cast("long") % 14).cast("int")).as("e"))
      val order = Window.partitionBy("supp").orderBy(col("s"), col("e"))
      val prevMax = max(col("e"))
        .over(order.rowsBetween(Window.unboundedPreceding, -1))
      val islands = iv
        .withColumn("is_new",
          when(prevMax >= col("s"), 0L).otherwise(1L))
        .withColumn("island",
          sum(col("is_new")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      val spans = islands.groupBy(col("supp"), col("island"))
        .agg(min(col("s")).as("span_s"), max(col("e")).as("span_e"),
          count(lit(1)).as("n_iv"))
      spans.groupBy(col("supp"))
        .agg(sum(col("n_iv")).cast("long").as("n_intervals"),
          count(lit(1)).as("n_spans"),
          sum(datediff(col("span_e"), col("span_s")) + 1).cast("long")
            .as("covered_days"),
          max(datediff(col("span_e"), col("span_s")) + 1).cast("long")
            .as("longest_span_days"))
    },

    // ---- W24: year-over-year growth --------------------------------------
    QueryDef(
      "w24_yoy_growth",
      "Year-over-year revenue growth per nation: DECIMAL yearly sums, lag over the nation-keyed year series, growth vs the previous RECORDED year (first year NULL) — the yearly rollup and the lag share one nation-keyed exchange; nation broadcasts into the FK join",
      Some("""
        WITH yearly AS (
          SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS yr,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2
        )
        SELECT nation, yr, CAST(rev AS DOUBLE) AS revenue,
               CAST(lag(rev) OVER w AS DOUBLE) AS prev_revenue,
               round((CAST(rev AS DOUBLE) - CAST(lag(rev) OVER w AS DOUBLE)) * 100
                     / CAST(lag(rev) OVER w AS DOUBLE), 6) AS yoy_pct
        FROM yearly
        WINDOW w AS (PARTITION BY nation ORDER BY yr)
      """)) { (s, dir) =>
      // The report every warehouse ships: the growth lag rides the SAME
      // nation partitioning the yearly rollup produced, so no second
      // exchange; sums stay DECIMAL until the output cast and the growth
      // arithmetic is written operand-for-operand identically in both
      // engines. "Previous RECORDED year" (lag), not calendar-previous —
      // a gap year compares against the last year that had orders.
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"),
          year(col("o_orderdate")).cast("int").as("yr"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val nat = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name").as("nation")))
      val yearly = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(nat, c("c_nationkey") === nat("n_nationkey"))
        .groupBy(col("nation"), col("yr"))
        .agg(sum(col("price")).as("rev"))
      val w = Window.partitionBy("nation").orderBy("yr")
      val prev = lag(col("rev"), 1).over(w).cast("double")
      yearly.select(col("nation"), col("yr"),
        col("rev").cast("double").as("revenue"),
        prev.as("prev_revenue"),
        round((col("rev").cast("double") - prev) * 100 / prev, 6).as("yoy_pct"))
    },

    // ---- W27: CUSUM change-point statistic ---------------------------------
    QueryDef(
      "w27_cusum_drift",
      "CUSUM drift detection per event type: the clamped recurrence C_n = max(0, C_(n-1) + dev_n) looks inherently serial but unrolls EXACTLY to S_n - min(0, prefix-min of S) — two window passes (running sum, running min) on ONE type-keyed exchange over the day-level pre-aggregation. Deviations, cumsums, and the 3x-mean-absolute-deviation alarm threshold all accumulate in DECIMAL, so the alarm comparison is exact in both engines; alarm = cusum > h",
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                            / COUNT(*), 6) AS DECIMAL(18,6)) AS x
          FROM events GROUP BY 1, 2
        ),
        tgt AS (
          SELECT event_type,
                 CAST(round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6)
                      AS DECIMAL(18,6)) AS target
          FROM daily GROUP BY 1
        ),
        dev AS (
          SELECT daily.event_type, d, x, x - target AS dev
          FROM daily JOIN tgt ON daily.event_type = tgt.event_type
        ),
        h AS (
          SELECT event_type,
                 CAST(round(3 * CAST(SUM(abs(dev)) AS DOUBLE) / COUNT(*), 6)
                      AS DECIMAL(18,6)) AS h
          FROM dev GROUP BY 1
        ),
        s AS (
          SELECT event_type, d, x, dev,
                 SUM(dev) OVER (PARTITION BY event_type ORDER BY d) AS sp
          FROM dev
        ),
        c AS (
          SELECT event_type, d, x, sp,
                 sp - LEAST(MIN(sp) OVER (PARTITION BY event_type ORDER BY d),
                            CAST(0 AS DECIMAL(18,6))) AS cusum
          FROM s
        )
        SELECT c.event_type, CAST(d AS TIMESTAMP) AS day,
               round(CAST(x AS DOUBLE), 6) AS daily_avg,
               round(CAST(cusum AS DOUBLE), 6) AS cusum,
               cusum > h.h AS alarm
        FROM c JOIN h ON c.event_type = h.event_type
      """)) { (s, dir) =>
      // Day-level pre-agg bounds the windows to days x types; the target
      // and threshold relations are type-bounded and broadcast. Exact
      // DECIMAL arithmetic end-to-end means Spark's running-accumulation
      // and DuckDB's segment-tree window produce the SAME cumsum (order-
      // free), and the strict alarm comparison cannot straddle an ulp.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(round(sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).cast("decimal(18,6)").as("x"))
        .cache()
      val tgt = daily.groupBy(col("event_type"))
        .agg(round(sum(col("x")).cast("double") / count(lit(1)), 6)
          .cast("decimal(18,6)").as("target"))
      val dev = daily.join(broadcast(tgt), Seq("event_type"))
        .select(col("event_type"), col("d"), col("x"),
          (col("x") - col("target")).as("dev"))
        .cache()
      val hRel = dev.groupBy(col("event_type"))
        .agg(round(lit(3) * sum(abs(col("dev"))).cast("double") / count(lit(1)), 6)
          .cast("decimal(18,6)").as("h"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val withS = dev.withColumn("sp", sum(col("dev")).over(w))
      val withC = withS.withColumn("cusum",
        col("sp") - least(min(col("sp")).over(w), lit(0).cast("decimal(18,6)")))
      withC.join(broadcast(hRel), Seq("event_type"))
        .select(col("event_type"), col("d").cast("timestamp").as("day"),
          round(col("x").cast("double"), 6).as("daily_avg"),
          round(col("cusum").cast("double"), 6).as("cusum"),
          (col("cusum") > col("h")).as("alarm"))
    },

    // ---- W26: first-order Markov transition matrix ------------------------
    QueryDef(
      "w26_markov_transitions",
      "First-order Markov chain over each user's event sequence: P(next_type | cur_type) with transition counts — ONE user-keyed shuffle for the lead() window, a type-pair groupBy, and the per-state totals re-derived by a type-bounded groupBy that broadcasts back (|types|^2 rows, never user-scale). The sequence-model the funnel (w15) and sessionize (w12) views don't state: where users GO next",
      Some("""
        WITH seq AS (
          SELECT event_type AS cur,
                 lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM events
        ),
        tr AS (
          SELECT cur, nxt, CAST(count(*) AS BIGINT) AS transitions
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
        ),
        tot AS (SELECT cur, CAST(sum(transitions) AS BIGINT) AS tot FROM tr GROUP BY 1)
        SELECT tr.cur AS cur_type, tr.nxt AS next_type, transitions,
               round(transitions / CAST(tot AS DOUBLE), 6) AS prob
        FROM tr JOIN tot ON tr.cur = tot.cur
      """)) { (s, dir) =>
      // (ts, event_id) ordering makes simultaneous events deterministic in
      // both engines. The transitions relation is |types|^2 — everything
      // after the window is effectively free; the row-normalizing totals
      // join broadcasts.
      val seq = t(s, dir, "events")
        .select(col("event_type").as("cur"),
          lead(col("event_type"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
            .as("nxt"))
        .filter(col("nxt").isNotNull)
      // tr is |types|^2 rows but feeds BOTH the totals and the output join —
      // cache it so the user-keyed window pass over the events stream runs
      // once, not once per consumer
      val tr = seq.groupBy(col("cur"), col("nxt"))
        .agg(count(lit(1)).as("transitions")).cache()
      val tot = tr.groupBy(col("cur")).agg(sum(col("transitions")).as("tot"))
      tr.join(broadcast(tot), Seq("cur"))
        .select(col("cur").as("cur_type"), col("nxt").as("next_type"),
          col("transitions"),
          round(col("transitions") / col("tot").cast("double"), 6).as("prob"))
    })
}
