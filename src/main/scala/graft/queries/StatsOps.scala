package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.search.Text

/** Distribution-level statistical tests and corpus diagnostics a
  * training-data pipeline runs before trusting a source: rank tests
  * (Mann-Whitney U), distribution equality (two-sample KS), robust trend
  * (Theil-Sen), first-digit fraud screening (Benford), dependence between
  * metadata facets (mutual information), autocorrelation of a metric
  * series, and the two scale diagnostics every 100-TB operator needs
  * before a shuffle is planned: join-key skew profiling and Heaps-law
  * vocabulary growth.
  *
  * The common scale discipline (the a21/a25/w18 lessons applied from the
  * start): every test folds the FACT table into a bounded sufficient-
  * statistic relation in ONE map-side-combined pass — value-grain counts
  * for the rank/ECDF tests, calendar-grain sums for the series tests,
  * cell counts for MI, count-of-counts for the skew profile — and all
  * windows ride bucket-partitioned bounded relations (never the raw
  * fact, never a SinglePartition sort). Accumulation is DECIMAL/BIGINT
  * exact until the final scalar arithmetic, so both engines derive the
  * same doubles from the same integers (the a20 libm lesson: never let
  * float summation ORDER differ across engines).
  */
object StatsOps {

  /** Strict-lower-bucket offsets: for each bucket, the sum of `valueCol`
    * over all lower buckets (w18's year-offset shape on an arbitrary
    * bounded bucket relation). Non-equi left join → BroadcastNestedLoop
    * over a bounded relation, never a cartesian over data. */
  private def lowerOffsets(bt: DataFrame, bktCol: String, cols: Seq[String]): DataFrame = {
    val x = bt.as("x")
    val y = bt.as("y")
    x.join(y, col(s"y.$bktCol") < col(s"x.$bktCol"), "left")
      .groupBy(col(s"x.$bktCol").as(bktCol))
      .agg(cols.map(c => coalesce(sum(col(s"y.$c")), lit(0L)).as(s"off_$c")).head,
        cols.map(c => coalesce(sum(col(s"y.$c")), lit(0L)).as(s"off_$c")).tail: _*)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- A26: Mann-Whitney U rank test ----------------------------------
    QueryDef(
      "a26_mann_whitney",
      "Mann-Whitney U rank test between two customer segments on account balance — the non-parametric twin of a25's Welch t: value-grain counts (ONE map-side-combined groupBy keyed by (segment-pair value)) carry average-rank sums in EXACT integers (2x-rank trick keeps .5 ranks integral), the cumulative below-count rides a bucket-partitioned window + broadcast bucket offsets (w18's two-phase shape — no SinglePartition sort), and U, the tie-corrected z, and the verdict are arithmetic on one row",
      Some("""
        WITH v AS (
          SELECT CAST(round(c_acctbal, 2) AS DECIMAL(12,2)) AS v,
                 CAST(count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS BIGINT) AS na,
                 CAST(count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS BIGINT) AS nb
          FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
          GROUP BY 1
        ),
        cum AS (
          SELECT v, na, nb, na + nb AS nt,
                 COALESCE(SUM(na + nb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_less
          FROM v
        ),
        g AS (
          SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b,
                 CAST(SUM(na * (2 * cum_less + nt + 1)) AS BIGINT) AS r2a,
                 CAST(SUM(nt * nt * nt - nt) AS BIGINT) AS tie_t
          FROM cum
        )
        SELECT n_a, n_b,
               round(r2a / 2.0 - n_a * (n_a + 1) / 2.0, 1) AS u_a,
               round(n_a * CAST(n_b AS DOUBLE)
                     - (r2a / 2.0 - n_a * (n_a + 1) / 2.0), 1) AS u_b,
               round(((r2a / 2.0 - n_a * (n_a + 1) / 2.0) - n_a * n_b / 2.0)
                 / sqrt(n_a * CAST(n_b AS DOUBLE) / 12.0
                   * ((n_a + n_b + 1)
                      - tie_t / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))), 6) AS z,
               abs(((r2a / 2.0 - n_a * (n_a + 1) / 2.0) - n_a * n_b / 2.0)
                 / sqrt(n_a * CAST(n_b AS DOUBLE) / 12.0
                   * ((n_a + n_b + 1)
                      - tie_t / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))) > 1.96
                 AS significant
        FROM g
      """)) { (s, dir) =>
      // Phase 1: value-grain counts — THE data-sized shuffle, keyed by the
      // 2-decimal balance value so it distributes and map-side combines.
      val perV = t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .groupBy(round(col("c_acctbal"), 2).cast(DecimalType(12, 2)).as("v"))
        .agg(sum(when(col("c_mktsegment") === "AUTOMOBILE", 1L).otherwise(0L)).as("na"),
          sum(when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)).as("nb"))
        .withColumn("nt", col("na") + col("nb"))
        .withColumn("bkt", floor(col("v") / 100).cast("long"))
        .cache()
      // Phase 2: the cumulative below-count never sorts one partition —
      // within-bucket running sum + broadcast strict-lower bucket offsets
      // (the balance range is fixed, so the bucket relation is bounded).
      val bt = perV.groupBy("bkt").agg(sum(col("nt")).as("cnt"))
      val off = lowerOffsets(bt, "bkt", Seq("cnt"))
      val wIn = Window.partitionBy("bkt").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = perV.join(broadcast(off), Seq("bkt"))
        .withColumn("cum_less", col("off_cnt") + sum(col("nt")).over(wIn) - col("nt"))
      // Phase 3: one global fold to the sufficient statistics, then pure
      // scalar arithmetic (doubles derived from exact BIGINTs only).
      cum.agg(
          sum(col("na")).cast("long").as("n_a"),
          sum(col("nb")).cast("long").as("n_b"),
          sum(col("na") * (lit(2) * col("cum_less") + col("nt") + 1)).cast("long").as("r2a"),
          sum(col("nt") * col("nt") * col("nt") - col("nt")).cast("long").as("tie_t"))
        .selectExpr("n_a", "n_b",
          // NB: bare 2.0 parses as DECIMAL(2,1) in Spark SQL — the D
          // suffix keeps the arithmetic (and the output type) DOUBLE,
          // matching DuckDB's float literal semantics
          "round(r2a / 2.0D - n_a * (n_a + 1) / 2.0D, 1) AS u_a",
          "round(n_a * CAST(n_b AS DOUBLE) - (r2a / 2.0D - n_a * (n_a + 1) / 2.0D), 1) AS u_b",
          """round(((r2a / 2.0D - n_a * (n_a + 1) / 2.0D) - n_a * n_b / 2.0D)
             / sqrt(n_a * CAST(n_b AS DOUBLE) / 12.0D
               * ((n_a + n_b + 1)
                  - tie_t / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))), 6) AS z""",
          """abs(((r2a / 2.0D - n_a * (n_a + 1) / 2.0D) - n_a * n_b / 2.0D)
             / sqrt(n_a * CAST(n_b AS DOUBLE) / 12.0D
               * ((n_a + n_b + 1)
                  - tie_t / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))) > 1.96D
             AS significant""")
    },

    // ---- A27: two-sample Kolmogorov-Smirnov -----------------------------
    QueryDef(
      "a27_ks_test",
      "Two-sample Kolmogorov-Smirnov between URGENT and LOW order-value distributions: the supremum ECDF gap located entirely in COUNT SPACE — per-value counts, bucket-partitioned inclusive cumsums for both samples in one window pass, and the max gap compared as the EXACT integer |cumA*nB - cumB*nA| (no float ECDF ever ranked), so argmax and ties are engine-independent by construction; D and the 1.36*sqrt((na+nb)/(na*nb)) decision render to doubles only at the end",
      Some("""
        WITH v AS (
          SELECT CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS v,
                 CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS na,
                 CAST(count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS nb
          FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
          GROUP BY 1
        ),
        cum AS (
          SELECT v, na, nb,
                 SUM(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
                 SUM(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
          FROM v
        ),
        tot AS (
          SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b FROM v
        ),
        gap AS (
          SELECT c.v, CAST(abs(c.ca * t.n_b - c.cb * t.n_a) AS BIGINT) AS num,
                 t.n_a, t.n_b
          FROM cum c CROSS JOIN tot t
        ),
        mx AS (SELECT MAX(num) AS mxnum FROM gap)
        SELECT g.n_a, g.n_b,
               round(m.mxnum / (g.n_a * CAST(g.n_b AS DOUBLE)), 6) AS d_stat,
               CAST(MIN(g.v) AS DOUBLE) AS v_at_max,
               m.mxnum / (g.n_a * CAST(g.n_b AS DOUBLE))
                 > 1.36 * sqrt((g.n_a + g.n_b) / (g.n_a * CAST(g.n_b AS DOUBLE)))
                 AS significant
        FROM gap g JOIN mx m ON g.num = m.mxnum
        GROUP BY g.n_a, g.n_b, m.mxnum
      """)) { (s, dir) =>
      // value-grain counts: one distributed map-side-combined shuffle
      val perV = t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(round(col("o_totalprice"), 2).cast(DecimalType(18, 2)).as("v"))
        .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("na"),
          sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L)).as("nb"))
        .withColumn("bkt", floor(col("v") / 10000).cast("long"))
        .cache()
      // two-phase inclusive cumsums for BOTH samples in one bucket window
      val bt = perV.groupBy("bkt").agg(sum(col("na")).as("na"), sum(col("nb")).as("nb"))
      val off = lowerOffsets(bt, "bkt", Seq("na", "nb"))
      val wIn = Window.partitionBy("bkt").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = perV.join(broadcast(off), Seq("bkt"))
        .select(col("v"),
          (col("off_na") + sum(col("na")).over(wIn)).as("ca"),
          (col("off_nb") + sum(col("nb")).over(wIn)).as("cb"))
      val tot = perV.agg(sum(col("na")).cast("long").as("n_a"),
        sum(col("nb")).cast("long").as("n_b"))
      // exact-integer gap; sup located by integer max, tie -> smallest v
      val gap = cum.crossJoin(broadcast(tot))
        .select(col("v"), abs(col("ca") * col("n_b") - col("cb") * col("n_a"))
          .cast("long").as("num"), col("n_a"), col("n_b"))
      val mx = gap.agg(max(col("num")).as("mxnum"))
      gap.join(broadcast(mx), col("num") === col("mxnum"))
        .groupBy(col("n_a"), col("n_b"), col("mxnum"))
        .agg(min(col("v")).cast("double").as("v_at_max"))
        .selectExpr("n_a", "n_b",
          "round(mxnum / (n_a * CAST(n_b AS DOUBLE)), 6) AS d_stat",
          "v_at_max",
          """mxnum / (n_a * CAST(n_b AS DOUBLE))
             > 1.36 * sqrt((n_a + n_b) / (n_a * CAST(n_b AS DOUBLE))) AS significant""")
        .select(col("n_a"), col("n_b"), col("d_stat"), col("v_at_max"),
          col("significant"))
    },

    // ---- A28: Theil-Sen robust trend ------------------------------------
    QueryDef(
      "a28_theil_sen",
      "Theil-Sen robust monthly-revenue trend per market segment: the median of pairwise slopes that one outlier month cannot drag (vs a19's least-squares line). The fact table folds to a CALENDAR-BOUNDED month-grain relation in one exact-DECIMAL pass; the pairwise self-join and the exact interpolated median run on month-pairs (months^2 is bounded by the calendar, not the data), so the operator's cost is constant in corpus size",
      Some("""
        WITH m AS (
          SELECT c.c_mktsegment AS seg,
                 year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m,
                 CAST(CAST(SUM(CAST(round(o.o_totalprice, 2) AS DECIMAL(18,2)))
                      AS DECIMAL(18,2)) AS DOUBLE) AS rev
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a.seg, (b.rev - a.rev) / (b.m - a.m) AS slope
          FROM m a JOIN m b ON a.seg = b.seg AND a.m < b.m
        )
        SELECT m.seg, CAST(COUNT(*) AS BIGINT) AS n_months,
               CAST(p.n_pairs AS BIGINT) AS n_pairs,
               round(p.sen, 6) AS sen_slope
        FROM m
        JOIN (SELECT seg, COUNT(*) AS n_pairs, quantile_cont(slope, 0.5) AS sen
              FROM pairs GROUP BY seg) p ON p.seg = m.seg
        GROUP BY m.seg, p.n_pairs, p.sen
      """)) { (s, dir) =>
      // month-grain fold: the only data-sized pass; DECIMAL-exact revenue
      val mrel = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
        .agg(sum(round(col("o_totalprice"), 2).cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).cast("double").as("rev"))
        .cache()
      // calendar-bounded pairwise slopes; exact interpolated median
      val pairs = mrel.as("a")
        .join(broadcast(mrel.as("b")),
          col("a.seg") === col("b.seg") && col("a.m") < col("b.m"))
        .select(col("a.seg").as("seg"),
          ((col("b.rev") - col("a.rev")) / (col("b.m") - col("a.m"))).as("slope"))
      val sen = pairs.groupBy("seg")
        .agg(count(lit(1)).as("n_pairs"),
          expr("percentile(slope, 0.5)").as("sen"))
      mrel.groupBy("seg").agg(count(lit(1)).as("n_months"))
        .join(broadcast(sen), Seq("seg"))
        .select(col("seg"), col("n_months"), col("n_pairs"),
          round(col("sen"), 6).as("sen_slope"))
    },

    // ---- W33: autocorrelation function ----------------------------------
    QueryDef(
      "w33_acf",
      "Autocorrelation of the daily event-revenue series at lags 1-7 — the seasonality detector behind w28's residual split: the fact folds to a day-grain DECIMAL-exact relation once, lag pairs come from a 7-way explode + day-keyed equi-join (never a window over one partition), and each acf_k derives from exact sums (sum xy, sum x, sum y per lag + global sum/sumsq) so both engines compute the identical centered products from identical integers",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(SUM(CAST(round(value, 2) AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS x
          FROM events GROUP BY 1
        ),
        gstat AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS DECIMAL(28,2)) AS sx,
                 CAST(SUM(x * x) AS DECIMAL(38,4)) AS sxx
          FROM daily
        ),
        lagged AS (
          SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(a.x * b.x) AS DECIMAL(38,4)) AS sp,
                 CAST(SUM(a.x) AS DECIMAL(28,2)) AS s1,
                 CAST(SUM(b.x) AS DECIMAL(28,2)) AS s2
          FROM daily a
          CROSS JOIN (SELECT unnest(range(1, 8)) AS k) k
          JOIN daily b ON b.d = a.d + CAST(k.k AS INT)
          GROUP BY k.k
        )
        SELECT CAST(l.k AS INT) AS k, l.n_pairs,
               round((CAST(l.sp AS DOUBLE)
                      - (CAST(g.sx AS DOUBLE) / g.n)
                        * (CAST(l.s1 AS DOUBLE) + CAST(l.s2 AS DOUBLE))
                      + l.n_pairs * (CAST(g.sx AS DOUBLE) / g.n)
                        * (CAST(g.sx AS DOUBLE) / g.n))
                 / (CAST(g.sxx AS DOUBLE)
                    - g.n * (CAST(g.sx AS DOUBLE) / g.n)
                      * (CAST(g.sx AS DOUBLE) / g.n)), 6) AS acf
        FROM lagged l CROSS JOIN gstat g
      """)) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("ts").cast("date").as("d"))
        .agg(sum(round(col("value"), 2).cast(DecimalType(12, 2)))
          .cast(DecimalType(18, 2)).as("x"))
        .cache()
      val glob = daily.agg(count(lit(1)).as("n"),
        sum(col("x")).cast(DecimalType(28, 2)).as("sx"),
        sum(col("x") * col("x")).cast(DecimalType(38, 4)).as("sxx"))
      // 7-way lag explode + day-keyed join: the shuffle key is the date,
      // so the pair generation distributes over the calendar
      val lagged = daily
        .select(col("d"), col("x"),
          explode(array((1 to 7).map(lit): _*)).as("k"))
        .withColumn("d2", date_add(col("d"), col("k")))
        .join(daily.select(col("d").as("d2"), col("x").as("x2")), Seq("d2"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x") * col("x2")).cast(DecimalType(38, 4)).as("sp"),
          sum(col("x")).cast(DecimalType(28, 2)).as("s1"),
          sum(col("x2")).cast(DecimalType(28, 2)).as("s2"))
      lagged.crossJoin(broadcast(glob))
        .selectExpr("CAST(k AS INT) AS k", "n_pairs",
          """round((CAST(sp AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / n)
                      * (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE))
                    + n_pairs * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
               / (CAST(sxx AS DOUBLE)
                  - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)), 6)
             AS acf""")
    },

    // ---- DD94: mutual information between metadata facets ----------------
    QueryDef(
      "dd94_mutual_info",
      "Mutual information (and entropies + NMI) between document language and source — the facet-dependence screen that tells a mixture designer whether source quotas already pin language balance: cell counts in ONE map-side-combined groupBy, margins re-aggregated from the cell relation (facet-bounded, never a second corpus pass), MI/H as exact-count ratios rendered to doubles at the end",
      Some("""
        WITH cells AS (
          SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2
        ),
        n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        lx AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
        ly AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
        mi AS (
          SELECT CAST(SUM(cl.c) AS BIGINT) AS n_docs,
                 SUM((cl.c / CAST(n.n AS DOUBLE))
                     * ln(cl.c * CAST(n.n AS DOUBLE)
                          / (lx.cx * CAST(ly.cy AS DOUBLE)))) AS mi
          FROM cells cl
          JOIN lx ON lx.lang = cl.lang
          JOIN ly ON ly.source = cl.source
          CROSS JOIN n
        ),
        hx AS (SELECT -SUM((cx / CAST(n.n AS DOUBLE))
                           * ln(cx / CAST(n.n AS DOUBLE))) AS h
               FROM lx CROSS JOIN n),
        hy AS (SELECT -SUM((cy / CAST(n.n AS DOUBLE))
                           * ln(cy / CAST(n.n AS DOUBLE))) AS h
               FROM ly CROSS JOIN n)
        SELECT mi.n_docs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lx) AS n_langs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ly) AS n_sources,
               round(mi.mi, 6) AS mi,
               round(hx.h, 6) AS h_lang,
               round(hy.h, 6) AS h_source,
               round(mi.mi / sqrt(hx.h * hy.h), 6) AS nmi
        FROM mi CROSS JOIN hx CROSS JOIN hy
      """)) { (s, dir) =>
      val cells = t(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("c")).cache()
      val n = cells.agg(sum(col("c")).cast("long").as("n"))
      val lx = cells.groupBy("lang").agg(sum(col("c")).cast("long").as("cx")).cache()
      val ly = cells.groupBy("source").agg(sum(col("c")).cast("long").as("cy")).cache()
      val mi = cells
        .join(broadcast(lx), Seq("lang")).join(broadcast(ly), Seq("source"))
        .crossJoin(broadcast(n))
        .agg(sum(col("c")).cast("long").as("n_docs"),
          sum((col("c") / col("n").cast("double"))
            * log(col("c") * col("n").cast("double")
              / (col("cx") * col("cy").cast("double")))).as("mi"))
      val hx = lx.crossJoin(broadcast(n))
        .agg((-sum((col("cx") / col("n").cast("double"))
          * log(col("cx") / col("n").cast("double")))).as("h_lang"),
          count(lit(1)).as("n_langs"))
      val hy = ly.crossJoin(broadcast(n))
        .agg((-sum((col("cy") / col("n").cast("double"))
          * log(col("cy") / col("n").cast("double")))).as("h_source"),
          count(lit(1)).as("n_sources"))
      mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
        .select(col("n_docs"), col("n_langs"), col("n_sources"),
          round(col("mi"), 6).as("mi"),
          round(col("h_lang"), 6).as("h_lang"),
          round(col("h_source"), 6).as("h_source"),
          round(col("mi") / sqrt(col("h_lang") * col("h_source")), 6).as("nmi"))
    },

    // ---- DD95: Benford first-digit screen --------------------------------
    QueryDef(
      "dd95_benford",
      "Benford first-significant-digit test of order values per priority class — the cheap upstream-data fraud/synthesis screen: digit extraction is a scalar expression, counts fold in one (priority, digit)-keyed groupBy, expected counts and the chi-square verdict (df=8, alpha=.05 crit 15.5073) derive per 9-row group and broadcast back onto the digit rows",
      Some("""
        WITH d AS (
          SELECT o_orderpriority AS priority,
                 CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                                1, 1) AS INT) AS digit,
                 CAST(COUNT(*) AS BIGINT) AS obs
          FROM orders WHERE o_totalprice >= 1
          GROUP BY 1, 2
        ),
        tot AS (SELECT priority, CAST(SUM(obs) AS BIGINT) AS n FROM d GROUP BY 1),
        x AS (
          SELECT d.priority, d.digit, d.obs, t.n,
                 t.n * log10(1 + 1.0 / d.digit) AS expected
          FROM d JOIN tot t ON t.priority = d.priority
        ),
        chi AS (
          SELECT priority,
                 SUM((obs - expected) * (obs - expected) / expected) AS chi2
          FROM x GROUP BY 1
        )
        SELECT x.priority, x.digit, x.obs, round(x.expected, 4) AS expected,
               round(c.chi2, 4) AS chi2, c.chi2 <= 15.5073 AS benford_pass
        FROM x JOIN chi c ON c.priority = x.priority
      """)) { (s, dir) =>
      val d = t(s, dir, "orders")
        .filter(col("o_totalprice") >= 1)
        .groupBy(col("o_orderpriority").as("priority"),
          substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
            .cast("int").as("digit"))
        .agg(count(lit(1)).as("obs"))
      val tot = d.groupBy("priority").agg(sum(col("obs")).cast("long").as("n"))
      val x = d.join(broadcast(tot), Seq("priority"))
        .withColumn("expected", col("n") * log10(lit(1) + lit(1.0) / col("digit")))
        .cache()
      val chi = x.groupBy("priority")
        .agg(sum((col("obs") - col("expected")) * (col("obs") - col("expected"))
          / col("expected")).as("chi2"))
      x.join(broadcast(chi), Seq("priority"))
        .select(col("priority"), col("digit"), col("obs"),
          round(col("expected"), 4).as("expected"),
          round(col("chi2"), 4).as("chi2"),
          (col("chi2") <= 15.5073).as("benford_pass"))
    },

    // ---- DD96: join-key skew profile -------------------------------------
    QueryDef(
      "dd96_skew_profile",
      "Shuffle-key skew profile of orders.o_custkey — the diagnostic a planner consults BEFORE keying a 100-TB shuffle (j14's salting and AQE skew-join are the cures; this is the thermometer): per-key counts fold once, then EVERYTHING (max, exact p50/p99, top-1 share, CV, Gini) is computed on the COUNT-OF-COUNTS relation, whose size is the number of DISTINCT frequencies — bounded — via strict/inclusive inequality self-joins, no window and no second pass over data",
      Some("""
        WITH kc AS (
          SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1
        ),
        cc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM kc GROUP BY 1),
        g AS (
          SELECT CAST(SUM(m) AS BIGINT) AS n_keys,
                 CAST(SUM(m * c) AS BIGINT) AS n_rows,
                 CAST(MAX(c) AS BIGINT) AS max_cnt,
                 CAST(SUM(m * c * c) AS BIGINT) AS sc2
          FROM cc
        ),
        cum AS (
          SELECT a.c, a.m,
                 CAST(COALESCE(SUM(b.m), 0) AS BIGINT) AS m_prev,
                 CAST(COALESCE(SUM(b.m), 0) + a.m AS BIGINT) AS m_le
          FROM cc a LEFT JOIN cc b ON b.c < a.c
          GROUP BY a.c, a.m
        ),
        quant AS (
          SELECT
            MIN(CASE WHEN m_le * 2 >= (SELECT n_keys FROM g) THEN c END) AS p50_cnt,
            MIN(CASE WHEN m_le * 100 >= 99 * (SELECT n_keys FROM g) THEN c END) AS p99_cnt
          FROM cum
        ),
        gini AS (
          SELECT CAST(SUM(c * (2 * m * m_prev + m * (m + 1))) AS BIGINT) AS s2i
          FROM cum
        )
        SELECT g.n_keys, g.n_rows, g.max_cnt,
               round(g.n_rows / CAST(g.n_keys AS DOUBLE), 6) AS avg_cnt,
               CAST(q.p50_cnt AS BIGINT) AS p50_cnt,
               CAST(q.p99_cnt AS BIGINT) AS p99_cnt,
               round(g.max_cnt / (g.n_rows / CAST(g.n_keys AS DOUBLE)), 6) AS skew_factor,
               round(g.max_cnt / CAST(g.n_rows AS DOUBLE), 6) AS top1_share,
               round(sqrt(g.sc2 / CAST(g.n_keys AS DOUBLE)
                          - (g.n_rows / CAST(g.n_keys AS DOUBLE))
                            * (g.n_rows / CAST(g.n_keys AS DOUBLE)))
                     / (g.n_rows / CAST(g.n_keys AS DOUBLE)), 6) AS cv,
               round(gi.s2i / (CAST(g.n_keys AS DOUBLE) * g.n_rows)
                     - (g.n_keys + 1) / CAST(g.n_keys AS DOUBLE), 6) AS gini
        FROM g CROSS JOIN quant q CROSS JOIN gini gi
      """)) { (s, dir) =>
      // per-key counts: THE data shuffle; everything below is bounded by
      // the number of distinct frequencies
      val kc = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("c"))
      val cc = kc.groupBy("c").agg(count(lit(1)).as("m")).cache()
      val g = cc.agg(sum(col("m")).cast("long").as("n_keys"),
        sum(col("m") * col("c")).cast("long").as("n_rows"),
        max(col("c")).cast("long").as("max_cnt"),
        sum(col("m") * col("c") * col("c")).cast("long").as("sc2"))
      // strict-lower cumulative multiplicity via bounded self-join (no
      // window: the count-of-counts relation has no natural bucket key)
      val cum = cc.as("a").join(cc.as("b"), col("b.c") < col("a.c"), "left")
        .groupBy(col("a.c").as("c"), col("a.m").as("m"))
        .agg(coalesce(sum(col("b.m")), lit(0L)).cast("long").as("m_prev"))
        .withColumn("m_le", (col("m_prev") + col("m")).cast("long"))
        .cache()
      val quant = cum.crossJoin(broadcast(g.select(col("n_keys").as("nk"))))
        .agg(min(when(col("m_le") * 2 >= col("nk"), col("c"))).cast("long").as("p50_cnt"),
          min(when(col("m_le") * 100 >= col("nk") * 99, col("c"))).cast("long")
            .as("p99_cnt"))
      val gini = cum.agg(sum(col("c")
        * (lit(2) * col("m") * col("m_prev") + col("m") * (col("m") + 1)))
        .cast("long").as("s2i"))
      g.crossJoin(broadcast(quant)).crossJoin(broadcast(gini))
        .selectExpr("n_keys", "n_rows", "max_cnt",
          "round(n_rows / CAST(n_keys AS DOUBLE), 6) AS avg_cnt",
          "p50_cnt", "p99_cnt",
          "round(max_cnt / (n_rows / CAST(n_keys AS DOUBLE)), 6) AS skew_factor",
          "round(max_cnt / CAST(n_rows AS DOUBLE), 6) AS top1_share",
          """round(sqrt(sc2 / CAST(n_keys AS DOUBLE)
                        - (n_rows / CAST(n_keys AS DOUBLE))
                          * (n_rows / CAST(n_keys AS DOUBLE)))
                   / (n_rows / CAST(n_keys AS DOUBLE)), 6) AS cv""",
          """round(s2i / (CAST(n_keys AS DOUBLE) * n_rows)
                   - (n_keys + 1) / CAST(n_keys AS DOUBLE), 6) AS gini""")
    },

    // ---- DD97: Heaps-law vocabulary growth --------------------------------
    QueryDef(
      "dd97_heaps_law",
      "Heaps-law vocabulary growth over the corpus in doc-id order — the capacity-planning curve for every vocabulary-bounded operator in the engine (BPE mines, feature LMs, inverted indexes): V(n)=k*n^beta fitted by log-log OLS over 10 id-space checkpoints. Runs on w18's first-seen identity: a token enters the vocabulary exactly once (min doc_id per token), so each checkpoint's vocab is a COUNT of first-occurrences below the threshold — token-grain + doc-grain relations joined to 10 broadcast checkpoints, never a cumulative window over the corpus",
      Some("""
        WITH docs AS (
          SELECT doc_id, len(string_split(text, ' ')) AS tokcnt FROM documents
        ),
        firsts AS (
          SELECT w, MIN(doc_id) AS first_doc
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
          GROUP BY w
        ),
        bounds AS (SELECT MAX(doc_id) + 1 AS hi FROM docs),
        cps AS (
          SELECT CAST(i.i AS INT) AS i,
                 CAST(floor((b.hi * i.i) / 10.0) AS BIGINT) AS thr
          FROM (SELECT unnest(range(1, 11)) AS i) i CROSS JOIN bounds b
        ),
        pts AS (
          SELECT c.i, c.thr,
                 CAST((SELECT COUNT(*) FROM docs d WHERE d.doc_id < c.thr) AS BIGINT)
                   AS n_docs_seen,
                 CAST((SELECT COALESCE(SUM(d.tokcnt), 0) FROM docs d
                       WHERE d.doc_id < c.thr) AS BIGINT) AS n_tokens,
                 CAST((SELECT COUNT(*) FROM firsts f WHERE f.first_doc < c.thr)
                   AS BIGINT) AS vocab
          FROM cps c
        ),
        fit AS (
          SELECT (SUM(ln(n_tokens) * ln(vocab)) - COUNT(*)
                    * AVG(ln(n_tokens)) * AVG(ln(vocab)))
                 / (SUM(ln(n_tokens) * ln(n_tokens)) - COUNT(*)
                    * AVG(ln(n_tokens)) * AVG(ln(n_tokens))) AS beta,
                 AVG(ln(vocab)) AS my, AVG(ln(n_tokens)) AS mx
          FROM pts
          WHERE vocab > 0 AND n_tokens > 0
        )
        SELECT p.i, p.n_docs_seen, p.n_tokens, p.vocab,
               round(f.beta, 6) AS heaps_beta,
               round(exp(f.my - f.beta * f.mx), 3) AS heaps_k
        FROM pts p CROSS JOIN fit f
      """)) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), size(Text.tokens).as("tokcnt"))
        .cache()
      // token-grain first-occurrence: one corpus-sized shuffle keyed by token
      val firsts = Text.tokenRows(t(s, dir, "documents"), Seq(col("doc_id")))
        .groupBy("w").agg(min(col("doc_id")).as("first_doc"))
      val cps = docs.agg((max(col("doc_id")) + 1).as("hi"))
        .select(explode(array((1 to 10).map(lit): _*)).as("i"), col("hi"))
        .select(col("i").cast("int").as("i"),
          floor((col("hi") * col("i")) / 10.0).cast("long").as("thr"))
      // checkpoint aggregates: each doc/token maps to the checkpoints it
      // precedes (<=10-way fan-out), partial aggregation folds map-side
      val nd = docs.join(broadcast(cps), col("doc_id") < col("thr"))
        .groupBy("i", "thr")
        .agg(count(lit(1)).as("n_docs_seen"),
          coalesce(sum(col("tokcnt")), lit(0L)).cast("long").as("n_tokens"))
      val vc = firsts.join(broadcast(cps), col("first_doc") < col("thr"))
        .groupBy("i").agg(count(lit(1)).as("vocab"))
      // spine-complete points: LEFT-join both aggregates onto the 10-row
      // checkpoint spine with coalesce(0) — an id distribution sparse or
      // clustered enough to leave a checkpoint empty must emit the zero
      // row (as the oracle's scalar subqueries always did), not drop it.
      // Zero points are excluded from the log-log fit on BOTH sides.
      val pts = cps.join(nd, Seq("i", "thr"), "left").join(vc, Seq("i"), "left")
        .select(col("i"), col("thr"),
          coalesce(col("n_docs_seen"), lit(0L)).as("n_docs_seen"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("vocab"), lit(0L)).as("vocab"))
        .cache()
      val fit = pts.filter(col("vocab") > 0 && col("n_tokens") > 0).agg(
        ((sum(log(col("n_tokens")) * log(col("vocab")))
          - count(lit(1)) * avg(log(col("n_tokens"))) * avg(log(col("vocab"))))
          / (sum(log(col("n_tokens")) * log(col("n_tokens")))
            - count(lit(1)) * avg(log(col("n_tokens"))) * avg(log(col("n_tokens")))))
          .as("beta"),
        avg(log(col("vocab"))).as("my"),
        avg(log(col("n_tokens"))).as("mx"))
      pts.crossJoin(broadcast(fit))
        .select(col("i"), col("n_docs_seen"), col("n_tokens"), col("vocab"),
          round(col("beta"), 6).as("heaps_beta"),
          round(exp(col("my") - col("beta") * col("mx")), 3).as("heaps_k"))
    },

    // ---- A30: Cochran-Armitage trend test ---------------------------------
    // "Is the urgent-order share drifting monotonically across years?" —
    // the ordered-bucket complement of a20's chi-square (which only says
    // "different", not "trending"). T = sum s_i (r_i - n_i p), with year
    // index as the score; everything folds from the year-grain count
    // relation, so the fact table shuffles once and the test is 1-row
    // arithmetic on exact BIGINTs.
    QueryDef(
      "a30_trend_test",
      "Cochran-Armitage trend z on urgent-order share across order years: ONE year-grain conditional groupBy (map-side combined), scores = year - 1995, T and Var(T) from exact integer sums with identical double arithmetic both engines, |z|>1.96 verdict",
      Some("""
        WITH yg AS (
          SELECT CAST(extract(year FROM o_orderdate) - 1995 AS BIGINT) AS sc,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                               THEN 1 ELSE 0 END) AS BIGINT) AS r
          FROM orders GROUP BY 1
        ),
        g AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(n) AS BIGINT) AS nt, CAST(sum(r) AS BIGINT) AS rt,
                 CAST(sum(sc * r) AS BIGINT) AS sr,
                 CAST(sum(sc * n) AS BIGINT) AS sn,
                 CAST(sum(sc * sc * n) AS BIGINT) AS ssn
          FROM yg
        )
        SELECT k, nt, rt,
               round((sr - sn * (CAST(rt AS DOUBLE) / nt))
                 / sqrt((CAST(rt AS DOUBLE) / nt) * (1 - CAST(rt AS DOUBLE) / nt)
                   * (ssn - CAST(sn AS DOUBLE) * sn / nt)), 6) AS z,
               abs((sr - sn * (CAST(rt AS DOUBLE) / nt))
                 / sqrt((CAST(rt AS DOUBLE) / nt) * (1 - CAST(rt AS DOUBLE) / nt)
                   * (ssn - CAST(sn AS DOUBLE) * sn / nt))) > 1.96 AS significant
        FROM g
      """)) { (s, dir) =>
      val yg = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) - 1995).cast("long").as("sc"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("r"))
      val g = yg.agg(count(lit(1)).as("k"),
        sum(col("n")).cast("long").as("nt"), sum(col("r")).cast("long").as("rt"),
        sum(col("sc") * col("r")).cast("long").as("sr"),
        sum(col("sc") * col("n")).cast("long").as("sn"),
        sum(col("sc") * col("sc") * col("n")).cast("long").as("ssn"))
      val p = col("rt").cast("double") / col("nt")
      val zc = (col("sr") - col("sn") * p) /
        sqrt(p * (lit(1) - p) * (col("ssn") - col("sn").cast("double") * col("sn") / col("nt")))
      g.select(col("k"), col("nt"), col("rt"),
        round(zc, 6).as("z"), (abs(zc) > 1.96).as("significant"))
    },

    // ---- W35: inter-arrival gap percentiles per segment --------------------
    // RFM-style purchase-cadence profiling: per customer the day gaps
    // between consecutive orders (a custkey-partitioned lag — parallelism
    // grows with customers), then EXACT p50/p90 of the gap distribution
    // per market segment from the value-grain count relation — the gap
    // domain is calendar-bounded, so the percentile never sorts fact rows.
    QueryDef(
      "w35_interarrival",
      "Inter-order gap percentiles per segment: consecutive-order day gaps via a per-customer lag (data-proportional partitions), ONE (segment, gap)-grain groupBy, exact lower-quantile p50/p90 as the smallest gap with cum count >= ceil(q*n) — cumulative counts ride the bounded value-grain relation; plus mean gap from exact integer sums",
      Some("""
        WITH gaps AS (
          SELECT c.c_mktsegment AS seg,
                 date_diff('day',
                   lag(CAST(o.o_orderdate AS DATE)) OVER (PARTITION BY o.o_custkey
                     ORDER BY o.o_orderdate, o.o_orderkey),
                   CAST(o.o_orderdate AS DATE)) AS gap
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        vg AS (
          SELECT seg, CAST(gap AS BIGINT) AS gap, CAST(count(*) AS BIGINT) AS cnt
          FROM gaps WHERE gap IS NOT NULL GROUP BY 1, 2
        ),
        cum AS (
          SELECT seg, gap, cnt,
                 SUM(cnt) OVER (PARTITION BY seg ORDER BY gap) AS cle,
                 SUM(cnt) OVER (PARTITION BY seg) AS n,
                 SUM(gap * cnt) OVER (PARTITION BY seg) AS sgap
          FROM vg
        )
        SELECT seg, CAST(MAX(n) AS BIGINT) AS n_gaps,
               CAST(MIN(CASE WHEN cle >= CAST(ceil(0.5 * n) AS BIGINT)
                             THEN gap END) AS BIGINT) AS p50_gap,
               CAST(MIN(CASE WHEN cle >= CAST(ceil(0.9 * n) AS BIGINT)
                             THEN gap END) AS BIGINT) AS p90_gap,
               round(CAST(MAX(sgap) AS DOUBLE) / MAX(n), 6) AS mean_gap
        FROM cum GROUP BY 1
      """)) { (s, dir) =>
      val wLag = Window.partitionBy("o_custkey")
        .orderBy(col("d"), col("o_orderkey"))
      val gaps = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("d"))
        .withColumn("gap", datediff(col("d"), lag(col("d"), 1).over(wLag)))
        .filter(col("gap").isNotNull)
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("seg")), Seq("o_custkey"))
      val vg = gaps.groupBy(col("seg"), col("gap").cast("long").as("gap"))
        .agg(count(lit(1)).as("cnt"))
      // the gap domain is calendar-bounded: windows ride the value-grain
      // relation partitioned per segment, never the raw order stream
      val wC = Window.partitionBy("seg").orderBy("gap")
      val wAll = Window.partitionBy("seg")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      vg.withColumn("cle", sum(col("cnt")).over(wC))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .withColumn("sgap", sum(col("gap") * col("cnt")).over(wAll))
        .groupBy(col("seg"))
        .agg(max(col("n")).cast("long").as("n_gaps"),
          min(when(col("cle") >= ceil(lit(0.5) * col("n")).cast("long"), col("gap")))
            .cast("long").as("p50_gap"),
          min(when(col("cle") >= ceil(lit(0.9) * col("n")).cast("long"), col("gap")))
            .cast("long").as("p90_gap"),
          round(max(col("sgap")).cast("double") / max(col("n")), 6).as("mean_gap"))
    },

    // ---- W34: single changepoint by binary segmentation -------------------
    // CUSUM (dd27) detects that a series drifted; binary segmentation
    // localizes WHERE: the split of the daily order-count series that
    // maximizes the between-segment SSE reduction S_L^2/n_L + S_R^2/n_R
    // - S^2/n (the first step of the classic changepoint recursion).
    // Every candidate's score is arithmetic on exact BIGINT prefix sums;
    // the prefix sums ride month-bucket two-phase cumulatives (never a
    // global Sort over the series), and the argmax is a TakeOrdered over
    // the bounded day relation.
    QueryDef(
      "w34_changepoint",
      "Binary-segmentation changepoint on daily order counts: day-grain pre-agg is THE data shuffle; day index and prefix sums via within-month windows + broadcast strict-lower month offsets (w18's two-phase shape); per-candidate gain from exact integer sums in identical double arithmetic both engines, round(6), deterministic argmax (gain desc, index asc)",
      Some("""
        WITH days AS (
          SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
          FROM orders GROUP BY 1
        ),
        idx AS (
          SELECT d, y, ROW_NUMBER() OVER (ORDER BY d) AS i,
                 SUM(y) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
          FROM days
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(y) AS BIGINT) AS s
                FROM days),
        cand AS (
          SELECT i.d, i.i, i.cs, t.nd, t.s,
                 round(CAST(i.cs * i.cs AS DOUBLE) / i.i
                       + CAST((t.s - i.cs) * (t.s - i.cs) AS DOUBLE) / (t.nd - i.i)
                       - CAST(t.s * t.s AS DOUBLE) / t.nd, 6) AS gain
          FROM idx i CROSS JOIN tot t WHERE i.i < t.nd
        )
        SELECT CAST(d AS TIMESTAMP) AS split_day, CAST(i AS BIGINT) AS split_idx, gain,
               round(CAST(cs AS DOUBLE) / i, 6) AS mean_left,
               round(CAST(s - cs AS DOUBLE) / (nd - i), 6) AS mean_right
        FROM cand ORDER BY gain DESC, i LIMIT 1
      """)) { (s, dir) =>
      val days = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(count(lit(1)).as("y"))
        .withColumn("bkt", (year(col("d")) * 12 + month(col("d"))).cast("long"))
        .cache()
      val bt = days.groupBy("bkt").agg(count(lit(1)).as("cnt"), sum(col("y")).as("wsum"))
      val off = lowerOffsets(bt, "bkt", Seq("cnt", "wsum"))
      val wRn = Window.partitionBy("bkt").orderBy("d")
      val wIn = wRn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val idx = days.join(broadcast(off), Seq("bkt"))
        .withColumn("i", col("off_cnt") + row_number().over(wRn).cast("long"))
        .withColumn("cs", col("off_wsum") + sum(col("y")).over(wIn))
      val tot = days.agg(count(lit(1)).as("nd"), sum(col("y")).cast("long").as("s"))
      idx.crossJoin(broadcast(tot)).filter(col("i") < col("nd"))
        .select(col("d"), col("i"), col("cs"), col("nd"), col("s"),
          round((col("cs") * col("cs")).cast("double") / col("i")
            + ((col("s") - col("cs")) * (col("s") - col("cs"))).cast("double")
              / (col("nd") - col("i"))
            - (col("s") * col("s")).cast("double") / col("nd"), 6).as("gain"))
        .orderBy(col("gain").desc, col("i")).limit(1)
        .select(col("d").cast("timestamp").as("split_day"),
          col("i").cast("long").as("split_idx"),
          col("gain"),
          round(col("cs").cast("double") / col("i"), 6).as("mean_left"),
          round((col("s") - col("cs")).cast("double") / (col("nd") - col("i")), 6)
            .as("mean_right"))
    },

    // ---- A29: Gini coefficient + Lorenz deciles ---------------------------
    // Concentration of positive account balances: the exact Gini from the
    // rank-sum identity G = 2*sum(k*x_(k))/(n*sum x) - (n+1)/n, where the
    // per-tie-group rank sum v*(c*np + c(c+1)/2) folds from the VALUE-
    // GRAIN relation in exact integer cents — no per-row rank, no global
    // sort. Lorenz deciles interpolate inside the tie group that spans
    // each n*d/10 boundary (10 broadcast thresholds range-joined to the
    // bounded cum relation, dd97's checkpoint shape).
    QueryDef(
      "a29_gini_lorenz",
      "Gini + Lorenz deciles of positive customer balances in exact cents: ONE value-grain groupBy, cumulative below-counts/sums ride bucket-partitioned windows + broadcast bucket offsets (w18's two-phase shape — never a SinglePartition sort), the rank-sum identity folds per tie group as BIGINT/DECIMAL(38,0), decile shares interpolate at exact integer boundaries; both engines derive every double from the same integers",
      Some("""
        WITH v AS (
          SELECT CAST(CAST(round(c_acctbal, 2) AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
                 CAST(count(*) AS BIGINT) AS c
          FROM customer WHERE c_acctbal > 0
          GROUP BY 1
        ),
        cum AS (
          SELECT v, c,
                 COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS np,
                 COALESCE(SUM(v * c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sp
          FROM v
        ),
        g AS (
          SELECT CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(v * c) AS BIGINT) AS stot,
                 CAST(SUM(v * (c * np + c * (c + 1) // 2)) AS DECIMAL(38,0)) AS ranksum
          FROM cum
        ),
        pts AS (
          SELECT d.d, (g.n * d.d) // 10 AS k, cum.v, cum.np, cum.sp
          FROM (SELECT CAST(unnest(range(1, 11)) AS INT) AS d) d
          CROSS JOIN g
          JOIN cum ON cum.np < (g.n * d.d) // 10
                  AND (g.n * d.d) // 10 <= cum.np + cum.c
        )
        SELECT p.d AS decile, CAST(p.k AS BIGINT) AS k_members,
               round(CAST(p.sp + p.v * (p.k - p.np) AS DOUBLE) / g.stot, 6)
                 AS cum_share,
               round(2.0 * CAST(g.ranksum AS DOUBLE)
                     / (CAST(g.n AS DOUBLE) * g.stot)
                     - (g.n + 1.0) / g.n, 6) AS gini
        FROM pts p CROSS JOIN g
      """)) { (s, dir) =>
      val vg = t(s, dir, "customer").filter(col("c_acctbal") > 0)
        .groupBy((round(col("c_acctbal"), 2).cast(DecimalType(12, 2)) * 100)
          .cast("long").as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("w", col("v") * col("c"))
        .withColumn("bkt", (col("v") / 10000).cast("long"))
        .cache()
      // two-phase cumulatives: the balance range is fixed, so the bucket
      // relation is bounded; within-bucket windows partition per bucket
      val bt = vg.groupBy("bkt").agg(sum(col("c")).as("cnt"), sum(col("w")).as("wsum"))
      val off = lowerOffsets(bt, "bkt", Seq("cnt", "wsum"))
      val wIn = Window.partitionBy("bkt").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = vg.join(broadcast(off), Seq("bkt"))
        .withColumn("np", col("off_cnt") + coalesce(sum(col("c")).over(wIn), lit(0L)))
        .withColumn("sp", col("off_wsum") + coalesce(sum(col("w")).over(wIn), lit(0L)))
        .cache()
      val g = cum.agg(sum(col("c")).cast("long").as("n"),
        sum(col("w")).cast("long").as("stot"),
        sum(expr("v * (c * np + c * (c + 1) div 2)"))
          .cast(DecimalType(38, 0)).as("ranksum"))
      val thr = g.select(col("n"), col("stot"), col("ranksum"),
          explode(array((1 to 10).map(lit): _*)).as("d"))
        .withColumn("d", col("d").cast("int"))
        .withColumn("k", expr("(n * d) div 10"))
      cum.join(broadcast(thr),
          col("np") < col("k") && col("k") <= col("np") + col("c"))
        .select(col("d").as("decile"), col("k").cast("long").as("k_members"),
          round((col("sp") + col("v") * (col("k") - col("np"))).cast("double")
            / col("stot"), 6).as("cum_share"),
          round(lit(2.0) * col("ranksum").cast("double")
            / (col("n").cast("double") * col("stot"))
            - (col("n") + 1.0) / col("n"), 6).as("gini"))
    },

    // ---- DD99: Hill tail-index of the doc-length distribution ------------
    // Companion to dd48 (Zipf) and dd97 (Heaps): the Hill estimator of the
    // Pareto tail exponent of per-source document lengths — the number
    // that says whether a source's length tail is heavy enough to need
    // skew handling (alpha <= 2: unbounded variance => salting/packing
    // decisions change). Tie-free tail definition on the VALUE-GRAIN
    // relation: vstar = largest length with >= k+1 docs at-or-above it,
    // tail = strictly-greater lengths (m_used <= k reported, never
    // assumed), so no per-doc order statistic and no doc-grain sort.
    QueryDef(
      "dd99_hill_tail",
      "Hill tail-index per language over doc lengths: ONE value-grain groupBy (lang x distinct-length — sub-linear), cumulative at-or-above counts ride the bounded value-grain relation partitioned per language, threshold vstar = max length with cnt_ge >= 51, alpha = m / (sum cnt*ln(v) - m*ln(vstar)) with each ln-term rounded to DECIMAL(24,8) before the sum so accumulation order is engine-free",
      Some("""
        WITH vg AS (
          SELECT lang, n_chars AS v, COUNT(*) AS cnt
          FROM documents GROUP BY 1, 2
        ),
        cum AS (
          SELECT lang, v, cnt,
                 SUM(cnt) OVER (PARTITION BY lang ORDER BY v DESC) AS cnt_ge
          FROM vg
        ),
        thr AS (
          SELECT lang, MAX(v) AS vstar FROM cum WHERE cnt_ge >= 51 GROUP BY 1
        ),
        tail AS (
          SELECT c.lang, t.vstar,
                 CAST(SUM(c.cnt) AS BIGINT) AS m_used,
                 CAST(SUM(CAST(round(c.cnt * ln(CAST(c.v AS DOUBLE)), 8)
                               AS DECIMAL(24,8))) AS DECIMAL(38,8)) AS slnv
          FROM cum c JOIN thr t ON c.lang = t.lang AND c.v > t.vstar
          GROUP BY 1, 2
        )
        SELECT lang, m_used, CAST(vstar AS BIGINT) AS v_threshold,
               round(m_used / (CAST(slnv AS DOUBLE)
                               - m_used * ln(CAST(vstar AS DOUBLE))), 6) AS hill_alpha
        FROM tail
      """)) { (s, dir) =>
      val vg = t(s, dir, "documents")
        .groupBy(col("lang"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val wv = Window.partitionBy("lang").orderBy(col("v").desc)
      val cum = vg.withColumn("cnt_ge", sum(col("cnt")).over(wv)).cache()
      val thr = cum.filter(col("cnt_ge") >= 51)
        .groupBy("lang").agg(max(col("v")).as("vstar"))
      cum.as("c")
        .join(broadcast(thr.as("t")),
          col("c.lang") === col("t.lang") && col("c.v") > col("t.vstar"))
        .groupBy(col("c.lang").as("lang"), col("t.vstar").as("vstar"))
        .agg(sum(col("c.cnt")).cast("long").as("m_used"),
          sum(round(col("c.cnt") * log(col("c.v").cast("double")), 8)
            .cast(DecimalType(24, 8))).cast(DecimalType(38, 8)).as("slnv"))
        .select(col("lang"), col("m_used"),
          col("vstar").cast("long").as("v_threshold"),
          round(col("m_used") / (col("slnv").cast("double")
            - col("m_used") * log(col("vstar").cast("double"))), 6).as("hill_alpha"))
    })
}
