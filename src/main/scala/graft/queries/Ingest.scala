package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.streaming.EventsStream

/** Incremental-ingestion operators (SURVEY.md §2.1 S3) and the batch
  * faces of the streaming transforms (§2.11) — the same EventsStream
  * functions run unmodified over a streaming source in StreamingSpec.
  */
object Ingest {

  /** Working dir for a replay-parity maintainer: rooted under target/ (so
    * build cleaning removes it) and wiped at each invocation start, so
    * repeated bench/verify runs keep exactly ONE copy of the versioned
    * state on disk instead of leaking a temp dir per run. The returned
    * DataFrame reads from this dir, so it must survive the invocation —
    * deletion happens on the NEXT run, never eagerly. */
  private def replayDir(name: String): String = {
    val p = java.nio.file.Paths.get("target", "replay", name)
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete(); ()
    }
    del(p.toFile)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- S3: greatest-of-maxes incremental watermark ---------------------
    QueryDef(
      "s3_watermark",
      "Effective start = GREATEST(COALESCE(MAX(CASE WHEN ...)), floor date) over two change columns (etl_crimes.py:246-290)",
      Some("""
        SELECT CAST(floor(epoch(greatest(
                 COALESCE(MAX(CASE WHEN ts >= TIMESTAMP '2024-01-10' THEN ts END),
                          TIMESTAMP '2024-01-01'),
                 COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN ts END),
                          TIMESTAMP '2024-01-01')))) AS BIGINT) AS watermark_epoch,
               COUNT(*) AS scanned_rows
        FROM events
      """)) { (s, dir) =>
      val floorTs = to_timestamp(lit("2024-01-01 00:00:00"))
      t(s, dir, "events").agg(
        unix_timestamp(greatest(
          coalesce(max(when(col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")),
            col("ts"))), floorTs),
          coalesce(max(when(col("event_type") === "purchase", col("ts"))), floorTs)))
          .as("watermark_epoch"),
        count(lit(1)).as("scanned_rows"))
    },

    // ---- §2.11: tumbling-window aggregation (batch face) ------------------
    QueryDef(
      "st_tumbling_window",
      "1-hour tumbling window counts + exact sums (EventsStream.tumblingCounts; oracle via date_trunc)",
      Some("""
        SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
      """)) { (s, dir) =>
      EventsStream.tumblingCounts(t(s, dir, "events"))
    },

    // ---- §2.11: sliding windows (batch face) ------------------------------
    QueryDef(
      "st_sliding_window",
      "1-hour windows sliding every 30 min — each event in two windows (EventsStream.slidingCounts)",
      Some("""
        SELECT (CAST(floor(epoch(ts) / 1800) AS BIGINT) - i) * 1800 AS window_start,
               event_type, COUNT(*) AS n
        FROM events, UNNEST([0, 1]) AS t(i)
        GROUP BY 1, 2
      """)) { (s, dir) =>
      EventsStream.slidingCounts(t(s, dir, "events"))
    },

    // ---- §2.11: session windows (batch face) ------------------------------
    QueryDef(
      "st_session_window",
      "Per-user 30-minute-gap sessions via native session_window; oracle = lag/gap-sum sessionization",
      Some("""
        WITH gaps AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        >= INTERVAL 30 MINUTE OR
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 THEN 1 ELSE 0 END AS new_session
          FROM events
        ),
        sessions AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM gaps
        )
        SELECT user_id,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
               CAST(floor(epoch(MAX(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS session_end,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
      """)) { (s, dir) =>
      EventsStream.sessionized(t(s, dir, "events"))
    },

    // ---- stream-stream interval join (batch face) -------------------------
    QueryDef(
      "st_interval_join",
      "Click->purchase attribution within 1h per user (EventsStream.attributedPurchases; bounded join state via watermarks)",
      Some("""
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
               CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
               p.value AS amount
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      """)) { (s, dir) =>
      val ev = t(s, dir, "events")
      EventsStream.attributedPurchases(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
    },

    // ---- exactly-once dedup within watermark (batch face) -----------------
    QueryDef(
      "st_dedup_watermark",
      "Exactly-once ingestion under at-least-once delivery: a planted redelivery stream (every 7th event arrives twice, byte-identical) deduped by event_id within the watermark (EventsStream.dedupWithinWatermark ≅ dropDuplicatesWithinWatermark state semantics; StreamingSpec drives the MemoryStream twin) — per-type counts and exact sums after dedup must equal the clean source, which is the oracle: inflation on the %7 residue classes means a dedup miss. PRECONDITION: event_id is unique in the fixture (ValidationSpec pins count == countDistinct) — with reused ids carrying different payloads, dropDuplicates would pick an arbitrary row and the clean-table oracle would desync",
      Some("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type
      """)) { (s, dir) =>
      val ev = t(s, dir, "events")
      val redelivered = ev.unionByName(ev.filter(col("event_id") % 7 === 0))
      EventsStream.dedupWithinWatermark(redelivered)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    },

    // ---- watermark lateness audit (batch face) ----------------------------
    // Before picking a withWatermark delay, a pipeline audits what that
    // delay WOULD drop on historical data: replay events in PROCESSING
    // order (event time + a deterministic per-event delivery delay of
    // (event_id % 997) seconds — the fixture stream itself arrives
    // perfectly ordered, so disorder is injected, not assumed); event i
    // drops iff its event time sits more than the delay behind the max
    // event time already processed (the strictest per-event variant of
    // Spark's per-batch global watermark — an upper bound on drops).
    // The processing-order running max is the scale trap: a naive window
    // sorts the whole stream in ONE partition. Two-phase instead:
    // hourly processing-time buckets (count grows with the stream but
    // stays ~1e4 per replayed year), per-bucket max, strict-lower-bucket
    // prefix max on the small bucket relation (the O(B^2) non-equi join
    // prices at B~minutes: a 1-minute grain made this the slowest query
    // in the inventory — at larger horizons add a second bucket level,
    // never a finer grain), within-bucket running max per bucket.
    QueryDef(
      "st_late_audit",
      "Watermark lateness audit (10-min delay) per event type over a jittered-delivery replay: processing-order prefix max of event time via the two-phase hour-bucket shape (never a SinglePartition sort over events); all comparisons in exact epoch-microsecond BIGINTs; emits drop counts, drop share, and total lateness mass — the numbers that price a watermark delay before a stream ships",
      Some("""
        WITH e AS (
          SELECT event_id, event_type, epoch_us(ts) AS tu,
                 epoch_us(ts) + (event_id % 997) * 1000000 AS ptu
          FROM events
        ),
        r AS (
          SELECT event_type, tu,
                 MAX(tu) OVER (ORDER BY ptu, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
          FROM e
        )
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN runmax IS NOT NULL AND runmax - 600000000 > tu
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               CAST(sum(CASE WHEN runmax IS NOT NULL AND runmax - 600000000 > tu
                             THEN runmax - 600000000 - tu ELSE 0 END) AS BIGINT)
                 AS sum_late_us,
               round(CAST(sum(CASE WHEN runmax IS NOT NULL
                                    AND runmax - 600000000 > tu
                                   THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                 AS late_share
        FROM r GROUP BY 1
      """)) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tu"))
        .withColumn("ptu", col("tu") + (col("event_id") % 997) * lit(1000000L))
        .withColumn("bkt", (col("ptu") / 3600000000L).cast("long"))
        .cache()
      val bmax = ev.groupBy("bkt").agg(max(col("tu")).as("bmax"))
      // strict-lower prefix max on the hour-bucket relation; left join
      // keeps the first bucket with a null prefix
      val pre = bmax.as("x").join(bmax.as("y"), col("y.bkt") < col("x.bkt"), "left")
        .groupBy(col("x.bkt").as("bkt")).agg(max(col("y.bmax")).as("pmax"))
      val wIn = Window.partitionBy("bkt").orderBy(col("ptu"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.join(broadcast(pre), Seq("bkt"))
        // greatest() skips nulls; only the very first event sees all-null
        .withColumn("runmax", greatest(max(col("tu")).over(wIn), col("pmax")))
        .withColumn("late", col("runmax").isNotNull &&
          col("runmax") - lit(600000000L) > col("tu"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
          sum(when(col("late"), col("runmax") - lit(600000000L) - col("tu"))
            .otherwise(0L)).cast("long").as("sum_late_us"),
          round(sum(when(col("late"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("late_share"))
    },

    // ---- S11: multi-statement SQL-script runner ---------------------------
    QueryDef(
      "s11_script_runner",
      "Quote/comment-aware script splitter + guarded sequential execution; result = last statement (views_refresh_sql.py shape)",
      Some("""
        SELECT o_orderstatus AS grp, COUNT(*) AS n,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS urgent_n
        FROM orders
        WHERE o_orderstatus <> 'X;Y'
        GROUP BY o_orderstatus
      """)) { (s, dir) =>
      // the script deliberately contains every splitter trap: an
      // apostrophe inside a line comment, semicolons inside a block
      // comment, and a quoted literal holding a ';' — a naive split
      // would merge or truncate statements and change the result
      val script =
        """-- prelude scan; don't let this apostrophe break the splitter
          |SELECT COUNT(*) AS warmup FROM nation;
          |/* block comment; with ; embedded ; semicolons */
          |SELECT o_orderstatus AS grp, COUNT(*) AS n,
          |       SUM(CASE WHEN o_orderpriority = '1-URGENT'
          |                THEN 1 ELSE 0 END) AS urgent_n
          |FROM orders
          |WHERE o_orderstatus <> 'X;Y'
          |GROUP BY o_orderstatus
          |""".stripMargin
      graft.ingest.RawZone.runScript(s, dir, script).fold(
        d => throw new IllegalStateException(s"script denied: ${d.reason}"),
        identity)
    },

    // ---- L3: permissive-parse quarantine boundary --------------------------
    QueryDef(
      "l3_quarantine_boundary",
      "Malformed payloads quarantine instead of dropping or failing the batch: PERMISSIVE from_json over a planted corruption schedule (RawZone corrupt-record boundary, llm boundary l3)",
      Some("""
        WITH raw AS (
          SELECT o_orderkey,
                 '{"k":' || o_orderkey || ',"p":"' || o_orderpriority || '"}' AS js0
          FROM orders
        ),
        staged AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 13 = 0
                      THEN substr(js0, 1, length(js0) - 2) ELSE js0 END AS js
          FROM raw
        )
        SELECT CASE WHEN json_valid(js) THEN 'parsed' ELSE 'quarantined' END AS status,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN json_valid(js)
                             THEN CAST(json_extract(js, '$.k') AS BIGINT) END)
                    AS BIGINT) AS k_sum,
               CAST(COUNT(DISTINCT CASE WHEN json_valid(js)
                          THEN json_extract_string(js, '$.p') END) AS BIGINT) AS n_prio
        FROM staged GROUP BY 1
      """)) { (s, dir) =>
      // corruption schedule derived from the data itself (every 13th key
      // loses its closing quote+brace) so DuckDB plants the identical
      // malformed payloads; PERMISSIVE parse nulls the struct instead of
      // failing the batch — the quarantined rows stay countable
      val js0 = concat(lit("{\"k\":"), col("o_orderkey"),
        lit(",\"p\":\""), col("o_orderpriority"), lit("\"}"))
      // size-gated fan-out before the render + PERMISSIVE re-parse, which
      // ran inside the 1-task orders scan (profiled 0.52 s single task)
      graft.core.Fanout.bySize(s,
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          dir, "orders")
        .withColumn("js0", js0)
        .withColumn("js",
          when(col("o_orderkey") % 13 === 0,
            expr("substring(js0, 1, length(js0) - 2)")).otherwise(col("js0")))
        .select(from_json(col("js"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG, p STRING"))
          .as("parsed"), col("js"))
        .select(
          when(col("parsed").isNotNull && col("parsed.k").isNotNull, "parsed")
            .otherwise("quarantined").as("status"),
          col("parsed.k").as("k"), col("parsed.p").as("p"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          countDistinct(col("p")).as("n_prio"))
    },

    // ---- §2.11: streaming↔batch parity, gold maintainer (driver-visible) --
    // The ten streaming suites prove parity in spec only; these two rows
    // make it ORACLE-visible: replay a deterministic micro-batch schedule
    // through the maintainer's incremental path (the exact function its
    // foreachBatch sink calls), emit the FINAL maintained state, and let
    // DuckDB rebuild that state from scratch — streamed splices must
    // hash-equal the batch twin. Schedule for gold: init = parents %4==0,
    // two insert batches (%4==1, %4 in 2..3), then a whole-parent UPDATE
    // batch (quantity+1 for parents %8==0) exercising the child-replace
    // path, not just appends.
    QueryDef(
      "st_gold_replay_parity",
      "GoldMaintainer micro-batch replay (2 inserts + 1 whole-parent update) ≡ from-scratch gold build over the final fact state",
      Some("""
        WITH fact AS (
          SELECT l_orderkey,
                 CAST(l_quantity AS BIGINT) +
                   (CASE WHEN l_orderkey % 8 = 0 THEN 1 ELSE 0 END) AS qty,
                 l_returnflag, l_extendedprice
          FROM lineitem
        )
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(qty) AS BIGINT) AS qty_tot,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
               CAST(floor(max(l_extendedprice)) AS BIGINT) AS max_price
        FROM fact GROUP BY l_orderkey
      """)) { (s, dir) =>
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_quantity").cast("long").as("qty"),
        col("l_returnflag"), col("l_extendedprice"))
      def gold(fact: DataFrame): DataFrame = fact.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("qty")).cast("long").as("qty_tot"),
          sum(when(col("l_returnflag") === "R", 1).otherwise(0)).cast("long")
            .as("n_returned"),
          floor(max(col("l_extendedprice"))).cast("long").as("max_price"))
      val work = replayDir("gold")
      val m = new graft.streaming.GoldMaintainer(s, "l_orderkey", work, gold)
      m.init(li.filter(col("l_orderkey") % 4 === 0))
      m.applyBatch(li.filter(col("l_orderkey") % 4 === 1))
      m.applyBatch(li.filter(col("l_orderkey") % 4 === 2 ||
        col("l_orderkey") % 4 === 3))
      m.applyBatch(li.filter(col("l_orderkey") % 8 === 0)
        .withColumn("qty", col("qty") + 1))
      m.gold
    },

    // ---- §2.11: streaming throughput metrics (A13 ≅ listener progress) ----
    // The last §2.11 bullet with no driver-visible gate (round-10 ask #6):
    // the maintainer records per-batch rows-processed / keys-touched /
    // state-size metrics (what a StreamingQueryListener's progress events
    // carry), and this row oracle-gates the metric TOTALS against the
    // deterministic replay schedule — DuckDB recomputes every batch's
    // expected numbers from the residue-class set algebra. A mis-counted
    // batch (double-processed rows, missed keys, state drift) lands here
    // as a hash mismatch. Batch 0 is init (keys_touched = its distinct
    // parents); StreamingSpec drives the same metrics through a live
    // MemoryStream run with a real StreamingQueryListener attached.
    QueryDef(
      "st_metrics_parity",
      "GoldMaintainer per-batch metrics (rows_in, keys_touched, state_rows, gold_rows) over the deterministic replay schedule ≡ DuckDB recomputing each batch's counts from the residue classes",
      Some("""
        SELECT CAST(0 AS INTEGER) AS batch_id,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey % 4 = 0) AS rows_in,
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem WHERE l_orderkey % 4 = 0) AS keys_touched,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey % 4 = 0) AS state_rows,
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem WHERE l_orderkey % 4 = 0) AS gold_rows
        UNION ALL
        SELECT 1,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey % 4 = 1),
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem WHERE l_orderkey % 4 = 1),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey % 4 <= 1),
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem WHERE l_orderkey % 4 <= 1)
        UNION ALL
        SELECT 2,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey % 4 IN (2, 3)),
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem WHERE l_orderkey % 4 IN (2, 3)),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
        UNION ALL
        SELECT 3,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey % 8 = 0),
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem WHERE l_orderkey % 8 = 0),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
      """)) { (s, dir) =>
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_quantity").cast("long").as("qty"),
        col("l_returnflag"), col("l_extendedprice"))
      def gold(fact: DataFrame): DataFrame = fact.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("qty")).cast("long").as("qty_tot"))
      val work = replayDir("metrics")
      val m = new graft.streaming.GoldMaintainer(s, "l_orderkey", work, gold,
        trackMetrics = true)
      m.init(li.filter(col("l_orderkey") % 4 === 0))
      m.applyBatch(li.filter(col("l_orderkey") % 4 === 1))
      m.applyBatch(li.filter(col("l_orderkey") % 4 === 2 ||
        col("l_orderkey") % 4 === 3))
      m.applyBatch(li.filter(col("l_orderkey") % 8 === 0)
        .withColumn("qty", col("qty") + 1))
      m.metrics
    },

    // ---- §2.11: streaming↔batch parity, index maintainer ------------------
    // Same replay contract for the inverted index: two insert batches and
    // a whole-document re-text update; the final maintained index (only
    // touched TERMS were ever recomputed) must hash-equal DuckDB building
    // the index of the final corpus from scratch — including df-threshold
    // crossings the update causes.
    QueryDef(
      "st_index_replay_parity",
      "IndexMaintainer micro-batch replay (2 inserts + 1 whole-doc update) ≡ from-scratch index of the final corpus",
      Some("""
        WITH corpus AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 6 = 0 THEN text || ' refreshed'
                      ELSE text END AS text
          FROM documents
        ),
        post AS (
          SELECT w, doc_id, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
          GROUP BY w, doc_id
        ),
        rn AS (
          SELECT w, doc_id, tf,
                 ROW_NUMBER() OVER (PARTITION BY w ORDER BY tf DESC, doc_id) AS rn
          FROM post
        )
        SELECT w AS term, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS cf,
               string_agg(CASE WHEN rn <= 3 THEN doc_id || ':' || tf END,
                          ',' ORDER BY rn) AS posting_head
        FROM rn GROUP BY w HAVING count(*) >= 2
      """)) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val work = replayDir("index")
      val m = new graft.streaming.IndexMaintainer(s, work)
      m.init(docs.filter(col("doc_id") % 3 === 0))
      m.applyBatch(docs.filter(col("doc_id") % 3 === 1))
      m.applyBatch(docs.filter(col("doc_id") % 3 === 2))
      m.applyBatch(docs.filter(col("doc_id") % 6 === 0)
        .withColumn("text", concat(col("text"), lit(" refreshed"))))
      m.index
    },

    // ---- §2.11: streaming↔batch parity, NEAR-dup admission ----------------
    // The LshAdmitMaintainer (streaming twin of dd116, shared banding via
    // resolve/LshBands) labels each micro-batch doc near_dup/new against
    // the standing index, then admits the batch. Admit-all/label-all
    // makes the replay ≡ ONE stratified batch query: a doc's candidates
    // are exactly the docs of strictly-earlier batches, which the oracle
    // states in SQL — so three streamed batches over versioned parquet
    // state must hash-equal the from-scratch computation, minhash
    // signatures, band collisions, Jaccard verification, tiebreaks and
    // all.
    QueryDef(
      "st_lsh_admission_parity",
      "LshAdmitMaintainer micro-batch replay (3 batches probing + growing a versioned banded MinHash index) ≡ one-shot stratified SQL: per-doc near_dup/new decision with best verified match, candidates restricted to strictly-earlier batches",
      Some("""
        WITH corpus AS (
          SELECT doc_id, text, doc_id % 3 AS b FROM documents
          UNION ALL
          SELECT doc_id + 10000 AS doc_id,
                 regexp_replace(text, '^(\w+ ){3}', '') AS text, 3 AS b
          FROM documents WHERE doc_id % 5 = 0
        ),
        tok AS (
          SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM corpus)
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
          JOIN corpus cd ON cd.doc_id = d.doc_id
          JOIN bands s ON s.band_idx = d.band_idx AND s.bkey = d.bkey
          JOIN corpus cs ON cs.doc_id = s.doc_id
          WHERE cs.b < cd.b AND cd.b >= 1
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
        SELECT c.doc_id,
               CASE WHEN bst.s_id IS NULL THEN 'new' ELSE 'near_dup' END AS status,
               bst.s_id AS match_id, bst.jacc
        FROM corpus c
        LEFT JOIN (SELECT * FROM best WHERE rk = 1) bst ON bst.d_id = c.doc_id
        WHERE c.b >= 1
      """)) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          regexp_replace(col("text"), "^(\\w+ ){3}", "").as("text"))
      val work = replayDir("lshadmit")
      val m = new graft.streaming.LshAdmitMaintainer(s, work)
      m.init(docs.filter(col("doc_id") % 3 === 0))
      m.applyBatch(docs.filter(col("doc_id") % 3 === 1))
      m.applyBatch(docs.filter(col("doc_id") % 3 === 2))
      m.applyBatch(variants)
      m.decisions
    },

    // ---- §3.1/§3.2: the COMPOSED master pipeline, oracle-gated ------------
    // OrchestratorSpec proves the orchestration mechanics (lock, retry,
    // dedupe); this row proves the composed DATA path: the real
    // Pipeline.runMaster — land (JSON drop + corrupt-record quarantine) →
    // conform (typing) → merge (upsertClassify into the stale silver
    // target) → gold (rollup rebuild through WriteOptimizer) → serve —
    // runs end-to-end, and the FINAL gold table it persisted must
    // hash-equal DuckDB computing the same composition from the same raw
    // drops (`master_etl.py:427` full-schedule semantics; the streaming
    // replay-parity pattern applied to the batch master). Upsert
    // semantics in the oracle: staged wins on key match, target-only
    // rows survive — drop_ UNION target-anti-drop.
    QueryDef(
      "pipeline_e2e_parity",
      "Master pipeline land→conform→merge→gold→serve replay: final persisted gold rollup ≡ DuckDB composing quarantine+conform+upsert+rollup from the same drops",
      Some("""
        WITH drop_ AS (
          SELECT o_orderkey AS pk, o_orderstatus AS status,
                 CAST(o_totalprice AS DOUBLE) AS price,
                 CAST(epoch(o_orderdate) AS BIGINT) AS updated_epoch
          FROM orders WHERE o_orderkey % 2 = 0
        ),
        tgt AS (
          SELECT o_orderkey AS pk, o_orderstatus AS status,
                 CAST(o_totalprice AS DOUBLE) AS price,
                 CAST(epoch(o_orderdate) AS BIGINT)
                   - CASE WHEN o_orderkey % 7 = 0 THEN 86400 ELSE 0 END AS updated_epoch
          FROM orders WHERE o_orderkey % 4 <> 0
        ),
        silver AS (
          SELECT * FROM drop_
          UNION ALL
          SELECT t.* FROM tgt t LEFT JOIN drop_ d ON t.pk = d.pk WHERE d.pk IS NULL
        ),
        la AS (
          SELECT l_orderkey, CAST(count(*) AS BIGINT) AS li_count,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_tot
          FROM lineitem GROUP BY l_orderkey
        )
        SELECT s.pk, s.status, s.price, s.updated_epoch,
               COALESCE(la.li_count, 0) AS li_count,
               COALESCE(la.qty_tot, 0) AS qty_tot
        FROM silver s LEFT JOIN la ON s.pk = la.l_orderkey
      """)) { (s, dir) =>
      val work = replayDir("pipeline")
      val (report, _) =
        graft.Pipeline.runMaster(s, dir, work, sleeper = _ => ())
      require(report.acquired && report.succeeded,
        s"master pipeline failed: ${report.blocks.mkString("; ")}")
      s.read.schema(graft.Pipeline.GoldSchema).parquet(s"$work/gold/order_rollup")
    })
}
