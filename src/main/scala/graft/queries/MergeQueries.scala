package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables.{apply => t}
import graft.merge.MergeKernels

/** Oracle-gated queries for the merge/sink kernels (SURVEY.md §2.1
  * S6–S10). Target/staged fixtures are derived deterministically from the
  * shipped testdata so the identical derivation is expressible in DuckDB:
  *
  *   target ≅ the existing table (3/4 of orders, with stale prices, some
  *            NULL priorities — a previously-loaded state)
  *   staged ≅ an incoming API chunk (every even orderkey, fresh prices,
  *            some NULL priorities — fields the API omitted)
  */
object MergeQueries {

  /** Shared fixture CTEs, DuckDB side. */
  private val fixtureSql = """
    WITH target AS (
      SELECT o_orderkey AS pk,
             o_orderstatus AS status,
             o_totalprice AS price,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END AS prio,
             CAST(epoch(o_orderdate) AS BIGINT)
               - CASE WHEN o_orderkey % 7 = 0 THEN 86400 ELSE 0 END AS updated_epoch
      FROM orders WHERE o_orderkey % 4 <> 0
    ), staged AS (
      SELECT o_orderkey AS pk,
             o_orderstatus AS status,
             o_totalprice + CASE WHEN o_orderkey % 6 = 0 THEN 1 ELSE 0 END AS price,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority END AS prio,
             CAST(epoch(o_orderdate) AS BIGINT) AS updated_epoch
      FROM orders WHERE o_orderkey % 2 = 0
    )"""

  /** Spark side of the same fixtures. */
  private def targetOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 4 =!= 0).select(
      col("o_orderkey").as("pk"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"),
      when(col("o_orderkey") % 5 === 0, lit(null)).otherwise(col("o_orderpriority")).as("prio"),
      (unix_timestamp(col("o_orderdate")) -
        when(col("o_orderkey") % 7 === 0, 86400L).otherwise(0L)).as("updated_epoch"))

  private def stagedOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0).select(
      col("o_orderkey").as("pk"),
      col("o_orderstatus").as("status"),
      (col("o_totalprice") +
        when(col("o_orderkey") % 6 === 0, 1).otherwise(0)).as("price"),
      when(col("o_orderkey") % 3 === 0, lit(null)).otherwise(col("o_orderpriority")).as("prio"),
      unix_timestamp(col("o_orderdate")).as("updated_epoch"))

  val defs: Seq[QueryDef] = Seq(

    // ---- S6: change-detecting upsert with op classification -------------
    QueryDef(
      "s6_upsert_classify",
      "MERGE with IS-DISTINCT-FROM change detection + op classification (etl_crimes.py:673-777)",
      Some(fixtureSql + """
        SELECT COALESCE(s.pk, t.pk) AS pk,
               CASE WHEN s.pk IS NOT NULL THEN s.status ELSE t.status END AS status,
               CASE WHEN s.pk IS NOT NULL THEN s.price ELSE t.price END AS price,
               CASE WHEN s.pk IS NOT NULL THEN s.prio ELSE t.prio END AS prio,
               CASE WHEN s.pk IS NOT NULL THEN s.updated_epoch ELSE t.updated_epoch END AS updated_epoch,
               CASE WHEN t.pk IS NULL THEN 'inserted'
                    WHEN s.pk IS NULL THEN 'kept'
                    WHEN (s.status IS DISTINCT FROM t.status)
                      OR (s.price IS DISTINCT FROM t.price)
                      OR (s.prio IS DISTINCT FROM t.prio)
                      OR (s.updated_epoch IS DISTINCT FROM t.updated_epoch)
                    THEN 'updated' ELSE 'no_change' END AS op
        FROM staged s FULL JOIN target t ON s.pk = t.pk
      """)) { (s, dir) =>
      MergeKernels.upsertClassify(targetOrders(s, dir), stagedOrders(s, dir), Seq("pk"))
    },

    // ---- S6 stats: per-run op counters (A13) ----------------------------
    QueryDef(
      "s6_merge_stats",
      "Per-run inserted/updated/no_change/kept counters over the merge result (etl_crimes.py:1088-1120)",
      Some(fixtureSql + """
        SELECT op, COUNT(*) AS n FROM (
          SELECT CASE WHEN t.pk IS NULL THEN 'inserted'
                      WHEN s.pk IS NULL THEN 'kept'
                      WHEN (s.status IS DISTINCT FROM t.status)
                        OR (s.price IS DISTINCT FROM t.price)
                        OR (s.prio IS DISTINCT FROM t.prio)
                        OR (s.updated_epoch IS DISTINCT FROM t.updated_epoch)
                      THEN 'updated' ELSE 'no_change' END AS op
          FROM staged s FULL JOIN target t ON s.pk = t.pk
        ) GROUP BY op
      """)) { (s, dir) =>
      MergeKernels.upsertClassify(targetOrders(s, dir), stagedOrders(s, dir), Seq("pk"))
        .groupBy(col("op")).agg(count(lit(1)).as("n"))
    },

    // ---- S7: null-preserving smart merge --------------------------------
    QueryDef(
      "s7_smart_merge",
      "Null-preserving merge: keep old non-NULL over new NULL; dates always overwritten (etl_accused.py:1316-1392)",
      Some(fixtureSql + """
        SELECT COALESCE(s.pk, t.pk) AS pk,
               CASE WHEN t.pk IS NULL THEN s.status
                    WHEN s.pk IS NULL THEN t.status
                    ELSE COALESCE(s.status, t.status) END AS status,
               CASE WHEN t.pk IS NULL THEN s.price
                    WHEN s.pk IS NULL THEN t.price
                    ELSE COALESCE(s.price, t.price) END AS price,
               CASE WHEN t.pk IS NULL THEN s.prio
                    WHEN s.pk IS NULL THEN t.prio
                    ELSE COALESCE(s.prio, t.prio) END AS prio,
               CASE WHEN t.pk IS NULL THEN s.updated_epoch
                    WHEN s.pk IS NULL THEN t.updated_epoch
                    ELSE s.updated_epoch END AS updated_epoch
        FROM staged s FULL JOIN target t ON s.pk = t.pk
      """)) { (s, dir) =>
      MergeKernels.smartMerge(
        targetOrders(s, dir), stagedOrders(s, dir), Seq("pk"),
        overwriteCols = Set("updated_epoch"))
    },

    // ---- S8: child-table cascade replace --------------------------------
    QueryDef(
      "s8_child_replace",
      "Replace all children of parents present in the staged payload (ir_etl.py:743-773)",
      Some("""
        WITH tgt AS (
          SELECT l_orderkey, l_linenumber, l_quantity
          FROM lineitem WHERE l_orderkey % 4 <> 1
        ), stg AS (
          SELECT l_orderkey, l_linenumber, l_quantity * 2 AS l_quantity
          FROM lineitem WHERE l_orderkey % 10 = 0
        )
        SELECT * FROM tgt
        WHERE NOT EXISTS (SELECT 1 FROM stg WHERE stg.l_orderkey = tgt.l_orderkey)
        UNION ALL
        SELECT * FROM stg
      """)) { (s, dir) =>
      val tgt = t(s, dir, "lineitem").filter(col("l_orderkey") % 4 =!= 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val stg = t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity") * 2).as("l_quantity"))
      MergeKernels.childReplace(tgt, stg, "l_orderkey")
    },

    // ---- S9: append-if-absent on a composite key ------------------------
    QueryDef(
      "s9_append_if_absent",
      "Idempotent append: composite-key existence check before insert (idempotency.py:21)",
      Some("""
        WITH tgt AS (
          SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS epoch, value, event_id
          FROM events WHERE event_id % 3 = 0
        ), stg AS (
          SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS epoch, value, event_id
          FROM events WHERE event_id % 2 = 0
        ), stg_dedup AS (
          SELECT user_id, event_type, epoch, value, event_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type, epoch ORDER BY event_id) AS rn
            FROM stg
          ) WHERE rn = 1
        )
        SELECT * FROM tgt
        UNION ALL
        SELECT d.* FROM stg_dedup d
        WHERE NOT EXISTS (SELECT 1 FROM tgt
                          WHERE tgt.user_id = d.user_id
                            AND tgt.event_type = d.event_type
                            AND tgt.epoch = d.epoch)
      """)) { (s, dir) =>
      def slice(m: Int) = t(s, dir, "events").filter(col("event_id") % m === 0)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("epoch"), col("value"), col("event_id"))
      MergeKernels.appendIfAbsent(
        slice(3), slice(2),
        keys = Seq("user_id", "event_type", "epoch"),
        tiebreak = Seq(col("event_id")))
    },

    // ---- pending-FK queue: two-pass drain to fixpoint --------------------
    QueryDef(
      "sfk_pending_drain",
      "Pending-FK queue with one post-load drain pass: valid ∪ drained ∪ still-pending(attempts) (etl_properties.py:177-241)",
      Some("""
        WITH children AS (
          SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0
        ),
        parents_before AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 4 = 0),
        parents_after  AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0)
        SELECT c.l_orderkey, c.l_linenumber, c.l_partkey, 'valid' AS state,
               CAST(NULL AS INTEGER) AS fk_attempts
        FROM children c
        WHERE EXISTS (SELECT 1 FROM parents_before p WHERE p.o_orderkey = c.l_orderkey)
        UNION ALL
        SELECT c.l_orderkey, c.l_linenumber, c.l_partkey, 'valid', CAST(NULL AS INTEGER)
        FROM children c
        WHERE NOT EXISTS (SELECT 1 FROM parents_before p WHERE p.o_orderkey = c.l_orderkey)
          AND EXISTS (SELECT 1 FROM parents_after p WHERE p.o_orderkey = c.l_orderkey)
        UNION ALL
        SELECT c.l_orderkey, c.l_linenumber, c.l_partkey, 'pending', 2
        FROM children c
        WHERE NOT EXISTS (SELECT 1 FROM parents_after p WHERE p.o_orderkey = c.l_orderkey)
      """)) { (s, dir) =>
      val children = t(s, dir, "lineitem").filter(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      val before = t(s, dir, "orders").filter(col("o_orderkey") % 4 === 0)
      val after = t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      val res = graft.merge.PendingFk.twoPass(children, before, after,
        fk = "l_orderkey", parentKey = "o_orderkey")
      res.valid
        .withColumn("state", lit("valid"))
        .withColumn("fk_attempts", lit(null).cast("int"))
        .unionByName(res.pending
          .withColumn("state", lit("pending"))
          .withColumn("fk_attempts", col("fk_attempts").cast("int"))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("state"), col("fk_attempts")))
    },

    // ---- S10: stub-row creation for unresolved FKs ----------------------
    QueryDef(
      "s10_stub_rows",
      "Append minimal key-only stub rows for referenced-but-missing dimension keys (etl_accused.py:896-906)",
      Some("""
        WITH tgt AS (
          SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0
        ), missing AS (
          SELECT DISTINCT o_custkey AS c_custkey FROM orders
          WHERE NOT EXISTS (SELECT 1 FROM tgt WHERE tgt.c_custkey = orders.o_custkey)
        )
        SELECT c_custkey, c_name, c_acctbal FROM tgt
        UNION ALL
        SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, CAST(NULL AS DOUBLE) AS c_acctbal
        FROM missing
      """)) { (s, dir) =>
      val tgt = t(s, dir, "customer").filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      MergeKernels.stubRows(tgt, t(s, dir, "orders").select(col("o_custkey")), "c_custkey")
    },

    // ---- SCD2: type-2 dimension history merge (beyond-reference) ----------
    QueryDef(
      "scd2_merge",
      "SCD2 dimension maintenance: changed keys close at the effective date and reopen, new keys insert, unchanged keys no-op (MergeKernels.scd2Merge)",
      Some("""
        WITH cur AS (
          SELECT c_custkey, c_acctbal, c_mktsegment,
                 TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
                 TIMESTAMP '2200-01-01 00:00:00' AS valid_to,
                 TRUE AS is_current
          FROM customer
        ),
        batch AS (
          SELECT c_custkey AS b_key, c_acctbal + 100 AS b_bal, c_mktsegment AS b_seg
          FROM customer WHERE c_custkey % 10 = 0
          UNION ALL
          SELECT c_custkey, c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 10 = 1
          UNION ALL
          SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer),
                 c_acctbal, c_mktsegment
          FROM customer WHERE c_custkey % 10 = 2
        ),
        j AS (SELECT * FROM cur FULL JOIN batch ON c_custkey = b_key),
        same AS (
          SELECT *,
                 (b_bal IS NOT DISTINCT FROM c_acctbal
                  AND b_seg IS NOT DISTINCT FROM c_mktsegment) AS unchanged
          FROM j
        )
        SELECT c_custkey, c_acctbal, c_mktsegment, valid_from, valid_to, is_current
        FROM same WHERE c_custkey IS NOT NULL AND (b_key IS NULL OR unchanged)
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment, valid_from,
               TIMESTAMP '2000-06-01 00:00:00', FALSE
        FROM same WHERE b_key IS NOT NULL AND c_custkey IS NOT NULL AND NOT unchanged
        UNION ALL
        SELECT b_key, b_bal, b_seg, TIMESTAMP '2000-06-01 00:00:00',
               TIMESTAMP '2200-01-01 00:00:00', TRUE
        FROM same WHERE b_key IS NOT NULL AND (c_custkey IS NULL OR NOT unchanged)
      """)) { (s, dir) =>
      // batch derived from the dim itself so DuckDB states the identical
      // fixture: keys %10=0 change an attribute, %10=1 arrive unchanged,
      // %10=2 arrive under fresh keys (offset = max+1, collision-proof)
      // TIMESTAMP (not DATE) validity bounds: the gate's pandas canon
      // reads Spark date32 as python date objects but DuckDB DATEs as
      // datetime64 — timestamps normalize identically on both paths
      val c = t(s, dir, "customer")
      val current = c.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"),
        lit("1990-01-01").cast("timestamp").as("valid_from"),
        lit("2200-01-01").cast("timestamp").as("valid_to"),
        lit(true).as("is_current"))
      val off = c.agg((max(col("c_custkey")) + 1).as("__off"))
      val changed = c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100).as("c_acctbal"),
          col("c_mktsegment"))
      val unchanged = c.filter(col("c_custkey") % 10 === 1)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val fresh = c.filter(col("c_custkey") % 10 === 2)
        .crossJoin(broadcast(off))
        .select((col("c_custkey") + col("__off")).as("c_custkey"),
          col("c_acctbal"), col("c_mktsegment"))
      MergeKernels.scd2Merge(
        current, changed.unionByName(unchanged).unionByName(fresh),
        "c_custkey", Seq("c_acctbal", "c_mktsegment"),
        lit("2000-06-01").cast("timestamp"),
        lit("2200-01-01").cast("timestamp"))
    })
}
