package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SinkOps
import graft.runtime.Tables

/** Declared oracle queries for the warehouse-write semantics (SURVEY.md
  * §2.A rows 5-6): MERGE upsert and SCD Type-2 apply. Both operators
  * are pure DataFrame transforms (the parquet rewrite / Delta MERGE is
  * the sink half), so their RESULT is SQL-expressible and goes through
  * the DuckDB gate like any relational operator.
  */
object SinkQueries {

  val defs: Seq[QueryDef] = Seq(
    // MERGE semantics (ref bigquery_warehouse.py:124-179): source rows
    // (one per key after precedence dedup) replace matched target rows;
    // unmatched target rows survive; unmatched source rows insert.
    // Precedence = amount DESC: amount ties produce identical source
    // rows, so the merged RESULT is deterministic without a full
    // tie-break.
    QueryDef(
      "q_merge_upsert",
      (s, dir) => {
        val target = Tables(s, dir).orders
          .filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
            col("o_totalprice").as("amount"))
        val source = Tables(s, dir).lineitem
          .select(col("l_orderkey").as("k"), lit("U").as("status"),
            col("l_extendedprice").as("amount"))
        SinkOps.mergeUpsert(target, source, Seq("k"), Seq(col("amount").desc))
      },
      Some("""
        WITH target AS (
          SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS amount
          FROM orders WHERE o_orderkey % 2 = 1
        ),
        src1 AS (
          SELECT k, 'U' AS status, amount FROM (
            SELECT l_orderkey AS k, l_extendedprice AS amount,
              ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC) AS rn
            FROM lineitem
          ) WHERE rn = 1
        )
        SELECT t.k, t.status, t.amount FROM target t
        WHERE NOT EXISTS (SELECT 1 FROM src1 s WHERE s.k = t.k)
        UNION ALL
        SELECT k, status, amount FROM src1
      """)
    ),
    // SCD Type-2 apply (ref markets/assets.py:87-224): closed rows pass
    // through; unchanged actives survive; changed/departed actives
    // close at asOfDate; new/changed keys open fresh rows. The fixture
    // exercises every branch: %7 keys change segment, %11 keys leave
    // the snapshot, %13 keys are new, %10 keys exist only as
    // already-closed history.
    QueryDef(
      "q_scd2_apply",
      (s, dir) => {
        val c = Tables(s, dir).customer
        val current = c
          .filter(col("c_custkey") % 13 =!= 0)
          .select(
            col("c_custkey").as("k"), col("c_nationkey").as("nation"),
            col("c_mktsegment").as("segment"),
            to_date(lit("1992-01-01")).as("date_started"),
            when(col("c_custkey") % 10 === 0, to_date(lit("1994-06-30"))).as("date_ended"))
        val snapshot = c
          .filter(col("c_custkey") % 11 =!= 0)
          .select(
            col("c_custkey").as("k"), col("c_nationkey").as("nation"),
            when(col("c_custkey") % 7 === 0, lit("MOVED"))
              .otherwise(col("c_mktsegment")).as("segment"))
        SinkOps.scd2Apply(current, snapshot, Seq("k"), Seq("nation", "segment"), "1995-06-01")
      },
      Some("""
        WITH cur AS (
          SELECT c_custkey AS k, c_nationkey AS nation, c_mktsegment AS segment,
            DATE '1992-01-01' AS date_started,
            CASE WHEN c_custkey % 10 = 0 THEN DATE '1994-06-30' END AS date_ended
          FROM customer WHERE c_custkey % 13 != 0
        ),
        snap AS (
          SELECT c_custkey AS k, c_nationkey AS nation,
            CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END AS segment
          FROM customer WHERE c_custkey % 11 != 0
        ),
        active AS (SELECT * FROM cur WHERE date_ended IS NULL),
        closed AS (SELECT * FROM cur WHERE date_ended IS NOT NULL),
        j AS (
          SELECT a.k AS ck, a.nation AS cnation, a.segment AS csegment,
                 a.date_started AS cstart,
                 s.k AS nk, s.nation AS nnation, s.segment AS nsegment
          FROM active a FULL OUTER JOIN snap s ON a.k = s.k
        )
        SELECT k, nation, segment, date_started, date_ended FROM closed
        UNION ALL
        SELECT ck, cnation, csegment, cstart, CAST(NULL AS DATE)
        FROM j WHERE ck IS NOT NULL AND nk IS NOT NULL
          AND cnation IS NOT DISTINCT FROM nnation
          AND csegment IS NOT DISTINCT FROM nsegment
        UNION ALL
        SELECT ck, cnation, csegment, cstart, DATE '1995-06-01'
        FROM j WHERE ck IS NOT NULL
          AND (nk IS NULL
               OR NOT (cnation IS NOT DISTINCT FROM nnation
                       AND csegment IS NOT DISTINCT FROM nsegment))
        UNION ALL
        SELECT nk, nnation, nsegment, DATE '1995-06-01', CAST(NULL AS DATE)
        FROM j WHERE nk IS NOT NULL
          AND (ck IS NULL
               OR NOT (cnation IS NOT DISTINCT FROM nnation
                       AND csegment IS NOT DISTINCT FROM nsegment))
      """)
    ),
    // CDC ordered apply: an insert/update/delete op log (events typed
    // signup→I, error→D, else U) replayed to final table state —
    // at-least-once redelivery simulated by re-appending a slice of
    // the log, made idempotent by exact event-id dedup, then ONE
    // keyed aggregation: max_by-style struct-max picks each key's
    // latest op (ts, event_id total order) and 'D' tombstones drop
    // the key. No window sort, no per-key fan-out — dedup + apply are
    // two hash shuffles regardless of log depth, which is the CDC
    // shape that survives a 100 TB/day change stream (the Delta/
    // Iceberg MERGE-on-CDF equivalent; q_merge_upsert covers the
    // keyed-snapshot half).
    QueryDef(
      "q_cdc_apply",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val redelivered = ev.unionByName(ev.filter(col("event_id") % 97 === 0))
        val log = redelivered
          .dropDuplicates("event_id")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"),
            when(col("event_type") === "signup", "I")
              .when(col("event_type") === "error", "D")
              .otherwise("U").as("op"))
        log.groupBy(col("user_id"))
          .agg(
            max(struct(col("ts"), col("event_id"), col("op"), col("value"))).as("last"),
            count(lit(1)).as("n_ops"))
          .filter(col("last.op") =!= "D")
          .select(col("user_id"), col("last.ts").as("last_ts"),
            QueryDef.r4(col("last.value")).as("last_value"), col("n_ops"))
      },
      Some("""
        WITH log AS (
          SELECT event_id, user_id, ts, value,
            CASE event_type WHEN 'signup' THEN 'I'
                            WHEN 'error' THEN 'D' ELSE 'U' END AS op
          FROM (
            SELECT * FROM events
            UNION ALL SELECT * FROM events WHERE event_id % 97 = 0
          )
          QUALIFY ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts) = 1
        ),
        latest AS (
          SELECT user_id, ts, event_id, op, value,
            COUNT(*) OVER (PARTITION BY user_id) AS n_ops
          FROM log
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        )
        SELECT user_id, ts AS last_ts, ROUND(value, 4) + 0.0 AS last_value, n_ops
        FROM latest WHERE op <> 'D'
      """)
    )
  )
}
