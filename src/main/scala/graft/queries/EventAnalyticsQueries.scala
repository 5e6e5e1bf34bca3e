package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.runtime.Tables

/** Product-analytics operators over the events stream: ordered funnel
  * conversion and cohort retention — the two queries every event
  * warehouse serves, here in engine-exact form (all time arithmetic in
  * integer microseconds / epoch-day indices, all rates through the
  * exact int-ratio rounding pair, so both engines cut identically).
  *
  * Scale: every stage is keyed by user_id or (cohort, offset) — the
  * same hash shuffles at any event volume; step tables shrink
  * monotonically (funnel) or to #cohorts × #offsets (retention).
  * Nothing windows globally, nothing collects.
  */
object EventAnalyticsQueries {

  private val DayUs = 86400000000L

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events.select(
      col("user_id"),
      expr("unix_micros(ts)").as("us"),
      col("event_type"))

  val defs: Seq[QueryDef] = Seq(
    // Ordered funnel view -> click -> purchase, each step inside a
    // 24h window anchored at the user's FIRST view (the GA-style
    // conversion-window semantics). Sequential min-over-conditional
    // joins keyed by user; step populations shrink monotonically.
    QueryDef(
      "q_event_funnel",
      (s, dir) => {
        val e = ev(s, dir)
        val s1 = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("us")).as("s1"))
        val s2 = e.filter(col("event_type") === "click")
          .join(s1, Seq("user_id"))
          .filter(col("us") >= col("s1") && col("us") <= col("s1") + DayUs)
          .groupBy(col("user_id"), col("s1")).agg(min(col("us")).as("s2"))
        val s3 = e.filter(col("event_type") === "purchase")
          .join(s2, Seq("user_id"))
          .filter(col("us") >= col("s2") && col("us") <= col("s1") + DayUs)
          .groupBy(col("user_id")).agg(min(col("us")).as("s3"))
        val u0 = e.select(col("user_id")).distinct().agg(count(lit(1)).as("n0"))
        val c1 = s1.agg(count(lit(1)).as("n1"))
        val c2 = s2.agg(count(lit(1)).as("n2"))
        val c3 = s3.agg(count(lit(1)).as("n3"))
        val all = u0.crossJoin(c1).crossJoin(c2).crossJoin(c3)
        def step(n: Int, name: String, cur: String, prev: String) =
          all.select(
            lit(n.toLong).as("step"),
            lit(name).as("step_name"),
            col(cur).as("n_users"),
            QueryDef.rdiv(col(cur).cast(org.apache.spark.sql.types.DecimalType(38, 6)),
              greatest(col(prev), lit(1L)), 4).as("conv_from_prev"),
            QueryDef.rdiv(col(cur).cast(org.apache.spark.sql.types.DecimalType(38, 6)),
              greatest(col("n1"), lit(1L)), 4).as("conv_from_top"))
        step(1, "view", "n1", "n0")
          .unionByName(step(2, "click_24h", "n2", "n1"))
          .unionByName(step(3, "purchase_24h", "n3", "n2"))
      },
      Some {
        def conv(cur: String, prev: String) = QueryDef.oDivRound(
          s"CAST($cur AS HUGEINT) * 1000000", s"GREATEST($prev, 1)", 4)
        s"""
        WITH e AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type FROM events
        ),
        s1 AS (
          SELECT user_id, MIN(us) AS s1 FROM e WHERE event_type = 'view' GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id, s1.s1, MIN(us) AS s2
          FROM e JOIN s1 ON e.user_id = s1.user_id
          WHERE event_type = 'click' AND us >= s1 AND us <= s1 + $DayUs
          GROUP BY 1, 2
        ),
        s3 AS (
          SELECT e.user_id, MIN(us) AS s3
          FROM e JOIN s2 ON e.user_id = s2.user_id
          WHERE event_type = 'purchase' AND us >= s2.s2 AND us <= s2.s1 + $DayUs
          GROUP BY 1
        ),
        c AS (
          SELECT (SELECT COUNT(DISTINCT user_id) FROM e) AS n0,
                 (SELECT COUNT(*) FROM s1) AS n1,
                 (SELECT COUNT(*) FROM s2) AS n2,
                 (SELECT COUNT(*) FROM s3) AS n3
        )
        SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
          CAST(n1 AS BIGINT) AS n_users,
          ${conv("n1", "n0")} AS conv_from_prev, ${conv("n1", "n1")} AS conv_from_top
        FROM c
        UNION ALL
        SELECT 2, 'click_24h', CAST(n2 AS BIGINT),
          ${conv("n2", "n1")}, ${conv("n2", "n1")} FROM c
        UNION ALL
        SELECT 3, 'purchase_24h', CAST(n3 AS BIGINT),
          ${conv("n3", "n2")}, ${conv("n3", "n1")} FROM c
      """
      }
    ),
    // Cohort retention: cohort = epoch-day of the user's first signup;
    // activity matrix over day offsets 0..7. Integer day indices end
    // to end (no date-function semantics to disagree on); rates via
    // the exact int-ratio pair.
    QueryDef(
      "q_retention_cohorts",
      (s, dir) => {
        // Floored day index: `div` truncates toward zero while the
        // DuckDB oracle's `//` floors, so pre-1970 timestamps
        // (negative us) would diverge. Subtracting the non-negative
        // pmod remainder first makes the integer div exact floor
        // division at any sign (ADVICE r7).
        val e = ev(s, dir)
          .withColumn("di", expr(s"(us - pmod(us, $DayUs)) div $DayUs"))
        val cohort = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("di")).as("c0"))
        val size = cohort.groupBy(col("c0")).agg(count(lit(1)).as("cohort_size"))
        val act = e.join(cohort, Seq("user_id"))
          .withColumn("day_offset", col("di") - col("c0"))
          .filter(col("day_offset") >= 0 && col("day_offset") <= 7)
          .groupBy(col("c0"), col("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
        act.join(size, Seq("c0"))
          .select(
            date_add(lit("1970-01-01").cast("date"), col("c0").cast("int")).as("cohort_date"),
            col("day_offset"),
            col("cohort_size"),
            col("n_active"),
            QueryDef.rdiv(col("n_active").cast(org.apache.spark.sql.types.DecimalType(38, 6)),
              col("cohort_size"), 4).as("retention_pct"))
      },
      Some {
        val pct = QueryDef.oDivRound(
          "CAST(n_active AS HUGEINT) * 1000000", "cohort_size", 4)
        s"""
        WITH e AS (
          SELECT user_id, (epoch_ns(ts) // 1000) // $DayUs AS di, event_type FROM events
        ),
        cohort AS (
          SELECT user_id, MIN(di) AS c0 FROM e WHERE event_type = 'signup' GROUP BY 1
        ),
        sz AS (SELECT c0, COUNT(*) AS cohort_size FROM cohort GROUP BY 1),
        act AS (
          SELECT c.c0, e.di - c.c0 AS day_offset,
            COUNT(DISTINCT e.user_id) AS n_active
          FROM e JOIN cohort c ON e.user_id = c.user_id
          WHERE e.di - c.c0 BETWEEN 0 AND 7
          GROUP BY 1, 2
        )
        SELECT DATE '1970-01-01' + CAST(a.c0 AS INT) AS cohort_date,
          CAST(a.day_offset AS BIGINT) AS day_offset,
          CAST(s.cohort_size AS BIGINT) AS cohort_size,
          CAST(a.n_active AS BIGINT) AS n_active,
          $pct AS retention_pct
        FROM act a JOIN sz s ON a.c0 = s.c0
      """
      }
    ),
    // First-order Markov transition matrix over per-user event
    // sequences: P(next | prev) with exact transition counts and
    // row-normalized probabilities. One user-keyed window (LAG) + one
    // (prev, next) aggregation; the per-prev totals ride a window over
    // the #types² result, not the event stream. Ties in simultaneous
    // events broken by event_id — a total order, so the chain is
    // partition-invariant.
    QueryDef(
      "q_event_transition_matrix",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val counts = Tables(s, dir).events
          .select(col("user_id"), expr("unix_micros(ts)").as("us"),
            col("event_id"), col("event_type"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n_transitions"))
        val wp = org.apache.spark.sql.expressions.Window.partitionBy(col("prev_type"))
        counts
          .withColumn("row_total", sum(col("n_transitions")).over(wp))
          .select(col("prev_type"), col("next_type"), col("n_transitions"),
            col("row_total"),
            QueryDef.rdiv(
              col("n_transitions").cast(org.apache.spark.sql.types.DecimalType(38, 6)),
              col("row_total"), 4).as("p_next"))
      },
      Some {
        val p = QueryDef.oDivRound(
          "CAST(n_transitions AS HUGEINT) * 1000000", "row_total", 4)
        s"""
        WITH e AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id, event_type FROM events
        ),
        seq AS (
          SELECT event_type AS next_type,
            LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
          FROM e
        ),
        counts AS (
          SELECT prev_type, next_type, COUNT(*) AS n_transitions
          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
        ),
        tot AS (
          SELECT prev_type, next_type, n_transitions,
            SUM(n_transitions) OVER (PARTITION BY prev_type) AS row_total
          FROM counts
        )
        SELECT prev_type, next_type,
          CAST(n_transitions AS BIGINT) AS n_transitions,
          CAST(row_total AS BIGINT) AS row_total,
          $p AS p_next
        FROM tot
      """
      }
    )
  )
}
