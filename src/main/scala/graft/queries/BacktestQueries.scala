package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.models.PriceBars
import graft.runtime.Tables
import graft.queries.QueryDef.{dsum, r4}

/** Backtesting / evaluation / data-quality families (SURVEY.md §2.M
  * backtesting + data_quality schemas, §2.F sampling, §2.E forward
  * returns).
  */
object BacktestQueries {

  val defs: Seq[QueryDef] = Seq(
    // Point-in-time snapshot fan-out: month-end spine x trailing-90d
    // per-symbol stats as-of each snapshot date
    // (us_sector_summary_snapshot.sql:6-57). Scale note: snapshot_date
    // becomes the partition key — the fan-out is bounded by spine
    // width, and each snapshot's window is an independent partition.
    QueryDef(
      "q_pit_snapshot",
      (s, dir) => {
        val b = ModelQueries.bars(s, dir)
        val spine = b
          .select(last_day(col("d")).as("snapshot_date"))
          .distinct()
        b.join(
            broadcast(spine),
            col("d") <= col("snapshot_date") && col("d") > date_sub(col("snapshot_date"), 90)
          )
          .groupBy(col("snapshot_date"), col("symbol"))
          .agg(
            count(lit(1)).as("n_bars"),
            r4(dsum(col("volume"))).as("total_volume"),
            r4(max(col("high"))).as("period_high"),
            r4(min(col("low"))).as("period_low"),
            max_by(col("close"), col("d")).as("last_close"),
            max(col("d")).as("last_bar_date")
          )
          .filter(col("n_bars") >= 30)
      },
      Some(s"""
        WITH ${ModelQueries.barsSqlPublic},
        spine AS (SELECT DISTINCT LAST_DAY(d) AS snapshot_date FROM bars)
        SELECT snapshot_date, symbol,
          COUNT(*) AS n_bars,
          ROUND(CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS total_volume,
          ROUND(MAX(high), 4) + 0.0 AS period_high,
          ROUND(MIN(low), 4) + 0.0 AS period_low,
          MAX_BY(close, d) AS last_close,
          MAX(d) AS last_bar_date
        FROM bars JOIN spine ON d <= snapshot_date AND d > snapshot_date - 90
        GROUP BY snapshot_date, symbol
        HAVING COUNT(*) >= 30
      """)
    ),
    // Sampling strategies (bigquery_warehouse.py:351-393): top-N by
    // value + pseudo-random N (md5-ordered — deterministic and
    // engine-portable, standing in for ORDER BY RAND(seed)) + mixed
    // union-distinct.
    QueryDef(
      "q_sampling_strategies",
      (s, dir) => {
        val o = Tables(s, dir).orders
          .select(col("o_orderkey"), r4(col("o_totalprice")).as("o_totalprice"))
        val top = o.orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(100)
          .withColumn("sample_kind", lit("top"))
        val rand = o
          .orderBy(md5(col("o_orderkey").cast("string")).asc, col("o_orderkey").asc)
          .limit(100)
          .withColumn("sample_kind", lit("random"))
        top
          .unionByName(rand)
          .groupBy(col("o_orderkey"), col("o_totalprice"))
          .agg(
            count(lit(1)).as("n_strategies"),
            concat_ws(",", array_sort(collect_list(col("sample_kind")))).as("strategies")
          )
      },
      Some("""
        WITH o AS (SELECT o_orderkey, ROUND(o_totalprice, 4) + 0.0 AS o_totalprice FROM orders),
        top AS (
          SELECT o_orderkey, o_totalprice, 'top' AS sample_kind
          FROM o ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
        ),
        rnd AS (
          SELECT o_orderkey, o_totalprice, 'random' AS sample_kind
          FROM o ORDER BY md5(CAST(o_orderkey AS VARCHAR)) ASC, o_orderkey ASC LIMIT 100
        ),
        unioned AS (SELECT * FROM top UNION ALL SELECT * FROM rnd)
        SELECT o_orderkey, o_totalprice,
          COUNT(*) AS n_strategies,
          STRING_AGG(sample_kind, ',' ORDER BY sample_kind) AS strategies
        FROM unioned
        GROUP BY o_orderkey, o_totalprice
      """)
    ),
    // Data-quality anomaly suite: rolling z-score EXCLUDING the
    // current row, return spikes, stale (unchanged) prices — UNION ALL
    // fan-in (dq_zscore_anomalies / dq_return_spikes / dq_stale_prices
    // + data_quality_anomalies.sql).
    QueryDef(
      "q_data_quality_anomalies",
      (s, dir) => {
        val b     = ModelQueries.bars(s, dir)
        val w     = Window.partitionBy(col("symbol")).orderBy(col("d"))
        val prior = w.rowsBetween(-21, -1)
        val base = b
          .withColumn("prev_close", lag(col("close"), 1).over(w))
          .withColumn("mu21", avg(col("close")).over(prior))
          .withColumn("sd21", stddev_samp(col("close")).over(prior))
          .withColumn("n21", count(col("close")).over(prior))
          .withColumn("ret", safeDivide(col("close") - col("prev_close"), col("prev_close")))
        val zscore = base
          .filter(col("n21") === 21 && col("sd21") > 0)
          .withColumn("z", (col("close") - col("mu21")) / col("sd21"))
          .filter(abs(col("z")) > 3)
          .select(col("symbol"), col("d"), lit("zscore").as("anomaly_type"), r4(col("z")).as("metric"))
        val spikes = base
          .filter(abs(col("ret")) > 0.15)
          .select(col("symbol"), col("d"), lit("return_spike").as("anomaly_type"), r4(col("ret")).as("metric"))
        val stale = base
          .filter(col("close") === col("prev_close") && col("prev_close").isNotNull)
          .select(col("symbol"), col("d"), lit("stale_price").as("anomaly_type"), r4(col("close")).as("metric"))
        zscore.unionByName(spikes).unionByName(stale)
      },
      Some(s"""
        WITH ${ModelQueries.barsSqlPublic},
        base AS (
          SELECT symbol, d, close,
            LAG(close, 1) OVER w AS prev_close,
            AVG(close) OVER prior AS mu21,
            STDDEV_SAMP(close) OVER prior AS sd21,
            COUNT(close) OVER prior AS n21
          FROM bars
          WINDOW w AS (PARTITION BY symbol ORDER BY d),
                 prior AS (PARTITION BY symbol ORDER BY d ROWS BETWEEN 21 PRECEDING AND 1 PRECEDING)
        ),
        withret AS (
          SELECT *, (close - prev_close) / NULLIF(prev_close, 0) AS ret FROM base
        )
        SELECT symbol, d, 'zscore' AS anomaly_type, ROUND((close - mu21) / sd21, 4) + 0.0 AS metric
        FROM withret WHERE n21 = 21 AND sd21 > 0 AND ABS((close - mu21) / sd21) > 3
        UNION ALL
        SELECT symbol, d, 'return_spike', ROUND(ret, 4)
        FROM withret WHERE ABS(ret) > 0.15
        UNION ALL
        SELECT symbol, d, 'stale_price', ROUND(close, 4)
        FROM withret WHERE close = prev_close AND prev_close IS NOT NULL
      """)
    ),
    // Cross-source story detection: same normalized content appearing
    // in >= 2 sources (reddit_cross_subreddit_activity.sql:27-80 —
    // URL/title overlap across subreddits).
    QueryDef(
      "q_cross_source_stories",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.groupBy(md5(concat_ws(" ", array_sort(array_distinct(
            filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
          )))).as("story_key"))
          .agg(
            countDistinct(col("source")).as("n_sources"),
            count(lit(1)).as("n_docs"),
            concat_ws(",", array_sort(collect_set(col("source")))).as("sources"),
            min(col("doc_id")).as("first_doc_id")
          )
          .filter(col("n_sources") >= 2)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source,
            md5(array_to_string(list_sort(list_distinct(
              list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0))), ' ')) AS story_key
          FROM documents
        )
        SELECT story_key,
          COUNT(DISTINCT source) AS n_sources,
          COUNT(*) AS n_docs,
          STRING_AGG(DISTINCT source, ',' ORDER BY source) AS sources,
          MIN(doc_id) AS first_doc_id
        FROM toks
        GROUP BY story_key
        HAVING COUNT(DISTINCT source) >= 2
      """)
    ),
    // Forward-return evaluation via LEAD (technical_signal_instances
    // .sql:37-56): per-symbol forward returns at 5/21-bar horizons vs
    // a benchmark symbol. (Also the negative-lag -> LEAD rewrite from
    // fred_series_grain.sql:13-21.)
    QueryDef(
      "q_forward_returns",
      (s, dir) => {
        val b = ModelQueries.bars(s, dir)
        val w = Window.partitionBy(col("symbol")).orderBy(col("d"))
        val withFwd = b
          .withColumn("fwd5", safeDivide(lead(col("close"), 5).over(w) - col("close"), col("close")))
          .withColumn("fwd21", safeDivide(lead(col("close"), 21).over(w) - col("close"), col("close")))
        val bench = withFwd
          .filter(col("symbol") === "N")
          .select(col("d"), col("fwd5").as("bench_fwd5"), col("fwd21").as("bench_fwd21"))
        withFwd
          .filter(col("symbol") =!= "N")
          .join(bench, Seq("d"), "left")
          .select(
            col("symbol"), col("d"),
            r4(col("fwd5")).as("fwd5"), r4(col("fwd21")).as("fwd21"),
            r4(col("fwd5") - col("bench_fwd5")).as("rel_fwd5"),
            r4(col("fwd21") - col("bench_fwd21")).as("rel_fwd21")
          )
      },
      Some(s"""
        WITH ${ModelQueries.barsSqlPublic},
        fwd AS (
          SELECT symbol, d, close,
            (LEAD(close, 5) OVER w - close) / NULLIF(close, 0) AS fwd5,
            (LEAD(close, 21) OVER w - close) / NULLIF(close, 0) AS fwd21
          FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY d)
        ),
        bench AS (SELECT d, fwd5 AS bench_fwd5, fwd21 AS bench_fwd21 FROM fwd WHERE symbol = 'N')
        SELECT f.symbol, f.d,
          ROUND(f.fwd5, 4) + 0.0 AS fwd5, ROUND(f.fwd21, 4) + 0.0 AS fwd21,
          ROUND(f.fwd5 - b.bench_fwd5, 4) + 0.0 AS rel_fwd5,
          ROUND(f.fwd21 - b.bench_fwd21, 4) + 0.0 AS rel_fwd21
        FROM fwd f LEFT JOIN bench b ON f.d = b.d
        WHERE f.symbol <> 'N'
      """)
    ),
    // Recommendation-accuracy backtest evaluator (ref backtest_
    // evaluator.py:33-103 recommendation_accuracy_metric + backtest_
    // utils.py:156-290 get_asset_returns): monthly average closes per
    // symbol, 1/3/6-month forward pct changes at a fixed backtest
    // month, outperformance vs the benchmark symbol, direction hits
    // (OVERWEIGHT wins when it outperforms, UNDERWEIGHT when it
    // underperforms), and the per-recommendation hit-rate score.
    // The reference's evaluator SQL targets monthly_avg_close/
    // month_date columns its analysis_return tables no longer expose
    // (schema drift); this implements the intended monthly-grain
    // semantics directly. Directions are assigned deterministically
    // from the symbol index (even -> OVERWEIGHT); benchmark = SP_0.
    QueryDef(
      "q_backtest_recommendation_eval",
      (s, dir) => {
        val BacktestMonth = "1998-01-01"
        val uni = MarketAnalysisQueries.universe(s, dir, PriceBars.Sp500, "NYSE")
        val monthly = uni
          .groupBy(col("symbol"), trunc(col("date"), "month").as("m"))
          .agg(QueryDef.rdiv(
            sum(col("close").cast(org.apache.spark.sql.types.DecimalType(18, 6))),
            count(lit(1)), 4).as("mclose"))
        val w = Window.partitionBy(col("symbol")).orderBy(col("m"))
        def pct(k: Int) = {
          val fwd = lead(col("mclose"), k).over(w)
          when(fwd.isNotNull && col("mclose") > 0,
            QueryDef.rsnap((fwd - col("mclose")) / col("mclose") * 100, 2))
        }
        val at = monthly
          .withColumn("p1", pct(1)).withColumn("p3", pct(3)).withColumn("p6", pct(6))
          .filter(col("m") === to_date(lit(BacktestMonth)))
        val bench = at.filter(col("symbol") === "SP_0")
          .select(col("p1").as("b1"), col("p3").as("b3"), col("p6").as("b6"))
        val dirCol = when(substring(col("symbol"), 4, 10).cast("int") % 2 === 0,
          "OVERWEIGHT").otherwise("UNDERWEIGHT")
        def outp(p: String, b: String) = QueryDef.rsnap(col(p) - col(b), 2)
        def hit(o: Column) =
          when(o.isNull, lit(null))
            .otherwise(
              (col("direction") === "OVERWEIGHT" && o > 0) ||
                (col("direction") === "UNDERWEIGHT" && o < 0))
        val scored = at.filter(col("symbol") =!= "SP_0")
          .crossJoin(broadcast(bench))
          .withColumn("direction", dirCol)
          .withColumn("outp_1m", outp("p1", "b1"))
          .withColumn("outp_3m", outp("p3", "b3"))
          .withColumn("outp_6m", outp("p6", "b6"))
          .withColumn("hit_1m", hit(col("outp_1m")))
          .withColumn("hit_3m", hit(col("outp_3m")))
          .withColumn("hit_6m", hit(col("outp_6m")))
        def b2l(c: Column) = when(c, 1L).otherwise(0L)
        val hits = b2l(coalesce(col("hit_1m"), lit(false))) +
          b2l(coalesce(col("hit_3m"), lit(false))) +
          b2l(coalesce(col("hit_6m"), lit(false)))
        val periods = col("outp_1m").isNotNull.cast("long") +
          col("outp_3m").isNotNull.cast("long") + col("outp_6m").isNotNull.cast("long")
        scored.select(
          col("symbol"), col("direction"),
          col("p1").as("actual_1m"), col("p3").as("actual_3m"), col("p6").as("actual_6m"),
          col("b1").as("bench_1m"), col("b3").as("bench_3m"), col("b6").as("bench_6m"),
          col("outp_1m"), col("outp_3m"), col("outp_6m"),
          col("hit_1m"), col("hit_3m"), col("hit_6m"),
          hits.as("total_hits"), periods.as("total_periods"),
          when(periods > 0, QueryDef.rdiv(
            hits.cast(org.apache.spark.sql.types.DecimalType(18, 6)), periods, 4))
            .otherwise(0.0).as("accuracy_score"))
      },
      Some {
        val uniSql = MarketAnalysisQueries.uniCte(PriceBars.Sp500, "NYSE")
        s"""
        WITH $uniSql,
        monthly AS (
          SELECT symbol, CAST(DATE_TRUNC('month', date) AS DATE) AS m,
            ${QueryDef.oDivRound(
          "CAST(SUM(CAST(close AS DECIMAL(18,6))) * 1000000 AS HUGEINT)", "COUNT(*)", 4)} AS mclose
          FROM uni GROUP BY 1, 2
        ),
        led AS (
          SELECT symbol, m, mclose,
            LEAD(mclose, 1) OVER w AS f1,
            LEAD(mclose, 3) OVER w AS f3,
            LEAD(mclose, 6) OVER w AS f6
          FROM monthly WINDOW w AS (PARTITION BY symbol ORDER BY m)
        ),
        at AS (
          SELECT symbol,
            CASE WHEN f1 IS NOT NULL AND mclose > 0 THEN ${QueryDef.oSnap("(f1 - mclose) / mclose * 100", 2)} END AS p1,
            CASE WHEN f3 IS NOT NULL AND mclose > 0 THEN ${QueryDef.oSnap("(f3 - mclose) / mclose * 100", 2)} END AS p3,
            CASE WHEN f6 IS NOT NULL AND mclose > 0 THEN ${QueryDef.oSnap("(f6 - mclose) / mclose * 100", 2)} END AS p6
          FROM led WHERE m = DATE '1998-01-01'
        ),
        bench AS (SELECT p1 AS b1, p3 AS b3, p6 AS b6 FROM at WHERE symbol = 'SP_0'),
        scored AS (
          SELECT a.symbol,
            CASE WHEN CAST(substr(a.symbol, 4) AS INTEGER) % 2 = 0
                 THEN 'OVERWEIGHT' ELSE 'UNDERWEIGHT' END AS direction,
            a.p1, a.p3, a.p6, b.b1, b.b3, b.b6,
            ${QueryDef.oSnap("a.p1 - b.b1", 2)} AS outp_1m,
            ${QueryDef.oSnap("a.p3 - b.b3", 2)} AS outp_3m,
            ${QueryDef.oSnap("a.p6 - b.b6", 2)} AS outp_6m
          FROM at a CROSS JOIN bench b
          WHERE a.symbol <> 'SP_0'
        ),
        hits AS (
          SELECT *,
            CASE WHEN outp_1m IS NULL THEN NULL
                 ELSE (direction = 'OVERWEIGHT' AND outp_1m > 0)
                   OR (direction = 'UNDERWEIGHT' AND outp_1m < 0) END AS hit_1m,
            CASE WHEN outp_3m IS NULL THEN NULL
                 ELSE (direction = 'OVERWEIGHT' AND outp_3m > 0)
                   OR (direction = 'UNDERWEIGHT' AND outp_3m < 0) END AS hit_3m,
            CASE WHEN outp_6m IS NULL THEN NULL
                 ELSE (direction = 'OVERWEIGHT' AND outp_6m > 0)
                   OR (direction = 'UNDERWEIGHT' AND outp_6m < 0) END AS hit_6m
          FROM scored
        )
        SELECT symbol, direction,
          p1 AS actual_1m, p3 AS actual_3m, p6 AS actual_6m,
          b1 AS bench_1m, b3 AS bench_3m, b6 AS bench_6m,
          outp_1m, outp_3m, outp_6m, hit_1m, hit_3m, hit_6m,
          CAST(COALESCE(CAST(hit_1m AS INTEGER), 0) + COALESCE(CAST(hit_3m AS INTEGER), 0)
             + COALESCE(CAST(hit_6m AS INTEGER), 0) AS BIGINT) AS total_hits,
          CAST((outp_1m IS NOT NULL)::INTEGER + (outp_3m IS NOT NULL)::INTEGER
             + (outp_6m IS NOT NULL)::INTEGER AS BIGINT) AS total_periods,
          CASE WHEN (outp_1m IS NOT NULL)::INTEGER + (outp_3m IS NOT NULL)::INTEGER
                  + (outp_6m IS NOT NULL)::INTEGER > 0
               THEN ${QueryDef.oDivRound(
          """CAST((COALESCE(CAST(hit_1m AS INTEGER), 0) + COALESCE(CAST(hit_3m AS INTEGER), 0)
             + COALESCE(CAST(hit_6m AS INTEGER), 0)) * 1000000 AS HUGEINT)""",
          """((outp_1m IS NOT NULL)::INTEGER + (outp_3m IS NOT NULL)::INTEGER
             + (outp_6m IS NOT NULL)::INTEGER)""", 4)}
               ELSE 0.0 END AS accuracy_score
        FROM hits
      """
      }
    )
  )
}
