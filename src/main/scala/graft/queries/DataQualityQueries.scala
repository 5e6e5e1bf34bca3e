package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions.nullIf
import graft.models.PriceBars
import graft.runtime.Tables

/** The four named data-quality models 1:1 (SURVEY.md §2.M data_quality
  * schema; ref dbt_project/models/data_quality/dq_zscore_anomalies.sql,
  * dq_return_spikes.sql, dq_stale_prices.sql, dq_commodity_anomalies
  * .sql). Each reference model is a Jinja loop over the OHLC (resp.
  * commodity) staging tables UNION ALL'd into one anomaly feed with a
  * shared output schema (source_table, symbol, date, check_type,
  * failure_reason, open/high/low/close, adj_close) — replicated here
  * over three OHLC and two commodity universes synthesized from
  * lineitem. The combined q_data_quality_anomalies (BacktestQueries)
  * remains the operator-level fan-in; these are the per-check named
  * models a reference user materializes individually.
  *
  * Fixtures (deterministic, md5-keyed so both engines derive them
  * identically): ~1/8 of bars repeat the prior bar's raw OHLC (stale
  * feed days), ~1/256 of (symbol, date) carry a known split (the
  * NOT-EXISTS exclusion target, ref dq_return_spikes.sql:49-56 /
  * dq_zscore_anomalies.sql:57-64), and ~1/256 of commodity prices
  * flip negative (the invalid-price branch,
  * dq_commodity_anomalies.sql:36-49).
  *
  * Reference's `detected_at = current_timestamp` is elided
  * (non-deterministic); `adj_close` is kept as the reference's typed
  * NULL pad.
  *
  * Scale: each source is one independent groupBy of the fact table +
  * per-symbol windows (one shuffle key each); the split-calendar
  * anti-join broadcasts (~1/256 of symbol-days). At 100 TB the union
  * branches parallelize per source and nothing is all-pairs.
  */
object DataQualityQueries {

  /** (source_table name, universe) — the `ohlc_source_tables()`
    * analog (ref macros; three universes keep the fan-in real without
    * re-scanning the fact table ten times). */
  private val ohlcSources: Seq[(String, PriceBars.Universe)] = Seq(
    ("stg_us_sectors", PriceBars.Sectors),
    ("stg_major_indices", PriceBars.Indices),
    ("stg_global_markets", PriceBars.GlobalMarkets))

  /** commodity_source_tables() analog (single price column). */
  private val commoditySources: Seq[(String, PriceBars.Universe)] =
    Seq(PriceBars.EnergyCommodities, PriceBars.AgricultureCommodities).map(c => (s"stg_${c.root}", c.universe))

  // ---- fixture staging (spark) ------------------------------------

  /** OHLC staging with the stale-feed fixture: ~1/8 of days repeat the
    * previous raw bar verbatim ("the feed returned yesterday's exact
    * data"). */
  private def ohlcStaging(s: SparkSession, dir: String, src: String, uni: PriceBars.Universe): DataFrame = {
    val raw = PriceBars.daily(PriceBars.lines(s, dir), Seq(uni.col.as("symbol")))
      .select(col("symbol") +: col("date") +:
        Seq("open", "high", "low", "close").map(c => QueryDef.r4(col(c)).as(c)): _*)
    val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
    val staleFlag = substring(
      md5(concat_ws("|", lit("stale"), lit(src), col("symbol"), col("date").cast("string"))),
      1, 1).isin("0", "1")
    val lagged = raw
      .withColumn("po", lag(col("open"), 1).over(w))
      .withColumn("ph", lag(col("high"), 1).over(w))
      .withColumn("pl", lag(col("low"), 1).over(w))
      .withColumn("pc", lag(col("close"), 1).over(w))
      .withColumn("is_stale", staleFlag && col("pc").isNotNull)
    lagged.select(
      col("symbol"), col("date"),
      when(col("is_stale"), col("po")).otherwise(col("open")).as("open"),
      when(col("is_stale"), col("ph")).otherwise(col("high")).as("high"),
      when(col("is_stale"), col("pl")).otherwise(col("low")).as("low"),
      when(col("is_stale"), col("pc")).otherwise(col("close")).as("close"))
  }

  /** Known-split calendar for one source (~1/256 of symbol-days). */
  private def caFixture(staged: DataFrame, src: String): DataFrame =
    staged
      .filter(substring(
        md5(concat_ws("|", lit("split"), lit(src), col("symbol"), col("date").cast("string"))),
        1, 2) === "00")
      .select(col("symbol").as("ca_symbol"), col("date").as("ca_date"))

  // ---- fixture staging (oracle SQL mirrors) -----------------------

  private def ohlcStagingSql(src: String, uni: PriceBars.Universe): String = s"""
    raw_$src AS (
      SELECT ${uni.sql} AS symbol, CAST(l_shipdate AS DATE) AS date,
        ROUND(${PriceBars.openSql}, 4) + 0.0 AS open,
        ROUND(MAX(l_extendedprice), 4) + 0.0 AS high,
        ROUND(MIN(l_extendedprice), 4) + 0.0 AS low,
        ROUND(${PriceBars.closeSql}, 4) + 0.0 AS close
      FROM lineitem GROUP BY 1, 2
    ),
    src_$src AS (
      SELECT symbol, date,
        CASE WHEN is_stale THEN po ELSE open END AS open,
        CASE WHEN is_stale THEN ph ELSE high END AS high,
        CASE WHEN is_stale THEN pl ELSE low END AS low,
        CASE WHEN is_stale THEN pc ELSE close END AS close
      FROM (
        SELECT *,
          SUBSTR(md5('stale|$src|' || symbol || '|' || CAST(date AS VARCHAR)), 1, 1) IN ('0','1')
            AND LAG(close) OVER w IS NOT NULL AS is_stale,
          LAG(open) OVER w AS po, LAG(high) OVER w AS ph,
          LAG(low) OVER w AS pl, LAG(close) OVER w AS pc
        FROM raw_$src WINDOW w AS (PARTITION BY symbol ORDER BY date)
      )
    )"""

  private def caSql(src: String): String = s"""
    ca_$src AS (
      SELECT symbol, date FROM src_$src
      WHERE SUBSTR(md5('split|$src|' || symbol || '|' || CAST(date AS VARCHAR)), 1, 2) = '00'
    )"""

  // ---- portable number-in-string formatting -----------------------

  /** `x` rendered at exactly `n` decimals for a failure_reason string:
    * snap through DECIMAL(18,6) (half boundaries round identically)
    * then fix the display scale via DECIMAL(18,n). */
  private def numStr(c: Column, n: Int): Column =
    round(c.cast(DecimalType(18, 6)), n).cast(DecimalType(18, n)).cast("string")

  private def oNumStr(x: String, n: Int): String =
    s"CAST(CAST(ROUND(CAST(($x) AS DECIMAL(18,6)), $n) AS DECIMAL(18,$n)) AS VARCHAR)"

  private val nullD = lit(null).cast("double")

  // ---- the four models --------------------------------------------

  private def unionOhlc(s: SparkSession, dir: String)(f: (String, DataFrame) => DataFrame): DataFrame =
    ohlcSources.map { case (src, uni) =>
      f(src, ohlcStaging(s, dir, src, uni))
    }.reduce(_ unionByName _)

  val defs: Seq[QueryDef] = Seq(
    // dq_return_spikes.sql: >15% daily or overnight move, excluding
    // dates with a known split (NOT EXISTS, ref :49-56).
    QueryDef(
      "q_dq_return_spikes",
      (s, dir) => unionOhlc(s, dir) { (src, staged) =>
        val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
        val rets = staged
          .withColumn("prev_close", lag(col("close"), 1).over(w))
          .withColumn("daily_return", col("close") / nullIf(col("prev_close"), 0) - 1)
          .withColumn("overnight_return", col("open") / nullIf(col("prev_close"), 0) - 1)
        val ca = caFixture(staged, src)
        rets
          .join(broadcast(ca),
            col("symbol") === col("ca_symbol") && col("date") === col("ca_date"), "left_anti")
          .filter(col("prev_close").isNotNull &&
            (abs(col("daily_return")) > 0.15 || abs(col("overnight_return")) > 0.15))
          .select(
            lit(src).as("source_table"), col("symbol"), col("date"),
            lit("return_spike").as("check_type"),
            coalesce(
              when(abs(col("daily_return")) > 0.15 && abs(col("overnight_return")) > 0.15,
                concat(lit("daily return "), numStr(col("daily_return") * 100, 1),
                  lit("% and overnight "), numStr(col("overnight_return") * 100, 1), lit("%")))
                .when(abs(col("daily_return")) > 0.15,
                  concat(lit("daily return "), numStr(col("daily_return") * 100, 1), lit("%")))
                .otherwise(
                  concat(lit("overnight return "), numStr(col("overnight_return") * 100, 1), lit("%"))),
              lit("return spike detected")).as("failure_reason"),
            col("open"), col("high"), col("low"), col("close"),
            nullD.as("adj_close"))
      },
      Some {
        val branches = ohlcSources.map { case (src, _) =>
          s"""
          SELECT '$src' AS source_table, symbol, date, 'return_spike' AS check_type,
            COALESCE(
              CASE
                WHEN ABS(daily_return) > 0.15 AND ABS(overnight_return) > 0.15
                  THEN 'daily return ' || ${oNumStr("daily_return * 100", 1)}
                       || '% and overnight ' || ${oNumStr("overnight_return * 100", 1)} || '%'
                WHEN ABS(daily_return) > 0.15
                  THEN 'daily return ' || ${oNumStr("daily_return * 100", 1)} || '%'
                ELSE 'overnight return ' || ${oNumStr("overnight_return * 100", 1)} || '%'
              END, 'return spike detected') AS failure_reason,
            open, high, low, close, CAST(NULL AS DOUBLE) AS adj_close
          FROM (
            SELECT symbol, date, open, high, low, close,
              LAG(close) OVER w AS prev_close,
              close / NULLIF(LAG(close) OVER w, 0) - 1 AS daily_return,
              open / NULLIF(LAG(close) OVER w, 0) - 1 AS overnight_return
            FROM src_$src WINDOW w AS (PARTITION BY symbol ORDER BY date)
          ) r
          WHERE prev_close IS NOT NULL
            AND (ABS(daily_return) > 0.15 OR ABS(overnight_return) > 0.15)
            AND NOT EXISTS (
              SELECT 1 FROM ca_$src ca
              WHERE ca.symbol = r.symbol AND ca.date = r.date)"""
        }
        val ctes = ohlcSources.map { case (src, uni) => ohlcStagingSql(src, uni) + "," + caSql(src) }
        s"WITH ${ctes.mkString(",")} ${branches.mkString(" UNION ALL ")}"
      }
    ),

    // dq_zscore_anomalies.sql: |z| > 2 vs the rolling 21-row window
    // EXCLUDING the current row, close-vs-open branch picking the
    // larger z for the reason string, split exclusion widened to ±2
    // days (ref :57-64).
    QueryDef(
      "q_dq_zscore_anomalies",
      (s, dir) => unionOhlc(s, dir) { (src, staged) =>
        val prior = Window.partitionBy(col("symbol")).orderBy(col("date")).rowsBetween(-21, -1)
        val roll = staged
          .withColumn("rac", avg(col("close")).over(prior))
          .withColumn("rsc", stddev_samp(col("close")).over(prior))
          .withColumn("rao", avg(col("open")).over(prior))
          .withColumn("rso", stddev_samp(col("open")).over(prior))
        val zc = abs(col("close") - col("rac")) / nullIf(col("rsc"), 0)
        val zo = abs(col("open") - col("rao")) / nullIf(col("rso"), 0)
        val ca = caFixture(staged, src)
        roll
          .join(broadcast(ca),
            col("symbol") === col("ca_symbol") &&
              col("date") >= date_sub(col("ca_date"), 2) &&
              col("date") <= date_add(col("ca_date"), 2), "left_anti")
          .filter(col("rsc").isNotNull && col("rsc") > 0 && (zc > 2 || zo > 2))
          .select(
            lit(src).as("source_table"), col("symbol"), col("date"),
            lit("zscore").as("check_type"),
            coalesce(
              when(zc > zo, concat(lit("close zscore="), numStr(zc, 2)))
                .otherwise(concat(lit("open zscore="), numStr(zo, 2))),
              lit("zscore anomaly detected")).as("failure_reason"),
            col("open"), col("high"), col("low"), col("close"),
            nullD.as("adj_close"))
      },
      Some {
        val branches = ohlcSources.map { case (src, _) =>
          val zc = "ABS(close - rac) / NULLIF(rsc, 0)"
          val zo = "ABS(open - rao) / NULLIF(rso, 0)"
          s"""
          SELECT '$src' AS source_table, symbol, date, 'zscore' AS check_type,
            COALESCE(
              CASE WHEN $zc > $zo THEN 'close zscore=' || ${oNumStr(zc, 2)}
                   ELSE 'open zscore=' || ${oNumStr(zo, 2)} END,
              'zscore anomaly detected') AS failure_reason,
            open, high, low, close, CAST(NULL AS DOUBLE) AS adj_close
          FROM (
            SELECT symbol, date, open, high, low, close,
              AVG(close) OVER w AS rac, STDDEV_SAMP(close) OVER w AS rsc,
              AVG(open) OVER w AS rao, STDDEV_SAMP(open) OVER w AS rso
            FROM src_$src
            WINDOW w AS (PARTITION BY symbol ORDER BY date
                         ROWS BETWEEN 21 PRECEDING AND 1 PRECEDING)
          ) r
          WHERE rsc IS NOT NULL AND rsc > 0 AND ($zc > 2 OR $zo > 2)
            AND NOT EXISTS (
              SELECT 1 FROM ca_$src ca
              WHERE ca.symbol = r.symbol
                AND r.date BETWEEN ca.date - 2 AND ca.date + 2)"""
        }
        val ctes = ohlcSources.map { case (src, uni) => ohlcStagingSql(src, uni) + "," + caSql(src) }
        s"WITH ${ctes.mkString(",")} ${branches.mkString(" UNION ALL ")}"
      }
    ),

    // dq_stale_prices.sql: all four OHLC values identical to the
    // previous bar (the stale-feed fixture guarantees hits).
    QueryDef(
      "q_dq_stale_prices",
      (s, dir) => unionOhlc(s, dir) { (src, staged) =>
        val w = Window.partitionBy(col("symbol")).orderBy(col("date"))
        staged
          .withColumn("pc", lag(col("close"), 1).over(w))
          .withColumn("po", lag(col("open"), 1).over(w))
          .withColumn("ph", lag(col("high"), 1).over(w))
          .withColumn("pl", lag(col("low"), 1).over(w))
          .filter(col("close") === col("pc") && col("open") === col("po") &&
            col("high") === col("ph") && col("low") === col("pl") && col("pc").isNotNull)
          .select(
            lit(src).as("source_table"), col("symbol"), col("date"),
            lit("stale_price").as("check_type"),
            lit("all OHLC identical to previous day").as("failure_reason"),
            col("open"), col("high"), col("low"), col("close"),
            nullD.as("adj_close"))
      },
      Some {
        val branches = ohlcSources.map { case (src, _) =>
          s"""
          SELECT '$src' AS source_table, symbol, date, 'stale_price' AS check_type,
            'all OHLC identical to previous day' AS failure_reason,
            open, high, low, close, CAST(NULL AS DOUBLE) AS adj_close
          FROM (
            SELECT symbol, date, open, high, low, close,
              LAG(close) OVER w AS pc, LAG(open) OVER w AS po,
              LAG(high) OVER w AS ph, LAG(low) OVER w AS pl
            FROM src_$src WINDOW w AS (PARTITION BY symbol ORDER BY date)
          )
          WHERE close = pc AND open = po AND high = ph AND low = pl AND pc IS NOT NULL"""
        }
        val ctes = ohlcSources.map { case (src, uni) => ohlcStagingSql(src, uni) }
        s"WITH ${ctes.mkString(",")} ${branches.mkString(" UNION ALL ")}"
      }
    ),

    // dq_commodity_anomalies.sql: the single-price-column schema —
    // four checks (invalid price, zscore, return spike, stale) per
    // commodity source, UNION ALL'd.
    QueryDef(
      "q_dq_commodity_anomalies",
      (s, dir) => {
        import QueryDef.r4
        commoditySources.map { case (src, uni) =>
          val raw = PriceBars.daily(PriceBars.lines(s, dir), Seq(uni.col.as("commodity_name")))
            .select(col("commodity_name"), col("date"), r4(col("close")).as("price0"))
          val w = Window.partitionBy(col("commodity_name")).orderBy(col("date"))
          val staleFlag = substring(md5(concat_ws("|",
            lit("stale"), lit(src), col("commodity_name"), col("date").cast("string"))), 1, 1)
            .isin("0", "1")
          val negFlag = substring(md5(concat_ws("|",
            lit("neg"), lit(src), col("commodity_name"), col("date").cast("string"))), 1, 2) === "00"
          val priced = raw
            .withColumn("pp0", lag(col("price0"), 1).over(w))
            .withColumn("price1",
              when(staleFlag && col("pp0").isNotNull, col("pp0")).otherwise(col("price0")))
            .withColumn("price", when(negFlag, -col("price1")).otherwise(col("price1")))
          val prior = w.rowsBetween(-21, -1)
          val enriched = priced
            .filter(col("price").isNotNull && col("date").isNotNull)
            .withColumn("prev_price", lag(col("price"), 1).over(w))
            .withColumn("rolling_avg", avg(col("price")).over(prior))
            .withColumn("rolling_std", stddev_samp(col("price")).over(prior))
          def shaped(checkType: String, reason: Column) = Seq(
            lit(src).as("source_table"), col("commodity_name").as("symbol"), col("date"),
            lit(checkType).as("check_type"), reason.as("failure_reason"),
            nullD.as("open"), nullD.as("high"), nullD.as("low"),
            col("price").as("close"), nullD.as("adj_close"))
          val z = abs(col("price") - col("rolling_avg")) / nullIf(col("rolling_std"), 0)
          val invalid = enriched.filter(col("price") <= 0)
            .select(shaped("invalid_price",
              coalesce(concat(lit("price="), col("price").cast(DecimalType(18, 4)).cast("string")),
                lit("invalid price"))): _*)
          val zs = enriched
            .filter(col("rolling_std").isNotNull && col("rolling_std") > 0 && z > 2)
            .select(shaped("zscore",
              coalesce(concat(lit("price zscore="), numStr(z, 2)), lit("zscore anomaly"))): _*)
          val spike = enriched
            .filter(col("prev_price").isNotNull && col("prev_price") > 0 &&
              abs(col("price") / col("prev_price") - 1) > 0.15)
            .select(shaped("return_spike",
              coalesce(concat(lit("daily return "),
                numStr((col("price") / nullIf(col("prev_price"), 0) - 1) * 100, 1), lit("%")),
                lit("return spike"))): _*)
          val stale = enriched
            .filter(col("prev_price").isNotNull && col("price") === col("prev_price"))
            .select(shaped("stale_price", lit("price identical to previous day")): _*)
          invalid.unionByName(zs).unionByName(spike).unionByName(stale)
        }.reduce(_ unionByName _)
      },
      Some {
        val branches = commoditySources.map { case (src, uni) =>
          val z = "ABS(price - rolling_avg) / NULLIF(rolling_std, 0)"
          s"""
          SELECT * FROM (
            WITH raw_$src AS (
              SELECT ${uni.sql} AS commodity_name, CAST(l_shipdate AS DATE) AS date,
                ROUND(${PriceBars.closeSql}, 4) + 0.0 AS price0
              FROM lineitem GROUP BY 1, 2
            ),
            priced_$src AS (
              SELECT commodity_name, date,
                CASE WHEN SUBSTR(md5('neg|$src|' || commodity_name || '|' || CAST(date AS VARCHAR)), 1, 2) = '00'
                     THEN -price1 ELSE price1 END AS price
              FROM (
                SELECT *,
                  CASE WHEN SUBSTR(md5('stale|$src|' || commodity_name || '|' || CAST(date AS VARCHAR)), 1, 1) IN ('0','1')
                            AND LAG(price0) OVER w IS NOT NULL
                       THEN LAG(price0) OVER w ELSE price0 END AS price1
                FROM raw_$src WINDOW w AS (PARTITION BY commodity_name ORDER BY date)
              )
            ),
            enriched_$src AS (
              SELECT commodity_name, date, price,
                LAG(price) OVER w AS prev_price,
                AVG(price) OVER prior AS rolling_avg,
                STDDEV_SAMP(price) OVER prior AS rolling_std
              FROM priced_$src
              WHERE price IS NOT NULL AND date IS NOT NULL
              WINDOW w AS (PARTITION BY commodity_name ORDER BY date),
                     prior AS (PARTITION BY commodity_name ORDER BY date
                               ROWS BETWEEN 21 PRECEDING AND 1 PRECEDING)
            )
            SELECT '$src' AS source_table, commodity_name AS symbol, date,
              'invalid_price' AS check_type,
              COALESCE('price=' || CAST(CAST(price AS DECIMAL(18,4)) AS VARCHAR), 'invalid price') AS failure_reason,
              CAST(NULL AS DOUBLE) AS open, CAST(NULL AS DOUBLE) AS high,
              CAST(NULL AS DOUBLE) AS low, price AS close, CAST(NULL AS DOUBLE) AS adj_close
            FROM enriched_$src WHERE price <= 0
            UNION ALL
            SELECT '$src', commodity_name, date, 'zscore',
              COALESCE('price zscore=' || ${oNumStr(z, 2)}, 'zscore anomaly'),
              NULL, NULL, NULL, price, NULL
            FROM enriched_$src
            WHERE rolling_std IS NOT NULL AND rolling_std > 0 AND $z > 2
            UNION ALL
            SELECT '$src', commodity_name, date, 'return_spike',
              COALESCE('daily return ' || ${oNumStr("(price / NULLIF(prev_price, 0) - 1) * 100", 1)} || '%', 'return spike'),
              NULL, NULL, NULL, price, NULL
            FROM enriched_$src
            WHERE prev_price IS NOT NULL AND prev_price > 0
              AND ABS(price / prev_price - 1) > 0.15
            UNION ALL
            SELECT '$src', commodity_name, date, 'stale_price',
              'price identical to previous day',
              NULL, NULL, NULL, price, NULL
            FROM enriched_$src
            WHERE prev_price IS NOT NULL AND price = prev_price
          )"""
        }
        branches.mkString(" UNION ALL ")
      }
    ),
    // Benford first-digit forensics (Nigrini's fraud/data-entry test,
    // the classic financial-DQ screen): per ship-year distribution of
    // the leading significant digit of extended prices vs the Benford
    // expectation log10(1+1/d), with a per-year chi-square flag
    // (threshold 15.507 = X²₀.₀₅, 8 df). Digits come from exact cents
    // (never float log10 — power-of-ten boundaries round engine-
    // dependently); the Benford constants are inlined as the SAME
    // Scala doubles on both engines; chi-square terms are single IEEE
    // ops summed through the DECIMAL(18,6) snap. One groupBy + one
    // year-keyed window.
    {
      val benford = (1 to 9).map(d => d.toString -> math.log10(1 + 1.0 / d))
      QueryDef(
        "q_dq_benford_digits",
        (s, dir) => {
          import QueryDef.rsnap
          val cents = round(col("l_extendedprice") * 100, 0).cast("long")
          val p = benford.tail.foldLeft(
            when(col("d") === benford.head._1, lit(benford.head._2))) {
            case (acc, (dig, prob)) => acc.when(col("d") === dig, lit(prob))
          }
          val wy   = Window.partitionBy(col("yr"))
          val term = {
            val x = col("obs").cast("double") - col("n").cast("double") * col("p")
            (x * x) / (col("n").cast("double") * col("p"))
          }
          val chi2 = rsnap(
            sum(term.cast(DecimalType(18, 6))).over(wy).cast("double"), 4)
          val counts = Tables(s, dir).lineitem
            .filter(col("l_extendedprice") > 0)
            .select(
              year(to_date(col("l_shipdate"))).cast("long").as("yr"),
              substring(cents.cast("string"), 1, 1).as("d"))
            .groupBy(col("yr"), col("d"))
            .agg(count(lit(1)).as("obs"))
          // full digit spine: a year where some digit NEVER occurs must
          // contribute its (0 − n·p)²/(n·p) = n·p term — that absence
          // is precisely the anomaly a Benford screen exists to catch
          counts
            .select(col("yr")).distinct()
            .crossJoin(broadcast(
              s.createDataFrame(s.sparkContext.parallelize(
                  (1 to 9).map(d => org.apache.spark.sql.Row(d.toString))),
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField("d",
                    org.apache.spark.sql.types.StringType, nullable = false))))))
            .join(counts, Seq("yr", "d"), "left")
            .withColumn("obs", coalesce(col("obs"), lit(0L)))
            .withColumn("n", sum(col("obs")).over(wy))
            .withColumn("p", p)
            .withColumn("chi2_year", chi2)
            .select(
              col("yr").as("ship_year"),
              col("d").as("leading_digit"),
              col("obs").as("observed"),
              round(col("p"), 4).as("expected_share"),
              col("chi2_year"),
              (col("chi2_year") < 15.507).as("benford_ok"))
        },
        Some {
          val caseSql = benford
            .map { case (d, prob) => s"WHEN '$d' THEN CAST($prob AS DOUBLE)" }
            .mkString("CASE d ", " ", " END")
          val termSql = "((CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * p) " +
            "* (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * p)) / (CAST(n AS DOUBLE) * p)"
          val chi2Sql = QueryDef.oSnap(
            s"CAST(SUM(CAST($termSql AS DECIMAL(18,6))) OVER (PARTITION BY yr) AS DOUBLE)", 4)
          s"""
          WITH cents AS (
            SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
              substring(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS d
            FROM lineitem WHERE l_extendedprice > 0
          ),
          counts AS (SELECT yr, d, COUNT(*) AS obs FROM cents GROUP BY 1, 2),
          spine AS (
            SELECT yr, dd.d FROM (SELECT DISTINCT yr FROM counts)
            CROSS JOIN (VALUES ('1'),('2'),('3'),('4'),('5'),('6'),('7'),('8'),('9')) AS dd(d)
          ),
          filled AS (
            SELECT s.yr, s.d, COALESCE(c.obs, 0) AS obs
            FROM spine s LEFT JOIN counts c ON s.yr = c.yr AND s.d = c.d
          ),
          win AS (
            SELECT yr, d, obs,
              SUM(obs) OVER (PARTITION BY yr) AS n,
              $caseSql AS p
            FROM filled
          ),
          scored AS (
            SELECT yr, d, obs, p, $chi2Sql AS chi2_year FROM win
          )
          SELECT yr AS ship_year, d AS leading_digit,
            CAST(obs AS BIGINT) AS observed,
            ROUND(p, 4) + 0.0 AS expected_share,
            chi2_year,
            chi2_year < 15.507 AS benford_ok
          FROM scored
        """
        }
      )
    }
  )
}
