package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** Scalar function bundle mirroring the reference's macro/SQL surface
  * (SURVEY.md §2.B). Everything here compiles to built-in Catalyst
  * expressions (whole-stage codegen'd) — no UDFs.
  */
object GraftFunctions {

  /** BigQuery SAFE_DIVIDE(x, y): NULL on divide-by-zero.
    * Ref: dbt_project/macros/technical_analysis/ta_primitives.sql:62-65. */
  def safeDivide(x: Column, y: Column): Column =
    when(y =!= 0 && y.isNotNull, x / y)

  /** SAFE_CAST with a NULL sentinel (e.g. FRED "." missing marker).
    * Ref: dbt_project/models/staging/stg_fred_series.sql:3. */
  def safeCastDouble(c: Column, sentinels: Seq[String] = Seq(".")): Column = {
    val cleaned = if (sentinels.isEmpty) c else when(!c.isin(sentinels: _*), c)
    cleaned.cast("double")
  }

  /** NULLIF equivalent as a Column op. */
  def nullIf(c: Column, v: Any): Column = when(c =!= lit(v), c)

  /** Day-ordinal since epoch — the ordering key for calendar-aware
    * RANGE window frames (BigQuery UNIX_DATE analogue).
    * Ref: calculate_market_analysis_return.sql:89-197. */
  def epochDay(dateCol: Column): Column =
    datediff(dateCol.cast("date"), to_date(lit("1970-01-01")))

  /** QUALIFY emulation: keep rows where row_number() over w == n.
    * Ref: technical_price_universe.sql:79-82 (QUALIFY dedup idiom). */
  def qualifyRowNumber(df: DataFrame, w: WindowSpec, keep: Int = 1): DataFrame =
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === keep)
      .drop("__rn")

  /** Deterministic surrogate key: 64-bit hash of pipe-joined parts
    * (FARM_FINGERPRINT analogue; value differs from BigQuery's but is
    * only used as a synthetic key).
    * Ref: stg_economic_calendar.sql:21-29. */
  def fingerprint(cols: Column*): Column = xxhash64(concat_ws("|", cols: _*))

  /** Cosine similarity of two float-array columns via higher-order
    * functions (codegen'd; no UDF).
    * Ref: macro_agents/.../sec/semantic_search.py:8-12 (ML.DISTANCE COSINE). */
  def cosineSimilarity(a: Column, b: Column): Column = {
    val dot   = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val normA = sqrt(aggregate(a, lit(0.0), (s, v) => s + v * v))
    val normB = sqrt(aggregate(b, lit(0.0), (s, v) => s + v * v))
    safeDivide(dot, normA * normB)
  }

  /** Row-wise mean of the non-null arguments (numpy nanmean analogue).
    * Ref: fear_greed_composite.py:239-247. */
  def nanMean(cols: Column*): Column = {
    val arr     = array(cols.map(_.cast("double")): _*)
    val nonNull = filter(arr, _.isNotNull)
    when(size(nonNull) > 0,
      aggregate(nonNull, lit(0.0), (s, v) => s + v) / size(nonNull))
  }
}
