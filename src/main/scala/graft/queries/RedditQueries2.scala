package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryDef.{davg, oSnap, rsnap}
import graft.runtime.Tables

/** reddit_sentiment_trends (ref dbt_project/models/analysis/
  * reddit_sentiment_trends.sql, 126 LoC) + the stg_reddit_sentiment
  * staging it consumes: per-(day, subreddit) engagement stats (score
  * percentiles, self/deleted ratios) joined to VADER-scored sentiment
  * aggregates (post/comment compound means, positive/negative shares,
  * very_positive/negative counts), 7-day prior-exclusive rolling
  * engagement/sentiment baselines, momentum percentages against those
  * baselines, and the bullish/bearish/positive/negative/neutral trend
  * ladder.
  *
  * Parity: daily aggregates are exact (integer sums and decimal-routed
  * means); the 7-row rolling baselines and their momentum derivatives
  * are order-sensitive at the last ulp and ship round-6 on both sides;
  * trend comparisons use the raw baselines (a 1-ulp flip needs
  * near-exact equality of two unrelated averages).
  */
object RedditQueries2 {

  /** stg_reddit_sentiment synthesized from events: compound scores are
    * exact 2-decimal values in [-1, 1]. */
  private def stgSentiment(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).events
    val compound = ((col("event_id") % 201) - 100).cast("double") / 100.0
    val sub = when(col("user_id") % 5 === 0, "stocks")
      .when(col("user_id") % 5 === 1, "investing")
      .when(col("user_id") % 5 === 2, "wallstreetbets")
      .when(col("user_id") % 5 === 3, "u_promobot")
      .otherwise("economy")
    e.select(
      col("event_id").as("content_id"),
      when(col("event_id") % 3 === 0, "post_title")
        .when(col("event_id") % 3 === 1, "post_body")
        .otherwise("comment").as("content_type"),
      sub.as("subreddit"),
      to_date(col("ts")).cast("string").as("partition_date"),
      compound.as("compound_score"),
      when(compound >= 0.05, "positive")
        .when(compound <= -0.05, "negative")
        .otherwise("neutral").as("sentiment_label"),
      when(compound >= 0.5, "very_positive")
        .when(compound >= 0.05, "positive")
        .when(compound <= -0.5, "very_negative")
        .when(compound <= -0.05, "negative")
        .otherwise("neutral").as("sentiment_strength"),
      abs(compound).as("sentiment_intensity"))
  }

  private val stgSentimentSql: String = """
    stg_sent AS (
      SELECT event_id AS content_id,
        CASE WHEN event_id % 3 = 0 THEN 'post_title'
             WHEN event_id % 3 = 1 THEN 'post_body'
             ELSE 'comment' END AS content_type,
        CASE WHEN user_id % 5 = 0 THEN 'stocks'
             WHEN user_id % 5 = 1 THEN 'investing'
             WHEN user_id % 5 = 2 THEN 'wallstreetbets'
             WHEN user_id % 5 = 3 THEN 'u_promobot'
             ELSE 'economy' END AS subreddit,
        CAST(CAST(ts AS DATE) AS VARCHAR) AS partition_date,
        CAST((event_id % 201) - 100 AS DOUBLE) / 100.0 AS compound_score,
        CASE WHEN CAST((event_id % 201) - 100 AS DOUBLE) / 100.0 >= 0.05 THEN 'positive'
             WHEN CAST((event_id % 201) - 100 AS DOUBLE) / 100.0 <= -0.05 THEN 'negative'
             ELSE 'neutral' END AS sentiment_label,
        CASE WHEN CAST((event_id % 201) - 100 AS DOUBLE) / 100.0 >= 0.5 THEN 'very_positive'
             WHEN CAST((event_id % 201) - 100 AS DOUBLE) / 100.0 >= 0.05 THEN 'positive'
             WHEN CAST((event_id % 201) - 100 AS DOUBLE) / 100.0 <= -0.5 THEN 'very_negative'
             WHEN CAST((event_id % 201) - 100 AS DOUBLE) / 100.0 <= -0.05 THEN 'negative'
             ELSE 'neutral' END AS sentiment_strength,
        ABS(CAST((event_id % 201) - 100 AS DOUBLE) / 100.0) AS sentiment_intensity
      FROM events
    )"""

  /** The stg_reddit_posts frame, re-derived (same synthesis as
    * q_stg_reddit_posts). */
  private def posts(s: SparkSession, dir: String): DataFrame =
    MiscModelQueries.redditPosts(s, dir)

  private def sentimentTrends(s: SparkSession, dir: String): DataFrame = {
    val eng = posts(s, dir)
      .groupBy(col("partition_date"), col("subreddit"))
      .agg(
        count(lit(1)).as("num_posts"),
        (sum(col("score")).cast("double") / count(col("score"))).as("avg_score"),
        (sum(col("num_comments")).cast("double") / count(col("num_comments")))
          .as("avg_comments"),
        sum(col("num_comments")).cast("long").as("total_comments"),
        sum(col("engagement_score")).cast("long").as("total_engagement"),
        expr("percentile(score, 0.5)").as("median_score"),
        expr("percentile(score, 0.75)").as("p75_score"),
        expr("percentile(score, 0.9)").as("p90_score"),
        max(col("score")).as("max_score"),
        max(col("num_comments")).as("max_comments"),
        (sum(when(col("is_self_post"), 1).otherwise(0)).cast("double") / count(lit(1)))
          .as("self_post_ratio"),
        (sum(when(col("is_deleted"), 1).otherwise(0)).cast("double") / count(lit(1)))
          .as("deleted_post_ratio"))

    val sent = stgSentiment(s, dir)
      .withColumn("pd", col("partition_date").try_cast("date"))
      .groupBy(col("pd"), col("subreddit").as("s_sub"))
      .agg(
        count(lit(1)).as("total_scored"),
        davg(col("compound_score")).as("avg_compound"),
        davg(when(col("content_type").like("post%"), col("compound_score")))
          .as("avg_post_sentiment"),
        davg(when(col("content_type") === "comment", col("compound_score")))
          .as("avg_comment_sentiment"),
        (sum(when(col("sentiment_label") === "positive", 1).otherwise(0)).cast("double") /
          count(lit(1)) * 100).as("pct_positive"),
        (sum(when(col("sentiment_label") === "negative", 1).otherwise(0)).cast("double") /
          count(lit(1)) * 100).as("pct_negative"),
        davg(col("sentiment_intensity")).as("avg_intensity"),
        sum(when(col("sentiment_strength") === "very_positive", 1).otherwise(0))
          .cast("long").as("very_positive_count"),
        sum(when(col("sentiment_strength") === "very_negative", 1).otherwise(0))
          .cast("long").as("very_negative_count"))

    val combined = eng.join(sent,
      col("partition_date") === col("pd") && col("subreddit") === col("s_sub"), "left")
      .drop("pd", "s_sub")

    val w = Window.partitionBy(col("subreddit")).orderBy(col("partition_date"))
      .rowsBetween(-7, -1)
    val roll = combined
      .withColumn("weekly_avg_score_raw", avg(col("avg_score")).over(w))
      .withColumn("weekly_avg_comments_raw", avg(col("avg_comments")).over(w))
      .withColumn("weekly_avg_posts_raw", avg(col("num_posts")).over(w))
      .withColumn("weekly_avg_sentiment_raw", avg(col("avg_compound")).over(w))

    def mom(c: Column, base: Column): Column =
      when(base > 0, (c - base) / base * 100).otherwise(0.0)
    roll.select(
      col("partition_date"), col("subreddit"), col("num_posts"), col("avg_score"),
      col("avg_comments"), col("total_comments"), col("total_engagement"),
      col("median_score"), col("p75_score"), col("p90_score"),
      col("max_score"), col("max_comments"), col("self_post_ratio"),
      col("deleted_post_ratio"), col("total_scored"), col("avg_compound"),
      col("avg_post_sentiment"), col("avg_comment_sentiment"),
      col("pct_positive"), col("pct_negative"), col("avg_intensity"),
      col("very_positive_count"), col("very_negative_count"),
      round(col("weekly_avg_score_raw"), 6).as("weekly_avg_score"),
      round(col("weekly_avg_comments_raw"), 6).as("weekly_avg_comments"),
      round(col("weekly_avg_posts_raw"), 6).as("weekly_avg_posts"),
      round(col("weekly_avg_sentiment_raw"), 6).as("weekly_avg_sentiment"),
      round(mom(col("avg_score"), col("weekly_avg_score_raw")), 6)
        .as("score_momentum_pct"),
      round(mom(col("avg_comments"), col("weekly_avg_comments_raw")), 6)
        .as("comments_momentum_pct"),
      round(mom(col("num_posts").cast("double"), col("weekly_avg_posts_raw")), 6)
        .as("activity_momentum_pct"),
      round(when(col("weekly_avg_sentiment_raw").isNotNull,
        col("avg_compound") - col("weekly_avg_sentiment_raw")), 6)
        .as("sentiment_momentum"),
      when(col("avg_compound") > 0.05 &&
        col("avg_score") > coalesce(col("weekly_avg_score_raw"), lit(0.0)), "bullish")
        .when(col("avg_compound") < -0.05 &&
          col("avg_score") < coalesce(col("weekly_avg_score_raw"), lit(0.0)), "bearish")
        .when(col("avg_compound") > 0.05, "positive")
        .when(col("avg_compound") < -0.05, "negative")
        .otherwise("neutral").as("sentiment_trend"))
  }

  private val sentimentTrendsSql: String = {
    // the q_stg_reddit_posts oracle, reused as a CTE body
    val postsSql = MiscModelQueries.redditPostsSql
    s"""
    WITH posts AS ($postsSql),
    $stgSentimentSql,
    daily_engagement AS (
      SELECT partition_date, subreddit,
        COUNT(*) AS num_posts,
        CAST(SUM(score) AS DOUBLE) / COUNT(score) AS avg_score,
        CAST(SUM(num_comments) AS DOUBLE) / COUNT(num_comments) AS avg_comments,
        CAST(SUM(num_comments) AS BIGINT) AS total_comments,
        CAST(SUM(engagement_score) AS BIGINT) AS total_engagement,
        QUANTILE_CONT(score, 0.5) AS median_score,
        QUANTILE_CONT(score, 0.75) AS p75_score,
        QUANTILE_CONT(score, 0.9) AS p90_score,
        MAX(score) AS max_score,
        MAX(num_comments) AS max_comments,
        CAST(SUM(CASE WHEN is_self_post THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS self_post_ratio,
        CAST(SUM(CASE WHEN is_deleted THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS deleted_post_ratio
      FROM posts
      GROUP BY partition_date, subreddit
    ),
    daily_sentiment AS (
      SELECT TRY_CAST(partition_date AS DATE) AS pd, subreddit AS s_sub,
        COUNT(*) AS total_scored,
        CAST(SUM(CAST(compound_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(compound_score) AS avg_compound,
        CAST(SUM(CAST(CASE WHEN content_type LIKE 'post%' THEN compound_score END AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(CASE WHEN content_type LIKE 'post%' THEN compound_score END) AS avg_post_sentiment,
        CAST(SUM(CAST(CASE WHEN content_type = 'comment' THEN compound_score END AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(CASE WHEN content_type = 'comment' THEN compound_score END) AS avg_comment_sentiment,
        CAST(SUM(CASE WHEN sentiment_label = 'positive' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 100 AS pct_positive,
        CAST(SUM(CASE WHEN sentiment_label = 'negative' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 100 AS pct_negative,
        CAST(SUM(CAST(sentiment_intensity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(sentiment_intensity) AS avg_intensity,
        CAST(SUM(CASE WHEN sentiment_strength = 'very_positive' THEN 1 ELSE 0 END) AS BIGINT) AS very_positive_count,
        CAST(SUM(CASE WHEN sentiment_strength = 'very_negative' THEN 1 ELSE 0 END) AS BIGINT) AS very_negative_count
      FROM stg_sent
      GROUP BY 1, 2
    ),
    combined AS (
      SELECT e.*, s.total_scored, s.avg_compound, s.avg_post_sentiment,
        s.avg_comment_sentiment, s.pct_positive, s.pct_negative, s.avg_intensity,
        s.very_positive_count, s.very_negative_count
      FROM daily_engagement e
      LEFT JOIN daily_sentiment s
        ON e.partition_date = s.pd AND e.subreddit = s.s_sub
    ),
    with_rolling AS (
      SELECT *,
        AVG(avg_score) OVER w7 AS weekly_avg_score_raw,
        AVG(avg_comments) OVER w7 AS weekly_avg_comments_raw,
        AVG(num_posts) OVER w7 AS weekly_avg_posts_raw,
        AVG(avg_compound) OVER w7 AS weekly_avg_sentiment_raw
      FROM combined
      WINDOW w7 AS (PARTITION BY subreddit ORDER BY partition_date
        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT partition_date, subreddit, num_posts, avg_score, avg_comments,
      total_comments, total_engagement, median_score, p75_score, p90_score,
      max_score, max_comments, self_post_ratio, deleted_post_ratio,
      total_scored, avg_compound, avg_post_sentiment, avg_comment_sentiment,
      pct_positive, pct_negative, avg_intensity,
      very_positive_count, very_negative_count,
      ROUND(weekly_avg_score_raw, 6) + 0.0 AS weekly_avg_score,
      ROUND(weekly_avg_comments_raw, 6) + 0.0 AS weekly_avg_comments,
      ROUND(weekly_avg_posts_raw, 6) + 0.0 AS weekly_avg_posts,
      ROUND(weekly_avg_sentiment_raw, 6) + 0.0 AS weekly_avg_sentiment,
      ROUND(CASE WHEN weekly_avg_score_raw > 0
        THEN (avg_score - weekly_avg_score_raw) / weekly_avg_score_raw * 100
        ELSE 0 END, 6) + 0.0 AS score_momentum_pct,
      ROUND(CASE WHEN weekly_avg_comments_raw > 0
        THEN (avg_comments - weekly_avg_comments_raw) / weekly_avg_comments_raw * 100
        ELSE 0 END, 6) + 0.0 AS comments_momentum_pct,
      ROUND(CASE WHEN weekly_avg_posts_raw > 0
        THEN (num_posts - weekly_avg_posts_raw) / weekly_avg_posts_raw * 100
        ELSE 0 END, 6) + 0.0 AS activity_momentum_pct,
      ROUND(CASE WHEN weekly_avg_sentiment_raw IS NOT NULL
        THEN avg_compound - weekly_avg_sentiment_raw END, 6) + 0.0 AS sentiment_momentum,
      CASE
        WHEN avg_compound > 0.05 AND avg_score > COALESCE(weekly_avg_score_raw, 0) THEN 'bullish'
        WHEN avg_compound < -0.05 AND avg_score < COALESCE(weekly_avg_score_raw, 0) THEN 'bearish'
        WHEN avg_compound > 0.05 THEN 'positive'
        WHEN avg_compound < -0.05 THEN 'negative'
        ELSE 'neutral'
      END AS sentiment_trend
    FROM with_rolling
  """
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_reddit_sentiment_trends", sentimentTrends, Some(sentimentTrendsSql)),
    // the reference materializes this under its agents_preprocess name
    // (agent_reddit_sentiment_trends.sql IS the model) — both names
    // resolve to the same plan
    QueryDef("q_agent_reddit_sentiment_trends", sentimentTrends, Some(sentimentTrendsSql))
  )
}
