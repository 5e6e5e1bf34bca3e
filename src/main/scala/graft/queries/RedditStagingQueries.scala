package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.runtime.Tables

/** The remaining reddit staging models 1:1 (SURVEY.md §2.M staging;
  * refs dbt_project/models/staging/stg_reddit_comments.sql,
  * stg_reddit_post_content.sql, stg_reddit_ticker_mentions.sql,
  * stg_reddit_sentiment.sql). Raw sources are synthesized
  * deterministically from the events table (same moduli family as
  * stg_reddit_posts, MiscModelQueries.redditPosts) so both engines
  * derive identical fixtures, including the malformed rows each
  * model's WHERE clause exists to drop (empty/null bodies, deleted
  * authors, null tickers/content ids, u_ ad subreddits).
  *
  * Scale: pure per-row projections plus one broadcast-size dimension
  * join each (posts enrichment / S&P constituents) — no shuffles
  * beyond the joins, which hash on the natural content keys.
  */
object RedditStagingQueries {

  /** ref social_tickers.py:18-59 — the curated false-positive list. */
  val TickerBlocklist: Seq[String] = Seq(
    "USD", "USA", "GDP", "CPI", "PPI", "PCE", "FED", "SEC", "FBI", "CIA",
    "CEO", "CFO", "CTO", "COO", "IPO", "ETF", "NYSE", "ATH", "ATL", "IMO",
    "FOMO", "YOLO", "HODL", "LMAO", "EDIT", "PSA", "TLDR", "EPS", "PE",
    "PB", "ROI", "ROE", "YOY", "QOQ", "MOM", "APR", "APY", "IRA", "K")

  /** extract_tickers 1:1 (ref social_tickers.py:15,63-73): $AAPL-style
    * cashtags — 1-5 uppercase letters after `$` at a word boundary —
    * deduplicated, with the blocklist filtered out. Pure Catalyst
    * (regexp_extract_all + higher-order filter), no UDF. */
  def extractTickers(text: Column): Column =
    array_distinct(filter(
      regexp_extract_all(text, lit("""\$([A-Z]{1,5})\b"""), lit(1)),
      t => !array_contains(typedLit(TickerBlocklist), t)))

  private def subMixed: Column = when(col("user_id") % 5 === 0, "Stocks")
    .when(col("user_id") % 5 === 1, "investing")
    .when(col("user_id") % 5 === 2, "WallStreetBets")
    .when(col("user_id") % 5 === 3, "u_PromoBot")
    .otherwise("economy")

  private val subMixedSql = """CASE WHEN user_id % 5 = 0 THEN 'Stocks'
         WHEN user_id % 5 = 1 THEN 'investing'
         WHEN user_id % 5 = 2 THEN 'WallStreetBets'
         WHEN user_id % 5 = 3 THEN 'u_PromoBot'
         ELSE 'economy' END"""

  private val linksCol = when(col("event_id") % 11 === 0, lit(null).cast("string"))
    .when(col("event_id") % 7 === 0, "https://x.com/a,https://y.com/b")
    .when(col("event_id") % 7 === 1, "https://x.com/a")
    .otherwise(lit(""))

  private val linksSql = """CASE WHEN event_id % 11 = 0 THEN NULL
         WHEN event_id % 7 = 0 THEN 'https://x.com/a,https://y.com/b'
         WHEN event_id % 7 = 1 THEN 'https://x.com/a'
         ELSE '' END"""

  val defs: Seq[QueryDef] = Seq(
    // reddit_ticker_mentions extraction (ref social_tickers.py): the
    // cashtag regex + blocklist over document text. The fixture plants
    // one valid synthetic cashtag per doc, a duplicate mention on
    // doc_id%7 (exercises dedup), and blocklisted $GDP/$YOLO noise on
    // doc_id%4 / doc_id%5 (exercises the filter); lowercase `$abc`
    // never matches the [A-Z] class.
    QueryDef(
      "q_ticker_extraction",
      (s, dir) => {
        val tick = concat(lit(" $TK"), char(col("doc_id") % 26 + 65))
        val noisy = concat(
          col("text"), tick,
          when(col("doc_id") % 7 === 0, tick).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit(" $GDP")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" $YOLO")).otherwise(lit("")),
          lit(" $abc"))
        Tables(s, dir).documents
          .select(col("doc_id"), explode(extractTickers(noisy)).as("ticker"))
      },
      Some(s"""
        WITH noisy AS (
          SELECT doc_id,
            text || ' $$TK' || CHR(CAST(65 + doc_id % 26 AS INTEGER))
              || CASE WHEN doc_id % 7 = 0 THEN ' $$TK' || CHR(CAST(65 + doc_id % 26 AS INTEGER)) ELSE '' END
              || CASE WHEN doc_id % 4 = 0 THEN ' $$GDP' ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN ' $$YOLO' ELSE '' END
              || ' $$abc' AS t
          FROM documents
        ),
        extracted AS (
          SELECT doc_id, UNNEST(regexp_extract_all(t, '\\$$([A-Z]{1,5})\\b', 1)) AS ticker
          FROM noisy
        )
        SELECT DISTINCT doc_id, ticker FROM extracted
        WHERE ticker NOT IN (${TickerBlocklist.map(t => s"'$t'").mkString(", ")})
      """)
    ),
    // stg_reddit_comments.sql: cleaning + engagement/time features over
    // the raw comments fetch.
    QueryDef(
      "q_stg_reddit_comments",
      (s, dir) => {
        val e = Tables(s, dir).events
        val raw = e.select(
          col("event_id").as("comment_id"),
          (col("event_id") % 2000).as("post_id"),
          when(col("user_id") % 29 === 0, "[deleted]")
            .otherwise(concat(lit("user_"), col("user_id"))).as("author"),
          when(col("event_id") % 43 === 0, lit(null).cast("string"))
            .when(col("event_id") % 37 === 0, lit(""))
            .otherwise(col("props")).as("body"),
          ((col("event_id") % 120) - 10).as("score"),
          col("ts").as("created_utc"),
          when(col("event_id") % 3 === 0,
            concat(lit("t3_"), col("event_id") % 2000))
            .otherwise(concat(lit("t1_"), col("event_id") % 5000)).as("parent_id"),
          (col("event_id") % 6).as("depth"),
          linksCol.as("links"),
          subMixed.as("subreddit_raw"),
          to_date(col("ts")).as("partition_date"),
          lit("2026-01-01T00:00:00").as("fetched_at"))
        raw
          .filter(col("body").isNotNull && length(col("body")) > 0 &&
            col("author") =!= "[deleted]")
          .select(
            col("comment_id"), col("post_id"), col("author"), col("body"), col("score"),
            col("created_utc"), col("parent_id"), col("depth"), col("links"),
            lower(col("subreddit_raw")).as("subreddit"),
            col("partition_date"), col("fetched_at"),
            length(col("body")).cast("long").as("body_length"),
            coalesce(col("links") =!= "" && col("links").isNotNull, lit(false)).as("has_links"),
            coalesce(col("author") === "[deleted]", lit(false)).as("is_deleted"),
            coalesce(col("parent_id").startsWith("t3_"), lit(false)).as("is_top_level"),
            when(col("score") >= 50, "high")
              .when(col("score") >= 10, "medium")
              .when(col("score") >= 1, "low")
              .otherwise("negative").as("score_tier"),
            dayofweek(col("created_utc")).cast("long").as("day_of_week"),
            hour(col("created_utc")).cast("long").as("hour_of_day"))
      },
      Some(s"""
        WITH raw AS (
          SELECT event_id AS comment_id,
            event_id % 2000 AS post_id,
            CASE WHEN user_id % 29 = 0 THEN '[deleted]'
                 ELSE 'user_' || CAST(user_id AS VARCHAR) END AS author,
            CASE WHEN event_id % 43 = 0 THEN NULL
                 WHEN event_id % 37 = 0 THEN ''
                 ELSE props END AS body,
            (event_id % 120) - 10 AS score,
            ts AS created_utc,
            CASE WHEN event_id % 3 = 0 THEN 't3_' || CAST(event_id % 2000 AS VARCHAR)
                 ELSE 't1_' || CAST(event_id % 5000 AS VARCHAR) END AS parent_id,
            event_id % 6 AS depth,
            $linksSql AS links,
            $subMixedSql AS subreddit_raw,
            CAST(ts AS DATE) AS partition_date,
            '2026-01-01T00:00:00' AS fetched_at
          FROM events
        )
        SELECT comment_id, post_id, author, body, score, created_utc, parent_id, depth,
          links, LOWER(subreddit_raw) AS subreddit, partition_date, fetched_at,
          CAST(LENGTH(body) AS BIGINT) AS body_length,
          COALESCE(links != '' AND links IS NOT NULL, FALSE) AS has_links,
          COALESCE(author = '[deleted]', FALSE) AS is_deleted,
          COALESCE(STARTS_WITH(parent_id, 't3_'), FALSE) AS is_top_level,
          CASE WHEN score >= 50 THEN 'high'
               WHEN score >= 10 THEN 'medium'
               WHEN score >= 1 THEN 'low'
               ELSE 'negative' END AS score_tier,
          CAST(EXTRACT(DOW FROM created_utc) + 1 AS BIGINT) AS day_of_week,
          CAST(EXTRACT(HOUR FROM created_utc) AS BIGINT) AS hour_of_day
        FROM raw
        WHERE body IS NOT NULL AND LENGTH(body) > 0 AND author != '[deleted]'
      """)
    ),

    // stg_reddit_post_content.sql: full-text fetch enriched from
    // stg_reddit_posts (engagement_score, num_comments, is_deleted).
    QueryDef(
      "q_stg_reddit_post_content",
      (s, dir) => {
        val e = Tables(s, dir).events
        val raw = e.select(
          col("event_id").as("post_id"),
          col("props").as("title"),
          when(col("event_id") % 13 === 0, lit(null).cast("string"))
            .when(col("event_id") % 5 === 0, lit(""))
            .otherwise(concat(col("props"), lit(" body"))).as("selftext"),
          linksCol.as("links"),
          when(col("user_id") % 29 === 0, "[deleted]")
            .otherwise(concat(lit("user_"), col("user_id"))).as("author"),
          floor(col("value")).as("score"),
          when(col("event_id") % 3 === 0,
            concat(lit("https://reddit.com/r/"), subMixed, lit("/post")))
            .otherwise(lit("https://example.com/article")).as("url"),
          col("ts").as("created_utc"),
          subMixed.as("subreddit_raw"),
          to_date(col("ts")).cast("string").as("partition_date"),
          lit("2026-01-01T00:00:00").as("fetched_at"))
        val posts = MiscModelQueries.redditPosts(s, dir)
          .select(col("post_id").as("p_post_id"), col("engagement_score"),
            col("num_comments"), col("is_deleted"))
        raw
          .filter(!lower(col("subreddit_raw")).startsWith("u_"))
          .join(posts, col("post_id") === col("p_post_id"), "left")
          .select(
            col("post_id"), col("title"), col("selftext"), col("links"), col("author"),
            col("score"), col("url"), col("created_utc"),
            lower(col("subreddit_raw")).as("subreddit"),
            col("partition_date"), col("fetched_at"),
            length(col("selftext")).cast("long").as("selftext_length"),
            coalesce(length(col("selftext")) > 0, lit(false)).as("has_selftext"),
            coalesce(col("links") =!= "" && col("links").isNotNull, lit(false)).as("has_links"),
            when(col("links") === "" || col("links").isNull, 0L)
              .otherwise((length(col("links")) - length(regexp_replace(col("links"), ",", "")) + 1)
                .cast("long")).as("link_count"),
            col("engagement_score"), col("num_comments"),
            // nullable BOOLEAN breaks the driver's hash normalization
            // (None vs nan) — ship the join-nullable flag as INT on
            // both sides ([[oracle-parity-rules]] convention)
            col("is_deleted").cast("int").as("is_deleted"))
      },
      Some(s"""
        WITH raw AS (
          SELECT event_id AS post_id, props AS title,
            CASE WHEN event_id % 13 = 0 THEN NULL
                 WHEN event_id % 5 = 0 THEN ''
                 ELSE props || ' body' END AS selftext,
            $linksSql AS links,
            CASE WHEN user_id % 29 = 0 THEN '[deleted]'
                 ELSE 'user_' || CAST(user_id AS VARCHAR) END AS author,
            CAST(FLOOR(value) AS BIGINT) AS score,
            CASE WHEN event_id % 3 = 0
              THEN 'https://reddit.com/r/' || $subMixedSql || '/post'
              ELSE 'https://example.com/article' END AS url,
            ts AS created_utc,
            $subMixedSql AS subreddit_raw,
            CAST(CAST(ts AS DATE) AS VARCHAR) AS partition_date,
            '2026-01-01T00:00:00' AS fetched_at
          FROM events
        ),
        posts AS (
          SELECT post_id AS p_post_id, engagement_score, num_comments, is_deleted
          FROM (${MiscModelQueries.redditPostsSql})
        )
        SELECT r.post_id, r.title, r.selftext, r.links, r.author, r.score, r.url,
          r.created_utc, LOWER(r.subreddit_raw) AS subreddit, r.partition_date, r.fetched_at,
          CAST(LENGTH(r.selftext) AS BIGINT) AS selftext_length,
          COALESCE(LENGTH(r.selftext) > 0, FALSE) AS has_selftext,
          COALESCE(r.links != '' AND r.links IS NOT NULL, FALSE) AS has_links,
          CASE WHEN r.links = '' OR r.links IS NULL THEN 0
               ELSE CAST(LENGTH(r.links) - LENGTH(REPLACE(r.links, ',', '')) + 1 AS BIGINT)
          END AS link_count,
          p.engagement_score, p.num_comments, CAST(p.is_deleted AS INT) AS is_deleted
        FROM raw r
        LEFT JOIN posts p ON r.post_id = p.p_post_id
        WHERE NOT STARTS_WITH(LOWER(r.subreddit_raw), 'u_')
      """)
    ),

    // stg_reddit_ticker_mentions.sql: extracted mentions validated
    // against the active S&P constituents dimension.
    QueryDef(
      "q_stg_reddit_ticker_mentions",
      (s, dir) => {
        val e = Tables(s, dir).events
        val mentions = e.select(
          when(col("user_id") % 53 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("T"), col("user_id") % 40)).as("ticker"),
          when(col("event_id") % 59 === 0, lit(null).cast("long"))
            .otherwise(col("event_id")).as("content_id"),
          when(col("event_id") % 2 === 0, "post").otherwise("comment").as("content_type"),
          subMixed.as("subreddit_raw"),
          to_date(col("ts")).as("partition_date"),
          col("props").as("context_text"),
          lit("2026-01-01T00:00:00").as("extracted_at"))
        val sp500 = Tables(s, dir).part
          .select((col("p_partkey") % 40).as("n")).distinct()
          .filter(col("n") % 3 =!= 0)
          .select(
            concat(lit("T"), col("n")).as("c_symbol"),
            concat(lit("Company "), col("n")).as("company_name"),
            concat(lit("Sector "), col("n") % 5).as("sector"),
            concat(lit("Ind "), col("n") % 11).as("sub_industry"))
        mentions
          .filter(col("ticker").isNotNull && col("content_id").isNotNull)
          .join(broadcast(sp500), col("ticker") === col("c_symbol"), "left")
          .select(
            col("ticker"), col("content_id"), col("content_type"),
            lower(col("subreddit_raw")).as("subreddit"),
            col("partition_date"), col("context_text"), col("extracted_at"),
            col("company_name"), col("sector"), col("sub_industry"),
            when(col("c_symbol").isNotNull, lit(true)).otherwise(lit(false)).as("is_sp500"))
      },
      Some(s"""
        WITH mentions AS (
          SELECT
            CASE WHEN user_id % 53 = 0 THEN NULL
                 ELSE 'T' || CAST(user_id % 40 AS VARCHAR) END AS ticker,
            CASE WHEN event_id % 59 = 0 THEN NULL ELSE event_id END AS content_id,
            CASE WHEN event_id % 2 = 0 THEN 'post' ELSE 'comment' END AS content_type,
            $subMixedSql AS subreddit_raw,
            CAST(ts AS DATE) AS partition_date,
            props AS context_text,
            '2026-01-01T00:00:00' AS extracted_at
          FROM events
        ),
        sp500 AS (
          SELECT 'T' || CAST(n AS VARCHAR) AS c_symbol,
            'Company ' || CAST(n AS VARCHAR) AS company_name,
            'Sector ' || CAST(n % 5 AS VARCHAR) AS sector,
            'Ind ' || CAST(n % 11 AS VARCHAR) AS sub_industry
          FROM (SELECT DISTINCT p_partkey % 40 AS n FROM part) WHERE n % 3 != 0
        )
        SELECT m.ticker, m.content_id, m.content_type,
          LOWER(m.subreddit_raw) AS subreddit,
          m.partition_date, m.context_text, m.extracted_at,
          s.company_name, s.sector, s.sub_industry,
          CASE WHEN s.c_symbol IS NOT NULL THEN TRUE ELSE FALSE END AS is_sp500
        FROM mentions m
        LEFT JOIN sp500 s ON m.ticker = s.c_symbol
        WHERE m.ticker IS NOT NULL AND m.content_id IS NOT NULL
      """)
    ),

    // stg_reddit_sentiment.sql: the full scored-sentiment staging
    // schema (the sentiment-trends model consumes a projection of it).
    QueryDef(
      "q_stg_reddit_sentiment",
      (s, dir) => {
        val e = Tables(s, dir).events
        val compound = ((col("event_id") % 201) - 100).cast("double") / 100.0
        e.select(
            when(col("event_id") % 59 === 0, lit(null).cast("long"))
              .otherwise(col("event_id")).as("content_id"),
            when(col("event_id") % 61 === 0, lit(null).cast("string"))
              .when(col("event_id") % 3 === 0, "post_title")
              .when(col("event_id") % 3 === 1, "post_body")
              .otherwise("comment").as("content_type"),
            subMixed.as("subreddit_raw"),
            to_date(col("ts")).cast("string").as("partition_date"),
            substring(col("props"), 1, 40).as("text_preview"),
            compound.as("compound"),
            greatest(compound, lit(0.0)).as("positive"),
            greatest(-compound, lit(0.0)).as("negative"),
            (lit(1.0) - abs(compound)).as("neutral"),
            when(compound >= 0.05, "positive")
              .when(compound <= -0.05, "negative")
              .otherwise("neutral").as("label"),
            lit("2026-01-01T00:00:00").as("scored_at"))
          .filter(col("content_id").isNotNull && col("content_type").isNotNull)
          .select(
            col("content_id"), col("content_type"),
            lower(col("subreddit_raw")).as("subreddit"),
            col("partition_date"), col("text_preview"),
            col("compound").as("compound_score"),
            col("positive").as("positive_score"),
            col("negative").as("negative_score"),
            col("neutral").as("neutral_score"),
            col("label").as("sentiment_label"),
            col("scored_at"),
            when(col("compound") >= 0.5, "very_positive")
              .when(col("compound") >= 0.05, "positive")
              .when(col("compound") <= -0.5, "very_negative")
              .when(col("compound") <= -0.05, "negative")
              .otherwise("neutral").as("sentiment_strength"),
            abs(col("compound")).as("sentiment_intensity"))
      },
      Some(s"""
        WITH src AS (
          SELECT
            CASE WHEN event_id % 59 = 0 THEN NULL ELSE event_id END AS content_id,
            CASE WHEN event_id % 61 = 0 THEN NULL
                 WHEN event_id % 3 = 0 THEN 'post_title'
                 WHEN event_id % 3 = 1 THEN 'post_body'
                 ELSE 'comment' END AS content_type,
            $subMixedSql AS subreddit_raw,
            CAST(CAST(ts AS DATE) AS VARCHAR) AS partition_date,
            SUBSTR(props, 1, 40) AS text_preview,
            CAST((event_id % 201) - 100 AS DOUBLE) / 100.0 AS compound,
            '2026-01-01T00:00:00' AS scored_at
          FROM events
        )
        SELECT content_id, content_type, LOWER(subreddit_raw) AS subreddit,
          partition_date, text_preview,
          compound AS compound_score,
          GREATEST(compound, 0.0) AS positive_score,
          GREATEST(-compound, 0.0) AS negative_score,
          1.0 - ABS(compound) AS neutral_score,
          CASE WHEN compound >= 0.05 THEN 'positive'
               WHEN compound <= -0.05 THEN 'negative'
               ELSE 'neutral' END AS sentiment_label,
          scored_at,
          CASE WHEN compound >= 0.5 THEN 'very_positive'
               WHEN compound >= 0.05 THEN 'positive'
               WHEN compound <= -0.5 THEN 'very_negative'
               WHEN compound <= -0.05 THEN 'negative'
               ELSE 'neutral' END AS sentiment_strength,
          ABS(compound) AS sentiment_intensity
        FROM src
        WHERE content_id IS NOT NULL AND content_type IS NOT NULL
      """)
    )
  )
}
