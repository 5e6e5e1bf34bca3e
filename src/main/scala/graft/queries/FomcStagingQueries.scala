package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.epochDay
import graft.runtime.Tables

/** The FOMC / transcript / calendar staging family 1:1 (refs
  * dbt_project/models/staging/stg_fomc_transcripts.sql,
  * stg_fomc_minutes.sql, stg_fomc_meeting_summaries.sql,
  * stg_fomc_meetings_enhanced.sql, stg_fomc_sentiment_scores.sql,
  * stg_transcript_sections.sql, stg_transcript_topics.sql,
  * stg_economic_calendar.sql).
  *
  * One synthetic meeting per month (15th of each order month) seeds
  * every model; derived attributes come from the meeting's epoch-day
  * so both engines compute identical fixtures. CURRENT_DATE /
  * CURRENT_TIMESTAMP anchors map to the max meeting date; the
  * reference's array columns (key_decisions, mentioned_by, …) ship as
  * comma-joined strings with their array_length counterparts as
  * explicit counts (the driver gate hashes scalars).
  * farm_fingerprint surrogate ids map to md5 hex (same content-hash
  * contract, engine-portable).
  *
  * Scale: a months-cardinality dimension; sections/topics explode
  * bounded per-meeting sequences — rows stay proportional to the
  * calendar, not the fact table.
  */
object FomcStagingQueries {

  /** One meeting per order month: meeting_date = month start + 14d. */
  private def meetings(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("m"))
      .agg(count(lit(1)).as("n_orders"))
      .select(date_add(col("m"), 14).as("meeting_date"), col("n_orders"))
      .withColumn("ed", epochDay(col("meeting_date")).cast("long"))
      .withColumn("transcript_id", concat(lit("tr_"), col("meeting_date").cast("string")))

  private val meetingsSql = """
    meetings AS (
      SELECT meeting_date, n_orders,
        CAST(meeting_date - DATE '1970-01-01' AS BIGINT) AS ed,
        'tr_' || CAST(meeting_date AS VARCHAR) AS transcript_id
      FROM (
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) + 14 AS meeting_date,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
      )
    ),
    anchor AS (SELECT MAX(meeting_date) AS today FROM meetings)"""

  private def anchored(s: SparkSession, dir: String): DataFrame =
    meetings(s, dir).crossJoin(
      broadcast(meetings(s, dir).agg(max(col("meeting_date")).as("today"))))

  // ---- Fed sentiment lexicon fixture + scoring (FedLexicon) --------
  //
  // The transcript corpus itself is out of reach (no Fed scrapes in
  // this environment), so each (meeting, section) gets a DETERMINISTIC
  // synthetic paragraph whose phrase slots are chosen arithmetically
  // from the lexicon — but the SCORING over that text is the real
  // thing: word-boundary regex counts × reference weights, identical
  // on the Spark and DuckDB sides. Swap the fixture text column for
  // real transcript sections and the scorer is unchanged.
  import graft.operators.FedLexicon
  import graft.operators.FedLexicon.{hawkish => lexH, dovish => lexD, trackedExtra => lexT}

  /** Count-column name per phrase (shared by both engines). */
  private val lexCol: Map[String, String] =
    (lexH.zipWithIndex.map { case (t, i) => t.phrase -> s"ch$i" } ++
      lexD.zipWithIndex.map { case (t, i) => t.phrase -> s"cd$i" } ++
      lexT.zipWithIndex.map { case (p, i) => p -> s"ct$i" }).toMap

  private val lexTailHawk =
    "Policy remains restrictive and members stay vigilant about elevated inflation."
  private val lexTailDove =
    "A patient and gradual approach with well anchored expectations was deemed appropriate."

  /** Spark-side fixture text for one (ed, spk) row — mirrored by
    * [[lexTxtSql]] character-for-character. */
  private def lexTxt: Column = {
    val hArr = array(lexH.map(t => lit(t.phrase)): _*)
    val dArr = array(lexD.map(t => lit(t.phrase)): _*)
    def hPick(e: Column) = element_at(hArr, (pmod(e, lit(lexH.size)) + 1).cast("int"))
    def dPick(e: Column) = element_at(dArr, (pmod(e, lit(lexD.size)) + 1).cast("int"))
    lower(concat(
      lit("The Committee noted "), hPick(col("ed") + col("spk")),
      lit(" and "), hPick(col("ed") * 3 + col("spk") * 5),
      lit(" in recent months. Several participants emphasized "),
      dPick(col("ed") + col("spk") * 2),
      lit(", while others saw "), dPick(col("ed") * 7 + col("spk")),
      lit(". "),
      when((col("ed") + col("spk")) % 3 === 0, lexTailHawk).otherwise(lexTailDove)))
  }

  private def oList(phrases: Seq[String]): String =
    phrases.map(p => s"'$p'").mkString("[", ", ", "]")

  /** DuckDB mirror of [[lexTxt]]. */
  private val lexTxtSql: String = {
    def hPick(e: String) = s"list_extract(${oList(lexH.map(_.phrase))}, 1 + ($e) % ${lexH.size})"
    def dPick(e: String) = s"list_extract(${oList(lexD.map(_.phrase))}, 1 + ($e) % ${lexD.size})"
    s"""LOWER('The Committee noted ' || ${hPick("ed + spk")}
       || ' and ' || ${hPick("ed * 3 + spk * 5")}
       || ' in recent months. Several participants emphasized '
       || ${dPick("ed + spk * 2")}
       || ', while others saw ' || ${dPick("ed * 7 + spk")}
       || '. ' || CASE WHEN (ed + spk) % 3 = 0 THEN '$lexTailHawk'
                  ELSE '$lexTailDove' END)"""
  }

  /** All phrase-count columns over a lowercased `txt` column. */
  private def lexCounts: Seq[Column] =
    (lexH.map(_.phrase) ++ lexD.map(_.phrase) ++ lexT).map(p =>
      FedLexicon.phraseCount(col("txt"), p).as(lexCol(p)))

  private val lexCountsSql: String =
    (lexH.map(_.phrase) ++ lexD.map(_.phrase) ++ lexT)
      .map(p => s"${FedLexicon.oPhraseCount("txt", p)} AS ${lexCol(p)}")
      .mkString(",\n            ")

  /** keyword_counts digest: `phrase:count` for matched phrases in the
    * reference's dict-insertion order (hawkish defs, dovish defs, then
    * tracked extras — lexicon.py:131-150). */
  private def lexKwCounts: Column = concat_ws(",",
    (lexH.map(_.phrase) ++ lexD.map(_.phrase) ++ lexT).map(p =>
      when(col(lexCol(p)) > 0, concat(lit(p + ":"), col(lexCol(p))))): _*)

  private val lexKwCountsSql: String = "CONCAT_WS(','," +
    (lexH.map(_.phrase) ++ lexD.map(_.phrase) ++ lexT)
      .map(p => s"CASE WHEN ${lexCol(p)} > 0 THEN '$p:' || CAST(${lexCol(p)} AS VARCHAR) END")
      .mkString(", ") + ")"

  /** key_phrases digest: matched dictionary phrases, weight-desc
    * (stable on hawkish-then-dovish order — lexicon.py:177-182). */
  private def lexKeyPhrases: Column = concat_ws("|",
    FedLexicon.byWeightDesc.map(t => when(col(lexCol(t.phrase)) > 0, lit(t.phrase))): _*)

  private val lexKeyPhrasesSql: String = "CONCAT_WS('|'," +
    FedLexicon.byWeightDesc
      .map(t => s"CASE WHEN ${lexCol(t.phrase)} > 0 THEN '${t.phrase}' END")
      .mkString(", ") + ")"

  private def lexWeighted(terms: Seq[FedLexicon.Term]): Column =
    terms.map(t => col(lexCol(t.phrase)) * t.w10).reduce(_ + _).cast("long")
  private def lexHits(terms: Seq[FedLexicon.Term]): Column =
    terms.map(t => col(lexCol(t.phrase))).reduce(_ + _).cast("long")
  private def lexWeightedSql(terms: Seq[FedLexicon.Term]): String =
    terms.map(t => s"${lexCol(t.phrase)} * ${t.w10}").mkString(" + ")
  private def lexHitsSql(terms: Seq[FedLexicon.Term]): String =
    terms.map(t => lexCol(t.phrase)).mkString(" + ")

  val defs: Seq[QueryDef] = Seq(
    // stg_fomc_transcripts.sql
    QueryDef(
      "q_stg_fomc_transcripts",
      (s, dir) => anchored(s, dir).select(
        col("transcript_id"), col("meeting_date"),
        concat(lit("FOMC transcript for "), col("meeting_date").cast("string")).as("full_text"),
        (col("ed") % 9000 + 1000).as("word_count"),
        (col("ed") % 90 + 10).as("page_count"),
        concat(lit("https://fed.example/transcripts/"), col("transcript_id")).as("source_url"),
        concat(lit("/pdfs/"), col("transcript_id"), lit(".pdf")).as("source_pdf_path"),
        date_add(col("meeting_date"), 21).as("processed_date"),
        lit("2026-01-01T00:00:00").as("created_at"),
        year(col("meeting_date")).cast("long").as("year"),
        quarter(col("meeting_date")).cast("long").as("quarter"),
        month(col("meeting_date")).cast("long").as("month"),
        (year(col("today")) - year(col("meeting_date"))).cast("long").as("years_since_meeting")),
      Some(s"""
        WITH $meetingsSql
        SELECT transcript_id, meeting_date,
          'FOMC transcript for ' || CAST(meeting_date AS VARCHAR) AS full_text,
          ed % 9000 + 1000 AS word_count,
          ed % 90 + 10 AS page_count,
          'https://fed.example/transcripts/' || transcript_id AS source_url,
          '/pdfs/' || transcript_id || '.pdf' AS source_pdf_path,
          meeting_date + 21 AS processed_date,
          '2026-01-01T00:00:00' AS created_at,
          CAST(EXTRACT(YEAR FROM meeting_date) AS BIGINT) AS year,
          CAST(EXTRACT(QUARTER FROM meeting_date) AS BIGINT) AS quarter,
          CAST(EXTRACT(MONTH FROM meeting_date) AS BIGINT) AS month,
          CAST(EXTRACT(YEAR FROM today) - EXTRACT(YEAR FROM meeting_date) AS BIGINT)
            AS years_since_meeting
        FROM meetings, anchor
        WHERE meeting_date IS NOT NULL
      """)
    ),
    // stg_fomc_minutes.sql (year cutoff mapped into the synthetic range)
    QueryDef(
      "q_stg_fomc_minutes",
      (s, dir) => anchored(s, dir)
        .filter(year(col("meeting_date")) >= 1994)
        .select(
          col("meeting_date"),
          year(col("meeting_date")).cast("long").as("year"),
          concat(lit("Minutes of the FOMC, "), col("meeting_date").cast("string")).as("title"),
          concat(lit("fomc/minutes/"), col("transcript_id")).as("gcs_path"),
          concat(lit("gs://bucket/fomc/minutes/"), col("transcript_id")).as("gcs_uri"),
          concat(lit("https://fed.example/minutes/"), col("transcript_id")).as("source_url"),
          lit("2026-01-01T00:00:00").as("fetched_at"),
          (col("ed") % 12 + 3).as("num_sections"),
          (col("ed") % 40000 + 5000).as("content_length"),
          quarter(col("meeting_date")).cast("long").as("quarter"),
          month(col("meeting_date")).cast("long").as("month")),
      Some(s"""
        WITH $meetingsSql
        SELECT meeting_date,
          CAST(EXTRACT(YEAR FROM meeting_date) AS BIGINT) AS year,
          'Minutes of the FOMC, ' || CAST(meeting_date AS VARCHAR) AS title,
          'fomc/minutes/' || transcript_id AS gcs_path,
          'gs://bucket/fomc/minutes/' || transcript_id AS gcs_uri,
          'https://fed.example/minutes/' || transcript_id AS source_url,
          '2026-01-01T00:00:00' AS fetched_at,
          ed % 12 + 3 AS num_sections,
          ed % 40000 + 5000 AS content_length,
          CAST(EXTRACT(QUARTER FROM meeting_date) AS BIGINT) AS quarter,
          CAST(EXTRACT(MONTH FROM meeting_date) AS BIGINT) AS month
        FROM meetings
        WHERE EXTRACT(YEAR FROM meeting_date) >= 1994
      """)
    ),
    // stg_fomc_meeting_summaries.sql (array cols as joined strings +
    // explicit counts)
    QueryDef(
      "q_stg_fomc_meeting_summaries",
      (s, dir) => {
        val kd = col("ed") % 4
        val dv = col("ed") % 3
        val nq = col("ed") % 5
        anchored(s, dir).select(
          concat(lit("sum_"), col("meeting_date").cast("string")).as("summary_id"),
          col("meeting_date"),
          when(col("ed") % 2 === 0, "full").otherwise("brief").as("summary_type"),
          concat(lit("Summary of FOMC meeting "), col("meeting_date").cast("string")).as("summary_text"),
          when(kd > 0, concat_ws(",", transform(sequence(lit(1L), kd), i => concat(lit("decision_"), i))))
            .as("key_decisions"),
          when(dv > 0, concat_ws(",", transform(sequence(lit(1L), dv), i => concat(lit("dissent_"), i))))
            .as("dissenting_views"),
          concat(lit("Outlook for "), col("meeting_date").cast("string")).as("economic_outlook_summary"),
          concat(lit("Rationale "), col("ed") % 7).as("policy_rationale"),
          when(nq > 0, concat_ws(",", transform(sequence(lit(1L), nq), i => concat(lit("quote_"), i))))
            .as("notable_quotes"),
          lit("model-x").as("generated_by"),
          date_add(col("meeting_date"), 30).as("generation_date"),
          lit("2026-01-01T00:00:00").as("created_at"),
          year(col("meeting_date")).cast("long").as("year"),
          quarter(col("meeting_date")).cast("long").as("quarter"),
          when(kd > 0, kd).cast("long").as("num_key_decisions"),
          when(dv > 0, dv).cast("long").as("num_dissenting_views"),
          when(nq > 0, nq).cast("long").as("num_notable_quotes"),
          length(concat(lit("Summary of FOMC meeting "), col("meeting_date").cast("string")))
            .cast("long").as("summary_length"))
      },
      Some(s"""
        WITH $meetingsSql
        SELECT 'sum_' || CAST(meeting_date AS VARCHAR) AS summary_id,
          meeting_date,
          CASE WHEN ed % 2 = 0 THEN 'full' ELSE 'brief' END AS summary_type,
          'Summary of FOMC meeting ' || CAST(meeting_date AS VARCHAR) AS summary_text,
          CASE WHEN ed % 4 > 0 THEN ARRAY_TO_STRING(
            LIST_TRANSFORM(RANGE(1, CAST(ed % 4 AS INT) + 1), i -> 'decision_' || CAST(i AS VARCHAR)), ',') END
            AS key_decisions,
          CASE WHEN ed % 3 > 0 THEN ARRAY_TO_STRING(
            LIST_TRANSFORM(RANGE(1, CAST(ed % 3 AS INT) + 1), i -> 'dissent_' || CAST(i AS VARCHAR)), ',') END
            AS dissenting_views,
          'Outlook for ' || CAST(meeting_date AS VARCHAR) AS economic_outlook_summary,
          'Rationale ' || CAST(ed % 7 AS VARCHAR) AS policy_rationale,
          CASE WHEN ed % 5 > 0 THEN ARRAY_TO_STRING(
            LIST_TRANSFORM(RANGE(1, CAST(ed % 5 AS INT) + 1), i -> 'quote_' || CAST(i AS VARCHAR)), ',') END
            AS notable_quotes,
          'model-x' AS generated_by,
          meeting_date + 30 AS generation_date,
          '2026-01-01T00:00:00' AS created_at,
          CAST(EXTRACT(YEAR FROM meeting_date) AS BIGINT) AS year,
          CAST(EXTRACT(QUARTER FROM meeting_date) AS BIGINT) AS quarter,
          CASE WHEN ed % 4 > 0 THEN ed % 4 END AS num_key_decisions,
          CASE WHEN ed % 3 > 0 THEN ed % 3 END AS num_dissenting_views,
          CASE WHEN ed % 5 > 0 THEN ed % 5 END AS num_notable_quotes,
          CAST(LENGTH('Summary of FOMC meeting ' || CAST(meeting_date AS VARCHAR)) AS BIGINT)
            AS summary_length
        FROM meetings
        WHERE meeting_date IS NOT NULL
      """)
    ),
    // stg_fomc_meetings_enhanced.sql
    QueryDef(
      "q_stg_fomc_meetings_enhanced",
      (s, dir) => {
        val bps   = ((col("ed") % 5) - 2) * 25
        val lower = (lit(8) + col("ed") % 12) * 0.25
        anchored(s, dir).select(
          col("meeting_date"),
          when(bps > 0, "hike").when(bps < 0, "cut").otherwise("hold").as("action"),
          bps.cast("long").as("rate_change_bps"),
          lower.as("target_rate_lower"),
          (lower + 0.25).as("target_rate_upper"),
          (col("ed") % 4 === 0).as("forecast_update"),
          concat(lit("https://fed.example/statements/"), col("meeting_date").cast("string")).as("statement_url"),
          (col("ed") % 3 =!= 0).as("transcript_available"),
          date_add(col("meeting_date"), 1855).as("transcript_release_date"),
          (col("ed") % 2 === 0).as("summary_available"),
          when(col("ed") % 8 === 0, "unscheduled").otherwise("scheduled").as("meeting_type"),
          lit("2026-01-01T00:00:00").as("created_at"),
          year(col("meeting_date")).cast("long").as("year"),
          quarter(col("meeting_date")).cast("long").as("quarter"),
          month(col("meeting_date")).cast("long").as("month"),
          ((lower + (lower + 0.25)) / 2.0).as("target_rate_midpoint"),
          (bps / 100.0).as("rate_change_pct"),
          coalesce(col("meeting_date") > col("today"), lit(false)).as("is_upcoming"),
          datediff(col("meeting_date"), col("today")).cast("long").as("days_until_meeting"))
      },
      Some(s"""
        WITH $meetingsSql
        SELECT meeting_date,
          CASE WHEN ((ed % 5) - 2) * 25 > 0 THEN 'hike'
               WHEN ((ed % 5) - 2) * 25 < 0 THEN 'cut' ELSE 'hold' END AS action,
          ((ed % 5) - 2) * 25 AS rate_change_bps,
          (8 + ed % 12) * 0.25 AS target_rate_lower,
          (8 + ed % 12) * 0.25 + 0.25 AS target_rate_upper,
          ed % 4 = 0 AS forecast_update,
          'https://fed.example/statements/' || CAST(meeting_date AS VARCHAR) AS statement_url,
          ed % 3 != 0 AS transcript_available,
          meeting_date + 1855 AS transcript_release_date,
          ed % 2 = 0 AS summary_available,
          CASE WHEN ed % 8 = 0 THEN 'unscheduled' ELSE 'scheduled' END AS meeting_type,
          '2026-01-01T00:00:00' AS created_at,
          CAST(EXTRACT(YEAR FROM meeting_date) AS BIGINT) AS year,
          CAST(EXTRACT(QUARTER FROM meeting_date) AS BIGINT) AS quarter,
          CAST(EXTRACT(MONTH FROM meeting_date) AS BIGINT) AS month,
          ((8 + ed % 12) * 0.25 + (8 + ed % 12) * 0.25 + 0.25) / 2.0 AS target_rate_midpoint,
          ((ed % 5) - 2) * 25 / 100.0 AS rate_change_pct,
          COALESCE(meeting_date > today, FALSE) AS is_upcoming,
          CAST(meeting_date - today AS BIGINT) AS days_until_meeting
        FROM meetings, anchor
        WHERE meeting_date IS NOT NULL
      """)
    ),
    // stg_fomc_sentiment_scores.sql: per-meeting speaker/method score
    // rows (section_id NULL marks the meeting-level aggregate) with
    // the prev-meeting LAG delta
    QueryDef(
      "q_stg_fomc_sentiment_scores",
      (s, dir) => {
        val sections = meetings(s, dir)
          .withColumn("spk", explode(sequence(lit(0), lit(3))))
          .withColumn("speaker",
            when(col("spk") === 0, "MEETING").otherwise(concat(lit("Member "), col("spk"))))
          .withColumn("txt", lexTxt)
        val counted = sections.select(col("*") +: lexCounts: _*)
        val scored = counted
          .withColumn("h10", lexWeighted(lexH))
          .withColumn("d10", lexWeighted(lexD))
          .withColumn("h_hits", lexHits(lexH))
          .withColumn("d_hits", lexHits(lexD))
          // min(total/max_possible, 1) rounded to 3 — exact int ratio
          // (lexicon.py:160-161); clip BEFORE rounding on exact ints.
          .withColumn("hawkish_score",
            when(col("h10") >= FedLexicon.maxH10, 1.0)
              .otherwise(QueryDef.rdiv(col("h10"), lit(FedLexicon.maxH10), 3)))
          .withColumn("dovish_score",
            when(col("d10") >= FedLexicon.maxD10, 1.0)
              .otherwise(QueryDef.rdiv(col("d10"), lit(FedLexicon.maxD10), 3)))
          // (hawkish − dovish) / (hawkish + dovish), 0 when no hits
          // (lexicon.py:152-153) — the ×10 weight scaling cancels.
          .withColumn("net_sentiment_score",
            when(col("h10") + col("d10") === 0, 0.0)
              .otherwise(QueryDef.rdiv(col("h10") - col("d10"), col("h10") + col("d10"), 3)))
        val w = Window.partitionBy(col("speaker")).orderBy(col("meeting_date"))
        scored
          .withColumn("prev_meeting_score", lag(col("net_sentiment_score"), 1).over(w))
          .select(
            concat(lit("score_"), col("meeting_date").cast("string"), lit("_"), col("spk")).as("score_id"),
            col("transcript_id"),
            when(col("spk") =!= 0, concat(lit("sec_"), col("transcript_id"), lit("_"), col("spk")))
              .as("section_id"),
            col("meeting_date"), col("speaker"),
            // the reference's LLM scoring path is out of engine scope
            // (SURVEY §0); every row here is the keyword path, for real
            lit("keyword").as("scoring_method"),
            col("hawkish_score"), col("dovish_score"), col("net_sentiment_score"),
            when(col("h_hits") + col("d_hits") >= 10, 1.0)
              .otherwise((col("h_hits") + col("d_hits")).cast("double") / 10.0)
              .as("confidence"),
            lexKwCounts.as("keyword_counts"),
            col("h_hits").as("total_hawkish_keywords"),
            col("d_hits").as("total_dovish_keywords"),
            lexKeyPhrases.as("key_phrases"),
            col("prev_meeting_score"),
            (col("net_sentiment_score") - col("prev_meeting_score")).as("score_delta"),
            concat(lit("hawkish_hits="), col("h_hits"), lit("; dovish_hits="), col("d_hits"))
              .as("reasoning"),
            lit("lexicon-keyword-v1").as("model_name"),
            lit("2026-01-01T00:00:00").as("created_at"),
            year(col("meeting_date")).cast("long").as("year"),
            quarter(col("meeting_date")).cast("long").as("quarter"),
            when(col("net_sentiment_score") > 0.1, "hawkish")
              .when(col("net_sentiment_score") < -0.1, "dovish")
              .otherwise("neutral").as("sentiment_label"),
            // nullable BOOLEAN → INT for the gate (oracle-parity rule)
            when(col("spk") === 0, 1).otherwise(0).cast("long").as("is_meeting_aggregate"))
      },
      Some(s"""
        WITH $meetingsSql,
        sections AS (
          SELECT m.*, t.spk,
            CASE WHEN t.spk = 0 THEN 'MEETING' ELSE 'Member ' || CAST(t.spk AS VARCHAR) END AS speaker,
            $lexTxtSql AS txt
          FROM meetings m, (SELECT UNNEST(generate_series(0, 3)) AS spk) t
        ),
        counted AS (
          SELECT *,
            $lexCountsSql
          FROM sections
        ),
        scored AS (
          SELECT *,
            CAST(${lexWeightedSql(lexH)} AS BIGINT) AS h10,
            CAST(${lexWeightedSql(lexD)} AS BIGINT) AS d10,
            CAST(${lexHitsSql(lexH)} AS BIGINT) AS h_hits,
            CAST(${lexHitsSql(lexD)} AS BIGINT) AS d_hits
          FROM counted
        ),
        graded AS (
          SELECT *,
            CASE WHEN h10 >= ${FedLexicon.maxH10} THEN CAST(1.0 AS DOUBLE)
                 ELSE ${QueryDef.oDivRound("h10 * 1000000", FedLexicon.maxH10.toString, 3)} END AS hawkish_score,
            CASE WHEN d10 >= ${FedLexicon.maxD10} THEN CAST(1.0 AS DOUBLE)
                 ELSE ${QueryDef.oDivRound("d10 * 1000000", FedLexicon.maxD10.toString, 3)} END AS dovish_score,
            CASE WHEN h10 + d10 = 0 THEN CAST(0.0 AS DOUBLE)
                 ELSE ${QueryDef.oDivRound("(h10 - d10) * 1000000", "h10 + d10", 3)} END AS net_sentiment_score
          FROM scored
        )
        SELECT 'score_' || CAST(meeting_date AS VARCHAR) || '_' || CAST(spk AS VARCHAR) AS score_id,
          transcript_id,
          CASE WHEN spk != 0 THEN 'sec_' || transcript_id || '_' || CAST(spk AS VARCHAR) END AS section_id,
          meeting_date, speaker,
          'keyword' AS scoring_method,
          hawkish_score, dovish_score, net_sentiment_score,
          CASE WHEN h_hits + d_hits >= 10 THEN CAST(1.0 AS DOUBLE)
               ELSE CAST(h_hits + d_hits AS DOUBLE) / 10.0 END AS confidence,
          $lexKwCountsSql AS keyword_counts,
          h_hits AS total_hawkish_keywords,
          d_hits AS total_dovish_keywords,
          $lexKeyPhrasesSql AS key_phrases,
          LAG(net_sentiment_score, 1) OVER w AS prev_meeting_score,
          net_sentiment_score - LAG(net_sentiment_score, 1) OVER w AS score_delta,
          'hawkish_hits=' || CAST(h_hits AS VARCHAR) || '; dovish_hits=' || CAST(d_hits AS VARCHAR) AS reasoning,
          'lexicon-keyword-v1' AS model_name,
          '2026-01-01T00:00:00' AS created_at,
          CAST(EXTRACT(YEAR FROM meeting_date) AS BIGINT) AS year,
          CAST(EXTRACT(QUARTER FROM meeting_date) AS BIGINT) AS quarter,
          CASE WHEN net_sentiment_score > 0.1 THEN 'hawkish'
               WHEN net_sentiment_score < -0.1 THEN 'dovish'
               ELSE 'neutral' END AS sentiment_label,
          CAST(CASE WHEN spk = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_meeting_aggregate
        FROM graded
        WINDOW w AS (PARTITION BY speaker ORDER BY meeting_date)
      """)
    ),
    // stg_transcript_sections.sql: exploded per-meeting sections with
    // string-derived lengths/word counts
    QueryDef(
      "q_stg_transcript_sections",
      (s, dir) => {
        val m = meetings(s, dir)
        val content = concat(lit("Section content for "), col("transcript_id"),
          lit(" part "), col("i"), lit(" of the meeting discussion"))
        m.withColumn("i", explode(sequence(lit(1), (col("ed") % 8 + 2).cast("int"))))
          .select(
            concat(lit("sec_"), col("transcript_id"), lit("_"), col("i")).as("section_id"),
            col("transcript_id"),
            col("i").cast("long").as("section_order"),
            when(col("i") % 3 === 0, "discussion")
              .when(col("i") % 3 === 1, "statement")
              .otherwise("vote").as("section_type"),
            concat(lit("Member "), (col("i") + col("ed")) % 5).as("speaker"),
            when((col("i") + col("ed")) % 5 === 0, "chair").otherwise("member").as("speaker_role"),
            content.as("content"),
            (col("i") * 2).cast("long").as("start_page"),
            (col("i") * 2 + 1).cast("long").as("end_page"),
            lit("2026-01-01T00:00:00").as("created_at"),
            length(content).cast("long").as("content_length"),
            (length(content) - length(regexp_replace(content, " ", "")) + 1)
              .cast("long").as("word_count"))
      },
      Some(s"""
        WITH $meetingsSql,
        sections AS (
          SELECT m.*, t.i,
            'Section content for ' || m.transcript_id || ' part ' || CAST(t.i AS VARCHAR)
              || ' of the meeting discussion' AS content
          FROM meetings m, (SELECT UNNEST(generate_series(1, 9)) AS i) t
          WHERE t.i <= m.ed % 8 + 2
        )
        SELECT 'sec_' || transcript_id || '_' || CAST(i AS VARCHAR) AS section_id,
          transcript_id,
          CAST(i AS BIGINT) AS section_order,
          CASE WHEN i % 3 = 0 THEN 'discussion'
               WHEN i % 3 = 1 THEN 'statement'
               ELSE 'vote' END AS section_type,
          'Member ' || CAST((i + ed) % 5 AS VARCHAR) AS speaker,
          CASE WHEN (i + ed) % 5 = 0 THEN 'chair' ELSE 'member' END AS speaker_role,
          content,
          CAST(i * 2 AS BIGINT) AS start_page,
          CAST(i * 2 + 1 AS BIGINT) AS end_page,
          '2026-01-01T00:00:00' AS created_at,
          CAST(LENGTH(content) AS BIGINT) AS content_length,
          CAST(LENGTH(content) - LENGTH(REPLACE(content, ' ', '')) + 1 AS BIGINT) AS word_count
        FROM sections
        WHERE transcript_id IS NOT NULL
      """)
    ),
    // stg_transcript_topics.sql (mentioned_by array → joined string +
    // num_speakers count)
    QueryDef(
      "q_stg_transcript_topics",
      (s, dir) => {
        val m = meetings(s, dir)
        val k = (col("i") + col("ed")) % 3 + 1
        m.withColumn("i", explode(sequence(lit(1), (col("ed") % 5 + 1).cast("int"))))
          .select(
            concat(lit("topic_"), col("transcript_id"), lit("_"), col("i")).as("topic_id"),
            col("transcript_id"),
            concat(lit("sec_"), col("transcript_id"), lit("_"), col("i")).as("section_id"),
            when(col("i") % 4 === 0, "inflation")
              .when(col("i") % 4 === 1, "employment")
              .when(col("i") % 4 === 2, "financial_stability")
              .otherwise("growth").as("topic"),
            concat(lit("subtopic_"), (col("i") + col("ed")) % 7).as("subtopic"),
            (((col("ed") * col("i")) % 100) / 100.0).as("relevance_score"),
            concat_ws(",", transform(sequence(lit(1), k.cast("int")),
              j => concat(lit("Member "), j))).as("mentioned_by"),
            when(col("i") % 3 === 0, "positive")
              .when(col("i") % 3 === 1, "negative")
              .otherwise("neutral").as("sentiment"),
            lit("2026-01-01T00:00:00").as("created_at"),
            k.cast("long").as("num_speakers"))
      },
      Some(s"""
        WITH $meetingsSql,
        topics AS (
          SELECT m.*, t.i, (t.i + m.ed) % 3 + 1 AS k
          FROM meetings m, LATERAL (SELECT UNNEST(generate_series(1, CAST(m.ed % 5 + 1 AS INT))) AS i) t
        )
        SELECT 'topic_' || transcript_id || '_' || CAST(i AS VARCHAR) AS topic_id,
          transcript_id,
          'sec_' || transcript_id || '_' || CAST(i AS VARCHAR) AS section_id,
          CASE WHEN i % 4 = 0 THEN 'inflation'
               WHEN i % 4 = 1 THEN 'employment'
               WHEN i % 4 = 2 THEN 'financial_stability'
               ELSE 'growth' END AS topic,
          'subtopic_' || CAST((i + ed) % 7 AS VARCHAR) AS subtopic,
          CAST((ed * i) % 100 AS DOUBLE) / 100.0 AS relevance_score,
          ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(1, CAST(k AS INT) + 1), j -> 'Member ' || CAST(j AS VARCHAR)), ',')
            AS mentioned_by,
          CASE WHEN i % 3 = 0 THEN 'positive'
               WHEN i % 3 = 1 THEN 'negative'
               ELSE 'neutral' END AS sentiment,
          '2026-01-01T00:00:00' AS created_at,
          CAST(k AS BIGINT) AS num_speakers
        FROM topics
        WHERE transcript_id IS NOT NULL
      """)
    ),
    // stg_economic_calendar.sql: typed/cleaned calendar with the
    // md5 surrogate id (farm_fingerprint analog), impact ladder,
    // time-component extracts, QUALIFY latest-fetch dedup
    QueryDef(
      "q_stg_economic_calendar",
      (s, dir) => {
        val e = Tables(s, dir).events
        val impact = when(col("event_id") % 4 === 0, "High")
          .when(col("event_id") % 4 === 1, "Medium")
          .when(col("event_id") % 4 === 2, "Low")
          .otherwise("Holiday")
        val typed = e.select(
          when(col("event_id") % 17 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("ev_"), col("event_id"))).as("event_id_raw"),
          concat(lit("Release "), col("event_id") % 50).as("title"),
          when(col("user_id") % 3 === 0, "US").when(col("user_id") % 3 === 1, "EU")
            .otherwise("JP").as("country"),
          col("ts").as("event_timestamp"),
          impact.as("impact"),
          QueryDef.r4(col("value")).as("forecast"),
          QueryDef.r4(col("value") * 0.9).as("previous"),
          QueryDef.r4(col("value") * 1.05).as("actual"),
          when(col("event_id") % 5 === 0, "cpi").when(col("event_id") % 5 === 1, "gdp")
            .when(col("event_id") % 5 === 2, "employment").otherwise("rates").as("event_type"),
          lit("forexfactory").as("source"),
          concat(lit("2026-01-01T00:00:0"), col("event_id") % 10).as("fetched_at"))
          .filter(col("event_timestamp").isNotNull)
        val anchorD = e.agg(max(to_date(col("ts"))).as("today"))
        val cleaned = typed
          .crossJoin(broadcast(anchorD))
          .select(
            coalesce(col("event_id_raw"),
              md5(concat(
                coalesce(col("event_timestamp").cast("string"), lit("")), lit("|"),
                coalesce(col("title"), lit("")), lit("|"),
                coalesce(col("country"), lit(""))))).as("event_id"),
            col("title"), col("country"),
            to_date(col("event_timestamp")).as("event_date"),
            col("impact"),
            col("forecast"), col("forecast").as("forecast_numeric"),
            col("previous"), col("previous").as("previous_numeric"),
            col("actual"), col("event_type"), col("source"), col("fetched_at"),
            col("event_timestamp").as("event_datetime"),
            year(col("event_timestamp")).cast("long").as("year"),
            month(col("event_timestamp")).cast("long").as("month"),
            weekofyear(col("event_timestamp")).cast("long").as("week_of_year"),
            dayofweek(col("event_timestamp")).cast("long").as("day_of_week"),
            hour(col("event_timestamp")).cast("long").as("hour"),
            when(col("impact") === "High", 3).when(col("impact") === "Medium", 2)
              .when(col("impact") === "Low", 1).when(col("impact") === "Holiday", 0)
              .otherwise(-1).cast("long").as("impact_level"),
            coalesce(to_date(col("event_timestamp")) > col("today"), lit(false)).as("is_upcoming"),
            datediff(to_date(col("event_timestamp")), col("today")).cast("long").as("days_until_event"))
        graft.functions.GraftFunctions.qualifyRowNumber(cleaned,
          Window.partitionBy(col("event_id"))
            .orderBy(col("fetched_at").desc, col("event_datetime").desc))
      },
      Some("""
        WITH typed AS (
          SELECT
            CASE WHEN event_id % 17 = 0 THEN NULL
                 ELSE 'ev_' || CAST(event_id AS VARCHAR) END AS event_id_raw,
            'Release ' || CAST(event_id % 50 AS VARCHAR) AS title,
            CASE WHEN user_id % 3 = 0 THEN 'US' WHEN user_id % 3 = 1 THEN 'EU'
                 ELSE 'JP' END AS country,
            ts AS event_timestamp,
            CASE WHEN event_id % 4 = 0 THEN 'High'
                 WHEN event_id % 4 = 1 THEN 'Medium'
                 WHEN event_id % 4 = 2 THEN 'Low'
                 ELSE 'Holiday' END AS impact,
            ROUND(value, 4) + 0.0 AS forecast,
            ROUND(value * 0.9, 4) + 0.0 AS previous,
            ROUND(value * 1.05, 4) + 0.0 AS actual,
            CASE WHEN event_id % 5 = 0 THEN 'cpi' WHEN event_id % 5 = 1 THEN 'gdp'
                 WHEN event_id % 5 = 2 THEN 'employment' ELSE 'rates' END AS event_type,
            'forexfactory' AS source,
            '2026-01-01T00:00:0' || CAST(event_id % 10 AS VARCHAR) AS fetched_at
          FROM events
          WHERE ts IS NOT NULL
        ),
        anchor AS (SELECT MAX(CAST(ts AS DATE)) AS today FROM events),
        cleaned AS (
          SELECT
            COALESCE(event_id_raw, md5(
              COALESCE(CAST(event_timestamp AS VARCHAR), '') || '|' ||
              COALESCE(title, '') || '|' || COALESCE(country, ''))) AS event_id,
            title, country,
            CAST(event_timestamp AS DATE) AS event_date,
            impact,
            forecast, forecast AS forecast_numeric,
            previous, previous AS previous_numeric,
            actual, event_type, source, fetched_at,
            event_timestamp AS event_datetime,
            CAST(EXTRACT(YEAR FROM event_timestamp) AS BIGINT) AS year,
            CAST(EXTRACT(MONTH FROM event_timestamp) AS BIGINT) AS month,
            CAST(EXTRACT(WEEK FROM event_timestamp) AS BIGINT) AS week_of_year,
            CAST(EXTRACT(DOW FROM event_timestamp) + 1 AS BIGINT) AS day_of_week,
            CAST(EXTRACT(HOUR FROM event_timestamp) AS BIGINT) AS hour,
            CAST(CASE impact WHEN 'High' THEN 3 WHEN 'Medium' THEN 2 WHEN 'Low' THEN 1
                 WHEN 'Holiday' THEN 0 ELSE -1 END AS BIGINT) AS impact_level,
            COALESCE(CAST(event_timestamp AS DATE) > today, FALSE) AS is_upcoming,
            CAST(CAST(event_timestamp AS DATE) - today AS BIGINT) AS days_until_event
          FROM typed, anchor
        )
        SELECT * FROM cleaned
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY event_id ORDER BY fetched_at DESC, event_datetime DESC) = 1
      """)
    )
  )
}
