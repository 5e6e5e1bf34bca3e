package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.runtime.Tables

/** Sentiment scorers over the documents table (SURVEY.md §2.K row 79):
  * the VADER-style pos/neg/neu/compound bundle with the reference's
  * 5-label strength bucketing, and the fed hawkish/dovish policy
  * lexicon. Lexicons are built over the synthetic corpus vocabulary
  * and inlined as literals on BOTH sides from one Scala Seq (the SRP
  * hyperplane pattern), with integer ×10 weights so all sums are exact.
  */
object SentimentQueries {

  /** Word → valence ×10 (VADER scale is [-4, 4]; these are [-2.7, 2.7]). */
  private val vaderLexicon10: Seq[(String, Int)] = Seq(
    "spark"  -> 27,
    "fast"   -> 21,
    "big"    -> 15,
    "stream" -> 12,
    "merge"  -> 6,
    "batch"  -> 5,
    "scan"   -> -4,
    "filter" -> -7,
    "small"  -> -9,
    "slow"   -> -23
  )

  /** Phrase → weight ×10 (reference weights are [0.0, 1.0]). */
  private val hawkish10: Seq[(String, Int)] = Seq(
    "fast scan" -> 9,
    "spark"     -> 8,
    "big table" -> 6,
    "merge"     -> 5,
    "fast"      -> 3
  )
  private val dovish10: Seq[(String, Int)] = Seq(
    "slow query" -> 9,
    "slow"       -> 6,
    "batch"      -> 5,
    "small"      -> 4,
    "filter"     -> 2
  )

  /** Oracle-side snap-round of an int/int ratio: DECIMAL(18,6) first so
    * exact short-decimal ratios (1/16, 7/80, ...) round away from the
    * binary-representation boundary identically to Spark's
    * shortest-repr rounding. */
  private def oSnap(x: String, n: Int): String =
    s"CAST(ROUND(CAST($x AS DECIMAL(18,6)), $n) AS DOUBLE) + 0.0"

  /** Heuristic word lists for [[TextOps.vaderSentimentFull]], drawn
    * from the corpus vocabulary (the booster/dampener/negator role
    * stand-ins — caller-supplied, as the lexicon is). */
  private val vaderBoosters  = Seq("hash", "vector")
  private val vaderDampeners = Seq("row", "line")
  private val vaderNegators  = Seq("the", "a")

  /** q_vader_full_heuristics: the full-heuristics scorer
    * (booster/dampener distance scaling, 3-token negation window,
    * !/? punctuation emphasis) over documents, with a deterministic
    * punctuation fixture appended so the emphasis branches are
    * exercised. Integer ×10⁶ valence arithmetic on both sides.
    */
  private val vaderFullDef: QueryDef = QueryDef(
    "q_vader_full_heuristics",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val d = Tables(s, dir).documents
        .withColumn("txt", concat(col("text"),
          repeat(lit("!"), (col("doc_id") % 6).cast("int")),
          repeat(lit("?"), (col("doc_id") % 5).cast("int"))))
      val scored = TextOps.vaderSentimentFull(
        d, col("txt"), vaderLexicon10, vaderBoosters, vaderDampeners, vaderNegators)
      scored.select(col("doc_id"), col("sent.compound").as("compound"),
        col("sent.positive").as("positive"), col("sent.negative").as("negative"),
        col("sent.neutral").as("neutral"),
        col("sent.sentiment_label").as("sentiment_label"))
    },
    Some {
      val baseCase = vaderLexicon10
        .map { case (w, s) => s"WHEN '$w' THEN CAST(${s.toLong * 100000L} AS BIGINT)" }
        .mkString(" ")
      def base(x: String) = s"(CASE $x $baseCase ELSE CAST(0 AS BIGINT) END)"
      def inList(x: String, ws: Seq[String]) = s"$x IN (${ws.map(w => s"'$w'").mkString(", ")})"
      val distBoost = Seq(293000L, 278350L, 263700L)
      val b   = base("t[i]")
      val sgn = s"(CASE WHEN $b > 0 THEN 1 ELSE -1 END)"
      val boostTerms = (1 to 3).map { dd =>
        s"""(CASE WHEN i - $dd >= 1 AND ${inList(s"t[i - $dd]", vaderBoosters)}
               THEN $sgn * ${distBoost(dd - 1)}
             WHEN i - $dd >= 1 AND ${inList(s"t[i - $dd]", vaderDampeners)}
               THEN -$sgn * ${distBoost(dd - 1)}
             ELSE 0 END)"""
      }.mkString(" + ")
      val boosted = s"($b + $boostTerms)"
      val negated = (1 to 3)
        .map(dd => s"(i - $dd >= 1 AND ${inList(s"t[i - $dd]", vaderNegators)})")
        .mkString(" OR ")
      val compound = """CASE WHEN pos + neg + neu > 0
          THEN ROUND((s / 1000000.0) / SQRT((s / 1000000.0) * (s / 1000000.0) + 15.0), 4) + 0.0
          ELSE 0.0 END"""
      s"""
      WITH toks AS (
        SELECT doc_id,
          text || REPEAT('!', CAST(doc_id % 6 AS INT)) || REPEAT('?', CAST(doc_id % 5 AS INT)) AS txt,
          list_filter(string_split_regex(
            lower(text || REPEAT('!', CAST(doc_id % 6 AS INT)) || REPEAT('?', CAST(doc_id % 5 AS INT))),
            '\\s+'), x -> len(x) > 0) AS t
        FROM documents
      ),
      vals AS (
        SELECT doc_id, txt,
          list_transform(range(1, len(t) + 1), i -> (
            CASE WHEN $b = 0 THEN CAST(0 AS BIGINT)
                 WHEN $negated THEN (-($boosted) * 74) // 100
                 ELSE $boosted END
          )) AS v
        FROM toks
      ),
      sums AS (
        SELECT doc_id, txt,
          CAST(COALESCE(list_sum(v), 0) AS BIGINT) AS sraw,
          CAST(COALESCE(list_sum(list_transform(v, x -> CASE WHEN x > 0 THEN x + 1000000 ELSE 0 END)), 0) AS BIGINT) AS pos0,
          CAST(COALESCE(list_sum(list_transform(v, x -> CASE WHEN x < 0 THEN 1000000 - x ELSE 0 END)), 0) AS BIGINT) AS neg0,
          CAST(COALESCE(list_sum(list_transform(v, x -> CASE WHEN x = 0 THEN 1000000 ELSE 0 END)), 0) AS BIGINT) AS neu
        FROM vals
      ),
      punct AS (
        SELECT *,
          LEAST(LENGTH(txt) - LENGTH(REPLACE(txt, '!', '')), 4) * 292000
          + (CASE WHEN LENGTH(txt) - LENGTH(REPLACE(txt, '?', '')) > 3 THEN 960000
                  WHEN LENGTH(txt) - LENGTH(REPLACE(txt, '?', '')) > 1
                    THEN (LENGTH(txt) - LENGTH(REPLACE(txt, '?', ''))) * 180000
                  ELSE 0 END) AS pp
        FROM sums
      ),
      shaped AS (
        SELECT doc_id,
          CASE WHEN sraw > 0 THEN sraw + pp
               WHEN sraw < 0 THEN sraw - pp
               ELSE sraw END AS s,
          pos0 + CASE WHEN sraw > 0 THEN pp ELSE 0 END AS pos,
          neg0 + CASE WHEN sraw < 0 THEN pp ELSE 0 END AS neg,
          neu
        FROM punct
      )
      SELECT doc_id,
        $compound AS compound,
        CASE WHEN pos + neg + neu > 0
          THEN ROUND(CAST(pos AS DOUBLE) / (pos + neg + neu), 3) + 0.0 ELSE 0.0 END AS positive,
        CASE WHEN pos + neg + neu > 0
          THEN ROUND(CAST(neg AS DOUBLE) / (pos + neg + neu), 3) + 0.0 ELSE 0.0 END AS negative,
        CASE WHEN pos + neg + neu > 0
          THEN ROUND(CAST(neu AS DOUBLE) / (pos + neg + neu), 3) + 0.0 ELSE 0.0 END AS neutral,
        CASE WHEN ($compound) >= 0.05 THEN 'positive'
             WHEN ($compound) <= -0.05 THEN 'negative'
             ELSE 'neutral' END AS sentiment_label
      FROM shaped
      """
    }
  )

  val defs: Seq[QueryDef] = Seq(
    vaderFullDef,
    QueryDef(
      "q_sentiment_scores",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.withColumn("sent", TextOps.vaderSentiment(col("text"), vaderLexicon10))
          .select(col("doc_id"), col("lang"), col("sent.compound"),
            col("sent.positive"), col("sent.negative"), col("sent.neutral"),
            col("sent.sentiment_label"), col("sent.sentiment_strength"),
            col("sent.sentiment_intensity"))
      },
      Some {
        val valCase = vaderLexicon10
          .map { case (w, s) => s"WHEN x = '$w' THEN $s" }
          .mkString(" ")
        s"""
        WITH toks AS (
          SELECT doc_id, lang,
            list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS t
          FROM documents
        ),
        vals AS (
          SELECT doc_id, lang,
            list_transform(t, x -> CASE $valCase ELSE 0 END) AS v
          FROM toks
        ),
        sums AS (
          SELECT doc_id, lang,
            CAST(COALESCE(list_sum(v), 0) AS BIGINT) AS s10,
            CAST(COALESCE(list_sum(list_transform(v, x -> CASE WHEN x > 0 THEN x + 10 ELSE 0 END)), 0) AS BIGINT) AS pos10,
            CAST(COALESCE(list_sum(list_transform(v, x -> CASE WHEN x < 0 THEN 10 - x ELSE 0 END)), 0) AS BIGINT) AS neg10,
            CAST(COALESCE(list_sum(list_transform(v, x -> CASE WHEN x = 0 THEN 10 ELSE 0 END)), 0) AS BIGINT) AS neu10
          FROM vals
        ),
        comp AS (
          SELECT doc_id, lang, pos10, neg10, neu10,
            pos10 + neg10 + neu10 AS tot,
            CASE WHEN pos10 + neg10 + neu10 > 0
                 THEN ROUND((s10 / 10.0) / SQRT((s10 / 10.0) * (s10 / 10.0) + 15.0), 4) + 0.0
                 ELSE 0.0 END AS compound
          FROM sums
        )
        SELECT doc_id, lang, compound,
          CASE WHEN tot > 0 THEN ${oSnap("CAST(pos10 AS DOUBLE) / tot", 3)} ELSE 0.0 END AS positive,
          CASE WHEN tot > 0 THEN ${oSnap("CAST(neg10 AS DOUBLE) / tot", 3)} ELSE 0.0 END AS negative,
          CASE WHEN tot > 0 THEN ${oSnap("CAST(neu10 AS DOUBLE) / tot", 3)} ELSE 0.0 END AS neutral,
          CASE WHEN compound >= 0.05 THEN 'positive'
               WHEN compound <= -0.05 THEN 'negative'
               ELSE 'neutral' END AS sentiment_label,
          CASE WHEN compound >= 0.5 THEN 'very_positive'
               WHEN compound >= 0.05 THEN 'positive'
               WHEN compound <= -0.5 THEN 'very_negative'
               WHEN compound <= -0.05 THEN 'negative'
               ELSE 'neutral' END AS sentiment_strength,
          ABS(compound) AS sentiment_intensity
        FROM comp
      """
      }
    ),
    QueryDef(
      "q_policy_sentiment",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.withColumn("pol", TextOps.policySentiment(col("text"), hawkish10, dovish10))
          .select(col("doc_id"), col("pol.hawkish_score"), col("pol.dovish_score"),
            col("pol.net_sentiment_score"),
            col("pol.total_hawkish_keywords"), col("pol.total_dovish_keywords"))
      },
      Some {
        def cnt(p: String)               = s"len(regexp_extract_all(lower(text), '\\b$p\\b'))"
        def tot(lex: Seq[(String, Int)]) = lex.map { case (p, w) => s"${cnt(p)} * $w" }.mkString(" + ")
        def hits(lex: Seq[(String, Int)]) = lex.map { case (p, _) => cnt(p) }.mkString(" + ")
        val maxH = hawkish10.map(_._2).sum
        val maxD = dovish10.map(_._2).sum
        s"""
        WITH counted AS (
          SELECT doc_id,
            CAST(${tot(hawkish10)} AS BIGINT) AS h10,
            CAST(${tot(dovish10)} AS BIGINT) AS d10,
            CAST(${hits(hawkish10)} AS BIGINT) AS total_hawkish_keywords,
            CAST(${hits(dovish10)} AS BIGINT) AS total_dovish_keywords
          FROM documents
        )
        SELECT doc_id,
          ${oSnap(s"LEAST(CAST(h10 AS DOUBLE) / $maxH, 1.0)", 3)} AS hawkish_score,
          ${oSnap(s"LEAST(CAST(d10 AS DOUBLE) / $maxD, 1.0)", 3)} AS dovish_score,
          CASE WHEN h10 + d10 > 0 THEN ${oSnap("CAST(h10 - d10 AS DOUBLE) / (h10 + d10)", 3)}
               ELSE 0.0 END AS net_sentiment_score,
          total_hawkish_keywords, total_dovish_keywords
        FROM counted
      """
      }
    )
  )
}
