package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.runtime.Tables

/** SEC filing-envelope extraction 1:1 (ref
  * document_extraction/transforms/sec_envelope_text.py:1-108): JSON
  * envelopes ({content: html, metadata: {...}}) become the
  * analysis-ready grain — body text stripped of markup, the seven
  * metadata fields projected to string columns, and the
  * migration-duplicate cleanup that keeps ONE row per content_hash
  * preferring the symbol-layout path over the legacy `10-…/` layout
  * (ref :66-77: sort by is_symbol_layout desc, unique keep-first).
  *
  * Spark-first shape: `get_json_object` for the metadata fields (the
  * reference's json.loads dict access), `regexp_replace` tag-strip +
  * whitespace collapse for BeautifulSoup's `get_text(" ", strip=True)`
  * (exact for the element-only markup the registry fixture carries;
  * entity decoding would need a UDF and is out of fixture scope), and
  * a row_number window over content_hash for the keep-first dedup.
  *
  * Scale: one scan; the dedup is a single hash shuffle on
  * content_hash (the same key the registry writer already buckets
  * by); everything else is a stateless projection.
  */
object DocumentExtractionQueries {

  /** Envelope registry fixture from `documents`: every doc under its
    * symbol-layout path, plus a deterministic ~1/8 re-listed under the
    * legacy `10-K/` path with IDENTICAL content (the un-deleted
    * originals the GCS migration leaves behind, ref :64-66). */
  def envelopeRegistry(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val sym  = concat(lit("SYM"), col("doc_id") % 50)
    val base = docs.select(
      col("doc_id"),
      concat(lit("doc-"), col("doc_id")).as("document_id"),
      concat(sym, lit("/"), col("doc_id"), lit(".json")).as("source_path"),
      concat(lit("<html><body><h1>Filing "), col("doc_id"),
        lit("</h1><p>"), col("text"), lit("</p></body></html>")).as("content"),
      concat(lit("""{"filing_id": "F"""), col("doc_id"),
        lit("""", "symbol": """"), sym,
        lit("""", "form_type": "10-K", "filing_date": "2024-01-02", """),
        lit(""""report_date": "2023-12-31", "accession_number": "ACC"""),
        col("doc_id"),
        lit("""", "company_name": "Company """), col("doc_id") % 50,
        lit(""""}""")).as("metadata"),
      md5(col("text")).as("content_hash"),
      lit("2024-02-01 00:00:00").cast("timestamp").as("extracted_at"))
    val legacy = base.filter(col("doc_id") % 8 === 0)
      .withColumn("source_path",
        concat(lit("10-K/"), col("doc_id"), lit(".json")))
    base.unionByName(legacy)
      .withColumn("source_uri", concat(lit("mem://registry/"), col("source_path")))
      .drop("doc_id")
  }

  private val registryCte = """
    registry AS (
      SELECT * FROM (
        SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS document_id,
          'SYM' || CAST(doc_id % 50 AS VARCHAR) || '/' || CAST(doc_id AS VARCHAR) || '.json' AS source_path,
          '<html><body><h1>Filing ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p></body></html>' AS content,
          '{"filing_id": "F' || CAST(doc_id AS VARCHAR) || '", "symbol": "SYM' || CAST(doc_id % 50 AS VARCHAR)
            || '", "form_type": "10-K", "filing_date": "2024-01-02", "report_date": "2023-12-31", "accession_number": "ACC'
            || CAST(doc_id AS VARCHAR) || '", "company_name": "Company ' || CAST(doc_id % 50 AS VARCHAR) || '"}' AS metadata,
          md5(text) AS content_hash,
          TIMESTAMP '2024-02-01 00:00:00' AS extracted_at
        FROM documents
        UNION ALL
        SELECT 'doc-' || CAST(doc_id AS VARCHAR),
          '10-K/' || CAST(doc_id AS VARCHAR) || '.json',
          '<html><body><h1>Filing ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p></body></html>',
          '{"filing_id": "F' || CAST(doc_id AS VARCHAR) || '", "symbol": "SYM' || CAST(doc_id % 50 AS VARCHAR)
            || '", "form_type": "10-K", "filing_date": "2024-01-02", "report_date": "2023-12-31", "accession_number": "ACC'
            || CAST(doc_id AS VARCHAR) || '", "company_name": "Company ' || CAST(doc_id % 50 AS VARCHAR) || '"}',
          md5(text),
          TIMESTAMP '2024-02-01 00:00:00'
        FROM documents WHERE doc_id % 8 = 0
      )
    ),
    registry_uri AS (
      SELECT *, 'mem://registry/' || source_path AS source_uri FROM registry
    )"""

  /** The transform itself (ref run(), :61-108). */
  def envelopeText(registry: DataFrame): DataFrame = {
    val isSymbolLayout =
      !split(col("source_path"), "/").getItem(0).startsWith("10-")
    val w = Window.partitionBy(col("content_hash"))
      .orderBy(isSymbolLayout.cast("int").desc, col("source_path").asc)
    registry
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        Seq(col("document_id"), col("source_path"), col("source_uri"),
          col("content_hash"), col("extracted_at"),
          trim(regexp_replace(regexp_replace(col("content"),
            "<[^>]+>", " "), "\\s+", " ")).as("text")) ++
          Seq("filing_id", "symbol", "form_type", "filing_date",
            "report_date", "accession_number", "company_name")
            .map(f => get_json_object(col("metadata"), s"$$.$f").as(f)): _*)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_sec_envelope_text",
      (s, dir) => envelopeText(envelopeRegistry(s, dir)),
      Some(s"""
        WITH $registryCte
        SELECT document_id, source_path, source_uri, content_hash, extracted_at,
          TRIM(REGEXP_REPLACE(REGEXP_REPLACE(content, '<[^>]+>', ' ', 'g'), '\\s+', ' ', 'g')) AS text,
          json_extract_string(metadata, '$$.filing_id') AS filing_id,
          json_extract_string(metadata, '$$.symbol') AS symbol,
          json_extract_string(metadata, '$$.form_type') AS form_type,
          json_extract_string(metadata, '$$.filing_date') AS filing_date,
          json_extract_string(metadata, '$$.report_date') AS report_date,
          json_extract_string(metadata, '$$.accession_number') AS accession_number,
          json_extract_string(metadata, '$$.company_name') AS company_name
        FROM registry_uri
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY content_hash
          ORDER BY CASE WHEN SUBSTR(SPLIT_PART(source_path, '/', 1), 1, 3) = '10-'
                        THEN 0 ELSE 1 END DESC,
                   source_path ASC) = 1
      """)
    )
  )
}
