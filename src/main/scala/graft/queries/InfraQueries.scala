package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.MultimodalOps
import graft.runtime.{MetricsLayer, SqlGuard, Tables}
import graft.queries.QueryDef.r4

/** Warehouse-infrastructure queries: multimodal media plumbing,
  * declarative metrics layer, guarded SQL entry point.
  */
object InfraQueries {

  val defs: Seq[QueryDef] = Seq(
    // Multimodal media table: binary content + typed metadata, frame
    // sampling, batch-shaped stub featurization (decode is a marked
    // deterministic fake; plumbing is real and oracle-checked).
    QueryDef(
      "q_multimodal_features",
      (s, dir) => {
        val media  = MultimodalOps.fromText(Tables(s, dir).documents, "doc_id", "text", "source")
        val feats  = MultimodalOps.batchedFeaturize(media)
        val frames = MultimodalOps
          .sampleFrames(media, blockSize = 64, stride = 5)
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_frames"), min(col("frame_hash")).as("first_frame_hash"))
        feats
          .join(frames, Seq("media_id"))
          .select(
            col("media_id"), col("media_type"),
            col("meta.byte_len").as("byte_len"),
            col("meta.content_hash").as("content_hash"),
            col("n_frames"), col("first_frame_hash"),
            r4(col("stub_brightness")).as("stub_brightness")
          )
      },
      Some("""
        WITH media AS (
          SELECT doc_id AS media_id, 'text/plain' AS media_type, text,
            CAST(LENGTH(text) AS BIGINT) AS byte_len, md5(text) AS content_hash
          FROM documents
        ),
        framed AS (
          SELECT media_id,
            GREATEST(CAST(CEIL(byte_len / 64.0) AS INT), 1) AS n_blocks
          FROM media
        ),
        frames AS (
          SELECT m.media_id,
            md5(SUBSTR(m.text, CAST(f * 5 * 64 + 1 AS INT), 64)) AS frame_hash
          FROM media m
          JOIN framed fr ON m.media_id = fr.media_id,
          UNNEST(RANGE(0, CAST(CEIL(fr.n_blocks / 5.0) AS INT))) AS t(f)
        ),
        fagg AS (
          SELECT media_id, COUNT(*) AS n_frames, MIN(frame_hash) AS first_frame_hash
          FROM frames GROUP BY media_id
        )
        SELECT m.media_id, m.media_type, m.byte_len, m.content_hash,
          fagg.n_frames, fagg.first_frame_hash,
          ROUND(list_sum(list_transform(range(1, LEAST(m.byte_len, 256) + 1),
            i -> CAST(ascii(SUBSTR(m.text, CAST(i AS INT), 1)) AS DOUBLE)))
            / LEAST(m.byte_len, 256) / 255.0, 4) + 0.0 AS stub_brightness
        FROM media m JOIN fagg ON m.media_id = fagg.media_id
      """)
    ),
    // Declarative metrics layer: saved-query = metrics x dimensions
    QueryDef(
      "q_metrics_layer",
      (s, dir) =>
        MetricsLayer.query(
          Tables(s, dir).lineitem,
          Seq("gross_revenue", "net_revenue", "total_quantity", "order_count", "line_count", "avg_discount"),
          Seq(year(col("l_shipdate")).cast("long").as("ship_year"), col("l_returnflag"))
        ),
      Some("""
        SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS ship_year, l_returnflag,
          ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS gross_revenue,
          ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS net_revenue,
          ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0 AS total_quantity,
          COUNT(DISTINCT l_orderkey) AS order_count,
          COUNT(*) AS line_count,
          ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount), 4) + 0.0 AS avg_discount
        FROM lineitem
        GROUP BY 1, 2
      """)
    ),
    // Guarded SQL entry (NL->SQL / MCP consumer path): parses first,
    // rejects mutations, then executes via spark.sql.
    QueryDef(
      "q_sql_guarded_entry",
      (s, dir) => {
        Tables(s, dir).orders.createOrReplaceTempView("orders_v")
        SqlGuard.readOnly(
          s,
          """SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS DOUBLE) / COUNT(*) AS fill_rate
             FROM orders_v
             GROUP BY o_orderpriority"""
        )
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
          CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS DOUBLE) / COUNT(*) AS fill_rate
        FROM orders
        GROUP BY o_orderpriority
      """)
    ),
    // REAL audio decode round-trip (MultimodalOps.decodeWavPcm16):
    // ten deterministic integer triangle waves are synthesized to
    // RIFF/WAVE bytes and decoded back by the chunk-walking PCM
    // parser; the oracle recomputes every feature from the closed
    // -form sample formula — so a single byte-offset bug anywhere in
    // the container writer OR parser breaks the hash. All features
    // are exact integers except rms = one correctly-rounded sqrt of
    // an exact rational (engine-independent). This retires the
    // "decode is a stub" caveat for uncompressed containers; only
    // codec formats (jpeg/mp3/h264) remain stubbed.
    QueryDef(
      "q_wav_decode_features",
      (s, dir) => {
        import s.implicits._
        val spec = (0 until 10)
          .map(id => (id.toLong, 4000 + id * 500, 40 + id * 8, 8000))
          .toDF("media_id", "n", "p", "rate")
        val decode = udf { (n: Int, p: Int, rate: Int) =>
          val A = 16384L
          val samples = Array.tabulate(n) { i =>
            val m = i % p
            val v = if (m < p / 2) 4 * A * m / p - A else 3 * A - 4 * A * m / p
            v.toShort
          }
          val bytes = MultimodalOps.synthesizeWavPcm16(samples, rate)
          val f     = MultimodalOps.decodeWavPcm16(bytes).get
          (f.nSamples, f.durationMs, f.peakAbs, f.zeroCrossings, f.sumSquares)
        }
        spec.withColumn("f", decode(col("n"), col("p"), col("rate")))
          .select(
            col("media_id"),
            col("f._1").as("n_samples"),
            col("f._2").as("duration_ms"),
            col("f._3").as("peak_abs"),
            col("f._4").as("zero_crossings"),
            QueryDef.rsnap(sqrt(col("f._5").cast("double") / col("f._1")), 4).as("rms"))
      },
      Some {
        val specRows = (0 until 10)
          .map(id => s"(${id}, ${4000 + id * 500}, ${40 + id * 8}, 8000)")
          .mkString(", ")
        s"""
        WITH spec AS (
          SELECT * FROM (VALUES $specRows) AS t(media_id, n, p, rate)
        ),
        samples AS (
          SELECT media_id, n, rate, i,
            CASE WHEN (i % p) < p // 2
                 THEN (4 * 16384 * (i % p)) // p - 16384
                 ELSE 3 * 16384 - (4 * 16384 * (i % p)) // p END AS s
          FROM spec, UNNEST(RANGE(0, n)) AS t(i)
        ),
        lagged AS (
          SELECT *, LAG(s) OVER (PARTITION BY media_id ORDER BY i) AS ps
          FROM samples
        )
        SELECT CAST(media_id AS BIGINT) AS media_id,
          CAST(COUNT(*) AS BIGINT) AS n_samples,
          CAST(COUNT(*) * 1000 // MAX(rate) AS BIGINT) AS duration_ms,
          CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
          CAST(SUM(CASE WHEN ps IS NOT NULL AND ((s < 0) <> (ps < 0))
                        THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
          ${QueryDef.oSnap("SQRT(CAST(SUM(s * s) AS DOUBLE) / COUNT(*))", 4)} AS rms
        FROM lagged
        GROUP BY media_id
      """
      }
    )
  )
}
