package graft.queries

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.SimilarityOps
import graft.runtime.Tables
import graft.queries.QueryDef.r4

/** Semantic-layer data-coverage checks and the IVF ANN scale path. */
object CoverageQueries {

  val defs: Seq[QueryDef] = Seq(
    // STRUCT-literal source-spec table x freshness checks
    // (semantic_layer/current_data_coverage.sql:4-12 — inline
    // UNNEST([STRUCT(...)]) lookup tables + staleness cutoffs).
    QueryDef(
      "q_data_coverage",
      (s, dir) => {
        import s.implicits._
        val t = Tables(s, dir)
        val spec = Seq(
          ("orders", "o_orderdate", 30),
          ("lineitem", "l_shipdate", 30),
          ("events", "ts", 7)
        ).toDF("table_name", "date_column", "staleness_days")
        val perTable = t.orders
          .agg(lit("orders").as("table_name"), count(lit(1)).as("n_rows"),
            max(to_date(col("o_orderdate"))).as("max_date"))
          .unionByName(
            t.lineitem.agg(lit("lineitem").as("table_name"), count(lit(1)).as("n_rows"),
              max(to_date(col("l_shipdate"))).as("max_date")))
          .unionByName(
            t.events.agg(lit("events").as("table_name"), count(lit(1)).as("n_rows"),
              max(to_date(col("ts"))).as("max_date")))
        val asOf = perTable.agg(max(col("max_date")).as("as_of")).select(col("as_of"))
        perTable
          .join(broadcast(spec), Seq("table_name"))
          .crossJoin(broadcast(asOf))
          .select(
            col("table_name"), col("n_rows"), col("max_date"),
            col("staleness_days").cast("long").as("staleness_days"),
            datediff(col("as_of"), col("max_date")).cast("long").as("days_stale"),
            (datediff(col("as_of"), col("max_date")) > col("staleness_days")).as("is_stale")
          )
      },
      Some("""
        WITH per_table AS (
          SELECT 'orders' AS table_name, COUNT(*) AS n_rows, MAX(CAST(o_orderdate AS DATE)) AS max_date FROM orders
          UNION ALL
          SELECT 'lineitem', COUNT(*), MAX(CAST(l_shipdate AS DATE)) FROM lineitem
          UNION ALL
          SELECT 'events', COUNT(*), MAX(CAST(ts AS DATE)) FROM events
        ),
        spec AS (
          SELECT * FROM (VALUES ('orders', 'o_orderdate', 30),
                                ('lineitem', 'l_shipdate', 30),
                                ('events', 'ts', 7)) AS t(table_name, date_column, staleness_days)
        ),
        aod AS (SELECT MAX(max_date) AS as_of FROM per_table)
        SELECT p.table_name, p.n_rows, p.max_date,
          CAST(s.staleness_days AS BIGINT) AS staleness_days,
          CAST(a.as_of - p.max_date AS BIGINT) AS days_stale,
          (a.as_of - p.max_date) > s.staleness_days AS is_stale
        FROM per_table p JOIN spec s ON p.table_name = s.table_name, aod a
      """)
    ),
    // IVF-style ANN with multi-probe: coarse KMeans centroids, rank
    // cells by query-to-centroid cosine, probe the nprobe nearest,
    // exact cosine within them — the 100 TB scale path where brute
    // force is off the table (probing >1 cell recovers the neighbors
    // a hard cell boundary would drop). The query vector and the 8
    // centroids are driver-sized by construction; the corpus scan is
    // pruned to the probed cells. Stored-golden oracle since r7
    // (seeded KMeans is deterministic at sf0.01 — see TextMlGolden);
    // additionally numpy-cross-checked by tools/check_numeric.py.
    QueryDef(
      "q_ann_ivf_topk",
      (s, dir) => {
        val nprobe = 2
        val e = Tables(s, dir).embeddings
        val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
        val withVec = e.withColumn("features", toVec(col("embedding")))
        val km      = new KMeans().setK(8).setSeed(42L).setMaxIter(10).setFeaturesCol("features").setPredictionCol("cell")
        val model   = km.fit(withVec.select("features").cache())
        val assigned = model.transform(withVec)
        val qArr = withVec.filter(col("vec_id") === 0)
          .select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0).toArray
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
          if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
        }
        val probes = model.clusterCenters.map(_.toArray).zipWithIndex
          .sortBy { case (c, _) => -cos(qArr, c) }.take(nprobe).map(_._2)
        val qvecDf = assigned.filter(col("vec_id") === 0)
          .select(SimilarityOps.toDouble(col("embedding")).as("qvec"))
        assigned
          .filter(col("vec_id") =!= 0 && col("cell").isin(probes.toIndexedSeq.map(Int.box): _*))
          .crossJoin(broadcast(qvecDf))
          .select(col("vec_id"),
            r4(SimilarityOps.cosine(assigned, col("embedding"), col("qvec"))).as("cosine_sim"))
          .orderBy(col("cosine_sim").desc, col("vec_id").asc)
          .limit(10)
      },
      TextMlGolden.annIvfTopk
    ),
    // Product-quantization ANN (operators/PqOps.scala): 8×16-centroid
    // deterministic codebooks from a BOUNDED vec_id<=1024 sample, the
    // corpus encoded to 8 one-byte codes (32× smaller than float32 —
    // THE memory-bound index at 100 TB), asymmetric-distance scan via
    // a driver-built m×ks lookup table, 50-candidate shortlist
    // re-ranked by EXACT cosine so the emitted similarities are exact
    // and PQ only decides membership. Stored-golden oracle (seedless
    // Lloyd is deterministic — TextMlGolden stability argument); the
    // recall-vs-brute-force floor is spec-asserted in Round7Specs.
    QueryDef(
      "q_ann_pq_topk",
      (s, dir) => {
        val e  = Tables(s, dir).embeddings
        val cb = graft.operators.PqOps.pqTrain(e, "vec_id", "embedding", m = 8, ks = 16)
        val qvec = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray.map(_.toDouble)
        val shortlist = graft.operators.PqOps
          .pqEncode(e.filter(col("vec_id") =!= 0), "embedding", cb)
          .withColumn("adc", graft.operators.PqOps.adcScore(cb, qvec, col("pq_codes")))
          .orderBy(col("adc").asc, col("vec_id").asc)
          .limit(50)
        val qvecDf = e.filter(col("vec_id") === 0)
          .select(SimilarityOps.toDouble(col("embedding")).as("qvec"))
        shortlist
          .crossJoin(broadcast(qvecDf))
          .select(col("vec_id"),
            r4(SimilarityOps.cosine(shortlist, col("embedding"), col("qvec"))).as("cosine_sim"))
          .orderBy(col("cosine_sim").desc, col("vec_id").asc)
          .limit(10)
      },
      TextMlGolden.annPqTopk
    )
  )
}
