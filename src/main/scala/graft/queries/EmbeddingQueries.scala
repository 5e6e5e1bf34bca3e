package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.SimilarityOps
import graft.queries.QueryDef.r4
import graft.runtime.Tables

/** Embedding aggregation / training-pair mining — the remaining
  * embedding-side stages of a training-data pipeline (pooling chunk
  * vectors to document vectors; mining hard negatives for contrastive
  * training). Both compose the existing similarity operators and are
  * fully oracle-checked with explicit list arithmetic on the DuckDB
  * side.
  */
object EmbeddingQueries {

  val defs: Seq[QueryDef] = Seq(
    // Mean-pooling: element-wise mean of every label-group's vectors
    // (the chunk→document pooling step; label stands in for doc id).
    // posexplode + (group, dim) aggregation — ONE shuffle keyed by
    // (label, dim), each reducer holds a scalar: no vector ever needs
    // to fit in one task's memory, which is the 100 TB-safe pooling
    // shape (an arrays_zip tree-reduce holds whole vectors per task).
    // Means are exact decimal ratios (rdiv) so the cut is
    // engine-independent.
    QueryDef(
      "q_embedding_mean_pool",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        e.select(col("label").cast("long").as("label"),
            posexplode(SimilarityOps.toDouble(col("embedding"))))
          .groupBy(col("label"), col("pos").cast("long").as("dim"))
          .agg(
            count(lit(1)).as("n_vectors"),
            QueryDef.rdiv(sum(col("col").cast(DecimalType(18, 6))), count(lit(1)), 4)
              .as("mean_val"))
      },
      Some(s"""
        SELECT CAST(label AS BIGINT) AS label,
          CAST(i - 1 AS BIGINT) AS dim,
          CAST(COUNT(*) AS BIGINT) AS n_vectors,
          ${QueryDef.oDivRound(
        "CAST(SUM(CAST(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
        "COUNT(*)", 4)} AS mean_val
        FROM embeddings, UNNEST(RANGE(1, len(embedding) + 1)) AS t(i)
        GROUP BY 1, 2
      """)
    ),
    // Hard-negative mining: for each probe vector, the most similar
    // corpus vectors with a DIFFERENT label — the contrastive-pair
    // negatives that actually teach a model (easy negatives are
    // free; hard ones need a similarity search). Brute-force here
    // (probe set is bounded by construction); at scale the inner
    // search swaps for the IVF/PQ shortlist with identical mining
    // semantics. Ranking is on the r4-rounded cosine with vec_id
    // tie-break, so the cut is engine-exact.
    QueryDef(
      "q_hard_negatives",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val probes = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
            SimilarityOps.toDouble(col("embedding")).as("qvec"))
        val corpus = e.filter(col("vec_id") >= 5)
        val sim = r4(SimilarityOps.cosine(corpus, col("embedding"), col("qvec")))
        val scored = corpus.crossJoin(broadcast(probes))
          .filter(col("label") =!= col("probe_label"))
          .select(col("probe_id"), col("vec_id").as("negative_id"),
            col("label").cast("long").as("negative_label"), sim.as("cosine_sim"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id"))
          .orderBy(col("cosine_sim").desc, col("negative_id").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("probe_id"), col("rank").cast("long").as("rank"),
            col("negative_id"), col("negative_label"), col("cosine_sim"))
      },
      Some("""
        WITH p AS (
          SELECT vec_id AS probe_id, label AS probe_label, embedding AS qe
          FROM embeddings WHERE vec_id < 5
        ),
        c AS (
          SELECT vec_id, label, embedding AS e FROM embeddings WHERE vec_id >= 5
        ),
        sims AS (
          SELECT p.probe_id, c.vec_id AS negative_id,
            CAST(c.label AS BIGINT) AS negative_label,
            ROUND(
              list_sum(list_transform(range(1, len(e)+1), i -> CAST(e[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
              / NULLIF(SQRT(list_sum(list_transform(range(1, len(e)+1), i -> CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))))
                * SQRT(list_sum(list_transform(range(1, len(qe)+1), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))), 0), 4) + 0.0 AS cosine_sim
          FROM c, p
          WHERE c.label <> p.probe_label
        )
        SELECT probe_id, CAST(rk AS BIGINT) AS rank, negative_id, negative_label, cosine_sim
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY probe_id ORDER BY cosine_sim DESC, negative_id ASC) AS rk
          FROM sims
        )
        WHERE rk <= 3
      """)
    ),
    // SemDeDup pruning decisions (Abbas et al. 2023): SRP cells stand
    // in for the paper's k-means partition; within a cell a vector is
    // dropped iff a SMALLER id is cosine->=0.25 similar (greedy-by-id
    // keeps exactly one representative per duplicate chain and is a
    // total order — partition-invariant decisions). Cell-local pair
    // join + id-keyed verdict join: two shuffles, candidate volume
    // bounded by cell population.
    QueryDef(
      "q_semantic_dedup",
      (s, dir) => {
        val planes = SimilarityOps.hyperplanes(64, 4)
        SimilarityOps.semanticDedupDecisions(
          Tables(s, dir).embeddings, "vec_id", "embedding", planes, minSim = 0.25)
      },
      Some {
        val planes = SimilarityOps.hyperplanes(64, 4)
        def dotSql(vec: String, p: Seq[Double]): String =
          p.zipWithIndex
            .map { case (w, d) => s"CAST($vec[${d + 1}] AS DOUBLE) * ($w)" }
            .mkString(" + ")
        def bucketSql(vec: String): String =
          planes.zipWithIndex
            .map { case (p, i) =>
              s"(CASE WHEN ${dotSql(vec, p)} >= 0 THEN ${1 << i} ELSE 0 END)"
            }
            .mkString(" + ")
        s"""
        WITH b AS (
          SELECT vec_id, embedding AS e, ${bucketSql("embedding")} AS cell
          FROM embeddings
        ),
        n AS (
          SELECT vec_id, e, cell,
            SQRT(list_sum(list_transform(range(1, len(e)+1),
              i -> CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE)))) AS nrm
          FROM b
        ),
        pairs AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b,
            list_sum(list_transform(range(1, len(x.e)+1),
              i -> CAST(x.e[i] AS DOUBLE) * CAST(y.e[i] AS DOUBLE)))
              / NULLIF(x.nrm * y.nrm, 0) AS cs
          FROM n x JOIN n y ON x.cell = y.cell AND x.vec_id < y.vec_id
        ),
        dup AS (
          SELECT id_b AS d_id, CAST(COUNT(*) AS BIGINT) AS n_dups_smaller,
                 MAX(cs) AS mx
          FROM pairs WHERE cs >= 0.25 GROUP BY 1
        )
        SELECT b.vec_id, CAST(b.cell AS BIGINT) AS cell,
          d.d_id IS NULL AS kept,
          COALESCE(d.n_dups_smaller, 0) AS n_dups_smaller,
          ROUND(d.mx, 4) + 0.0 AS max_sim_smaller
        FROM b LEFT JOIN dup d ON b.vec_id = d.d_id
      """
      }
    )
  )
}
