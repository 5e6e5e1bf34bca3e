package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{SketchOps, TextOps}
import graft.queries.QueryDef.rsnap
import graft.runtime.Tables

/** Mergeable-sketch queries ([[graft.operators.SketchOps]]): KMV
  * distinct-count rollup and priority sampling. The 100 TB story these
  * exercise end-to-end: aggregate once into bounded per-group sketches,
  * answer every coarser rollup FROM THE SKETCHES — the raw keys are
  * never re-shuffled. Deterministic md5-derived uniforms make both
  * operators byte-stable across runs and engines, so unlike library
  * HLL/reservoir implementations they are fully oracle-checkable.
  */
object SketchQueries {

  /** DuckDB mirror of [[SketchOps.hash32]]: positional fold of 8 hex
    * digits of md5 (starting at `off`, 0-based) via ascii
    * arithmetic. Offset 8 is the second independent 32-bit value the
    * CMS Kirsch–Mitzenmacher scheme draws from the same md5. */
  private def oHash32At(e: String, off: Int): String =
    (0 until 8).map { i =>
      val d = s"ascii(substr(md5($e), ${off + i + 1}, 1))"
      s"CAST(CASE WHEN $d <= 57 THEN $d - 48 ELSE $d - 87 END AS BIGINT) * ${1L << (4 * (7 - i))}"
    }.mkString("(", " + ", ")")

  private def oHash32(e: String): String = oHash32At(e, 0)

  private val K = 64

  val defs: Seq[QueryDef] = Seq(
    // KMV distinct-customer rollup: monthly sketches of distinct
    // ordering customers, merged to years WITHOUT touching raw orders
    // again (the year estimate is derived purely from the <= 64-hash
    // monthly sketches), compared against the exact per-year distinct.
    // est/rel_err are single IEEE divisions of exactly-representable
    // integers (h_k < 2^32, exact counts < 2^31), so every engine
    // computes identical bits; outputs are additionally snap-rounded.
    QueryDef(
      "q_kmv_distinct_rollup",
      (s, dir) => {
        val orders = Tables(s, dir).orders
        val monthly = SketchOps.kmvSketch(
          orders.select(
            date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
            col("o_custkey")),
          "month_start", "o_custkey", K)
        val yearly = SketchOps.kmvMerge(
          monthly.withColumn("yr", year(col("month_start")).cast("long")), "yr", K)
        val exact = orders
          .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
        yearly.join(exact, Seq("yr"))
          .select(
            col("yr").as("order_year"),
            col("n_hashes"),
            rsnap(col("est_distinct"), 4).as("est_distinct"),
            col("exact_distinct"),
            rsnap(
              abs(col("est_distinct") - col("exact_distinct").cast("double")) /
                col("exact_distinct"),
              4).as("abs_rel_err"))
      },
      Some {
        val h = oHash32("CAST(o_custkey AS VARCHAR)")
        s"""
        WITH mh AS (
          SELECT DISTINCT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS m, $h AS h
          FROM orders
        ),
        monthly AS (
          SELECT m, h FROM (
            SELECT m, h, ROW_NUMBER() OVER (PARTITION BY m ORDER BY h) AS rk FROM mh
          ) WHERE rk <= $K
        ),
        yh AS (
          SELECT DISTINCT CAST(EXTRACT(YEAR FROM m) AS BIGINT) AS yr, h FROM monthly
        ),
        yranked AS (
          SELECT yr, h, ROW_NUMBER() OVER (PARTITION BY yr ORDER BY h) AS rk FROM yh
        ),
        ysk AS (
          SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_hashes,
            MAX(CASE WHEN rk = $K THEN h END) AS hk
          FROM yranked WHERE rk <= $K GROUP BY yr
        ),
        yest AS (
          SELECT yr, n_hashes,
            CASE WHEN hk IS NULL THEN CAST(n_hashes AS DOUBLE)
                 ELSE CAST(${(K - 1).toLong * 4294967296L} AS DOUBLE) / hk END AS est
          FROM ysk
        ),
        ex AS (
          SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
            CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
          FROM orders GROUP BY 1
        )
        SELECT y.yr AS order_year, y.n_hashes,
          ${QueryDef.oSnap("y.est", 4)} AS est_distinct,
          ex.exact_distinct,
          ${QueryDef.oSnap("ABS(y.est - CAST(ex.exact_distinct AS DOUBLE)) / ex.exact_distinct", 4)}
            AS abs_rel_err
        FROM yest y JOIN ex ON y.yr = ex.yr
      """
      }
    ),
    // Priority sampling (Duffield-Lund-Thorup) of documents per source,
    // weighted by token count, with the unbiased Horvitz-Thompson
    // total-tokens estimate from the 16-doc sample. u is an exact
    // power-of-two-scaled uniform, so priorities are bit-identical
    // cross-engine; the HT sum folds in DECIMAL(28,6) over the sorted
    // sample (order-independent), and outputs are snap-rounded.
    QueryDef(
      "q_priority_sample_tokens",
      (s, dir) => {
        val docs = Tables(s, dir).documents
          .select(col("source"), col("doc_id"),
            TextOps.tokenCount(col("text")).as("n_tokens"))
        val sampled = SketchOps.prioritySample(docs, "source", "doc_id", "n_tokens", k = 16)
        val exact = docs.groupBy(col("source"))
          .agg(sum(col("n_tokens")).cast("long").as("exact_total_tokens"),
            count(lit(1)).cast("long").as("n_docs"))
        sampled.join(exact, Seq("source"))
          .select(
            col("source"),
            col("n_docs"),
            array_join(transform(col("sample_ids"), _.cast("string")), ",").as("sample_ids"),
            col("is_exact"),
            rsnap(col("tau"), 4).as("tau"),
            rsnap(col("est_total_weight"), 4).as("est_total_tokens"),
            col("exact_total_tokens"),
            rsnap(
              abs(col("est_total_weight") - col("exact_total_tokens").cast("double")) /
                col("exact_total_tokens"),
              4).as("abs_rel_err"))
      },
      Some {
        val h = oHash32("CAST(doc_id AS VARCHAR)")
        s"""
        WITH docs AS (
          SELECT source, doc_id,
            CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> len(x) > 0)) AS BIGINT) AS w
          FROM documents
        ),
        pri AS (
          SELECT source, doc_id, w,
            CAST(w AS DOUBLE) / ((CAST($h AS DOUBLE) + 1) / 4294967296.0) AS p
          FROM docs
        ),
        ranked AS (
          SELECT source, doc_id, w, p,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY p DESC, doc_id ASC) AS rk
          FROM pri
        ),
        topk AS (SELECT * FROM ranked WHERE rk <= 17),
        agg AS (
          SELECT source,
            COALESCE(MAX(CASE WHEN rk = 17 THEN p END), 0.0) AS tau,
            COUNT(*) AS n_ranked,
            ARRAY_TO_STRING(LIST(CAST(doc_id AS VARCHAR) ORDER BY doc_id)
              FILTER (WHERE rk <= 16), ',') AS sample_ids
          FROM topk GROUP BY source
        ),
        est AS (
          SELECT a.source, a.tau, a.n_ranked, a.sample_ids,
            CAST((SELECT SUM(CAST(GREATEST(CAST(t.w AS DOUBLE), a.tau) AS DECIMAL(28,6)))
                  FROM topk t WHERE t.source = a.source AND t.rk <= 16) AS DOUBLE) AS est_total
          FROM agg a
        ),
        ex AS (
          SELECT source, CAST(SUM(w) AS BIGINT) AS exact_total_tokens,
            CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM docs GROUP BY source
        )
        SELECT e.source, ex.n_docs, e.sample_ids,
          e.n_ranked <= 16 AS is_exact,
          ${QueryDef.oSnap("e.tau", 4)} AS tau,
          ${QueryDef.oSnap("e.est_total", 4)} AS est_total_tokens,
          ex.exact_total_tokens,
          ${QueryDef.oSnap(
            "ABS(e.est_total - CAST(ex.exact_total_tokens AS DOUBLE)) / ex.exact_total_tokens", 4)}
            AS abs_rel_err
        FROM est e JOIN ex ON e.source = ex.source
      """
      }
    ),
    // Cross-source content-overlap estimation from KMV sketches alone:
    // per-source sketch of normalized document fingerprints, pairwise
    // union-merge (k smallest of the concatenation — exact KMV union),
    // inclusion-exclusion intersection estimate, Jaccard estimate,
    // exact intersection alongside to grade it. The sketch path
    // shuffles 20 sketch rows for 190 pairs; the exact path (dropped
    // in production — SCALE.md §6) re-joins raw fingerprints.
    QueryDef(
      "q_kmv_source_overlap",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val fp = TextOps.normalizedFingerprint(col("text"))
        val sk = SketchOps.kmvSketch(
          docs.select(col("source"), fp.as("fp")), "source", "fp", K)
        val a = sk.select(col("source").as("source_a"), col("kmv").as("kmv_a"),
          col("est_distinct").as("est_a"))
        val b = sk.select(col("source").as("source_b"), col("kmv").as("kmv_b"),
          col("est_distinct").as("est_b"))
        val u = array_sort(array_union(col("kmv_a"), col("kmv_b")))
        // guard the element_at: ANSI mode errors on out-of-bounds
        val hk = when(size(u) >= K, element_at(u, lit(K)))
        val estU = when(hk.isNull, size(u).cast("double"))
          .otherwise(lit((K - 1).toLong * 4294967296L).cast("double") / hk)
        val fps = docs.select(col("source"), fp.as("fp")).distinct()
        val exact = fps.select(col("source").as("source_a"), col("fp"))
          .join(fps.select(col("source").as("source_b"), col("fp")), Seq("fp"))
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("exact_intersection"))
        a.crossJoin(b).filter(col("source_a") < col("source_b"))
          .withColumn("est_union", estU)
          .withColumn("est_intersection",
            greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0)))
          .join(exact, Seq("source_a", "source_b"), "left")
          .select(
            col("source_a"), col("source_b"),
            rsnap(col("est_a"), 4).as("est_a"),
            rsnap(col("est_b"), 4).as("est_b"),
            rsnap(col("est_union"), 4).as("est_union"),
            rsnap(col("est_intersection"), 4).as("est_intersection"),
            rsnap(
              when(col("est_union") > 0, col("est_intersection") / col("est_union"))
                .otherwise(lit(0.0)), 4).as("jaccard_est"),
            coalesce(col("exact_intersection"), lit(0L)).cast("long").as("exact_intersection"))
      },
      Some {
        val h = oHash32("fp")
        s"""
        WITH fps AS (
          SELECT DISTINCT source,
            md5(array_to_string(list_sort(list_distinct(
              list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0))), ' ')) AS fp
          FROM documents
        ),
        hashed AS (SELECT DISTINCT source, $h AS h FROM fps),
        ranked AS (
          SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk FROM hashed
        ),
        sk AS (
          SELECT source, LIST(h ORDER BY h) AS kmv,
            CAST(COUNT(*) AS BIGINT) AS n_hashes,
            MAX(CASE WHEN rk = $K THEN h END) AS hk
          FROM ranked WHERE rk <= $K GROUP BY source
        ),
        est AS (
          SELECT source, kmv,
            CASE WHEN hk IS NULL THEN CAST(n_hashes AS DOUBLE)
                 ELSE CAST(${(K - 1).toLong * 4294967296L} AS DOUBLE) / hk END AS est_d
          FROM sk
        ),
        pairs AS (
          SELECT a.source AS source_a, b.source AS source_b,
            a.est_d AS est_a, b.est_d AS est_b,
            list_sort(list_distinct(list_concat(a.kmv, b.kmv))) AS u
          FROM est a, est b WHERE a.source < b.source
        ),
        uest AS (
          SELECT source_a, source_b, est_a, est_b,
            CASE WHEN len(u) < $K THEN CAST(len(u) AS DOUBLE)
                 ELSE CAST(${(K - 1).toLong * 4294967296L} AS DOUBLE) / u[$K] END AS est_union
          FROM pairs
        ),
        ex AS (
          SELECT a.source AS source_a, b.source AS source_b,
            CAST(COUNT(*) AS BIGINT) AS exact_intersection
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT u.source_a, u.source_b,
          ${QueryDef.oSnap("u.est_a", 4)} AS est_a,
          ${QueryDef.oSnap("u.est_b", 4)} AS est_b,
          ${QueryDef.oSnap("u.est_union", 4)} AS est_union,
          ${QueryDef.oSnap("GREATEST(u.est_a + u.est_b - u.est_union, 0.0)", 4)}
            AS est_intersection,
          ${QueryDef.oSnap(
            "CASE WHEN u.est_union > 0 THEN GREATEST(u.est_a + u.est_b - u.est_union, 0.0) / u.est_union ELSE 0.0 END", 4)}
            AS jaccard_est,
          COALESCE(ex.exact_intersection, 0) AS exact_intersection
        FROM uest u LEFT JOIN ex USING (source_a, source_b)
      """
      }
    ),
    // Approximate quantiles with a VERIFIED rank-error bound: Spark's
    // native percentile_approx (Greenwald–Khanna summaries — one pass,
    // mergeable, no global sort; THE 100 TB quantile path) over
    // per-flag price distributions. The sketch estimate itself is
    // merge-order-dependent, so it is NOT emitted; what IS emitted —
    // and driver-hash-gated — is (a) the exact discontinuous
    // percentile, recomputed independently by both engines, and (b) a
    // boolean asserting the sketch value's true rank landed within the
    // documented n/accuracy envelope of the target rank. If a Spark
    // upgrade ever broke the GK guarantee, (b) flips and the gate goes
    // red; the oracle expects TRUE unconditionally.
    QueryDef(
      "q_approx_quantile_bounds",
      (s, dir) => {
        val ps  = Seq(0.25, 0.5, 0.75, 0.9)
        val acc = 1000
        val li = Tables(s, dir).lineitem
          .select(col("l_returnflag").as("grp"), col("l_extendedprice").as("v"))
        val pArr = array(ps.map(lit): _*)
        val approx = li.groupBy(col("grp"))
          .agg(percentile_approx(col("v"), pArr, lit(acc)).as("ap"),
            count(lit(1)).as("n"))
          .select(col("grp"), col("n"), posexplode(col("ap")))
          .select(col("grp"), col("n"),
            element_at(pArr, col("pos").cast("int") + 1).as("p"),
            col("col").as("approx_v"))
        // true rank window of the sketch's answer, one pass over data
        val rankOf = li.join(broadcast(approx), Seq("grp"))
          .groupBy(col("grp"), col("p"), col("n"), col("approx_v"))
          .agg(
            sum(when(col("v") <= col("approx_v"), 1L).otherwise(0L)).as("cnt_le"),
            sum(when(col("v") < col("approx_v"), 1L).otherwise(0L)).as("cnt_lt"))
        // exact disc percentile: the value at rank ceil(p*n) (value at
        // a rank is deterministic even when row_number ties are not)
        val wg = Window.partitionBy(col("rgrp")).orderBy(col("v"))
        val ranked = li.select(col("grp").as("rgrp"), col("v"))
          .withColumn("rk", row_number().over(wg))
        val exact = rankOf
          .withColumn("rke", ceil(col("p") * col("n")).cast("long"))
          .join(ranked, col("grp") === col("rgrp") && col("rke") === col("rk"))
        val err = col("n").cast("double") / acc + 1.0
        exact.select(
          col("grp"), col("p"), col("n"),
          col("v").as("exact_v"),
          when(
            col("cnt_le").cast("double") >= col("p") * col("n") - err &&
              (col("cnt_lt") + 1).cast("double") <= col("p") * col("n") + err,
            1L).otherwise(0L).as("approx_within_bound"))
      },
      Some("""
        WITH li AS (SELECT l_returnflag AS grp, l_extendedprice AS v FROM lineitem),
        grp_n AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM li GROUP BY grp),
        ranked AS (
          SELECT grp, v, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v) AS rk FROM li
        ),
        ps AS (SELECT UNNEST([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
                              CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS p),
        target AS (
          SELECT g.grp, g.n, ps.p, CAST(CEIL(ps.p * g.n) AS BIGINT) AS rke
          FROM grp_n g CROSS JOIN ps
        )
        SELECT t.grp, t.p, t.n, r.v AS exact_v,
          CAST(1 AS BIGINT) AS approx_within_bound
        FROM target t JOIN ranked r ON t.grp = r.grp AND t.rke = r.rk
      """)
    ),
    // Count-min-sketch heavy hitters: two half-period sketches of
    // part-key frequencies MERGED cell-wise (never re-touching raw
    // rows — the rollup the sketch exists for), probed for every
    // candidate key, top-25 by estimate with the exact counts and
    // overshoot alongside. Everything is BIGINT (md5-derived buckets,
    // additive counters, min-of-d estimate), so both engines produce
    // identical cells, identical estimates, and an identical top-k
    // cut (ties broken by key).
    QueryDef(
      "q_cms_heavy_hitters",
      (s, dir) => {
        val d = 4
        val w = 1024
        val li = Tables(s, dir).lineitem
          .select(col("l_partkey"), to_date(col("l_shipdate")).as("sd"))
        val mid = lit("1995-07-01")
        val sk = SketchOps.cmsMerge(
          SketchOps.cmsSketch(li.filter(col("sd") < to_date(mid)), "l_partkey", d, w)
            .unionByName(
              SketchOps.cmsSketch(li.filter(col("sd") >= to_date(mid)), "l_partkey", d, w)))
        // Probe keys = the exact-count frame the estimates are graded
        // against — already one row per key, so the estimate is a
        // NARROW min-of-d lookup into the collected 4096-cell vector
        // (SketchOps.cmsLookupCol). The old probe path re-scanned the
        // 60M raw rows for a distinct, exploded ×d, broadcast-joined
        // and re-grouped: three exchanges and two extra full scans
        // that the 100× (sf10) leg showed dominating the query.
        val exact = li.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("true_count"))
        val est = exact.withColumn("est_count",
          SketchOps.cmsLookupCol(SketchOps.cmsCells(sk, d, w), col("l_partkey"), d, w))
        val wk = Window.orderBy(col("est_count").desc, col("l_partkey").asc)
        est
          .withColumn("__rn", row_number().over(wk))
          .filter(col("__rn") <= 25)
          .drop("__rn")
          .select(col("l_partkey").as("part_key"),
            col("est_count"), col("true_count"),
            (col("est_count") - col("true_count")).as("overshoot"))
      },
      Some {
        val d = 4
        val w = 1024
        val h1 = oHash32At("CAST(l_partkey AS VARCHAR)", 0)
        val h2 = oHash32At("CAST(l_partkey AS VARCHAR)", 8)
        s"""
        WITH rows_d AS (SELECT UNNEST(RANGE(0, $d)) AS r),
        keyed AS (
          SELECT l_partkey, $h1 AS h1, ($h2 % ${w - 1}) + 1 AS h2 FROM lineitem
        ),
        cells AS (
          SELECT r, (h1 + r * h2) % $w AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM keyed CROSS JOIN rows_d
          GROUP BY 1, 2
        ),
        probes AS (SELECT DISTINCT l_partkey, h1, h2 FROM keyed),
        pb AS (
          SELECT l_partkey, r, (h1 + r * h2) % $w AS bucket
          FROM probes CROSS JOIN rows_d
        ),
        est AS (
          SELECT pb.l_partkey, MIN(COALESCE(c.cnt, 0)) AS est_count
          FROM pb LEFT JOIN cells c ON pb.r = c.r AND pb.bucket = c.bucket
          GROUP BY 1
        ),
        exact AS (
          SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS true_count
          FROM lineitem GROUP BY 1
        )
        SELECT e.l_partkey AS part_key, e.est_count, x.true_count,
          e.est_count - x.true_count AS overshoot
        FROM est e JOIN exact x USING (l_partkey)
        QUALIFY ROW_NUMBER() OVER (ORDER BY e.est_count DESC, e.l_partkey ASC) <= 25
      """
      }
    ),
    // Space-Saving heavy hitters (functions/SpaceSavingAggregator):
    // bounded-memory mergeable top-k frequency over a ~600-key skewed
    // stream with k=64 counters. Estimates are merge-order-dependent
    // (inherent), so the oracle follows the percentile_approx
    // discipline: the output is the deterministic guaranteed-heavy
    // set (64*count > N) with its EXACT counts, plus the two flags
    // the sketch guarantees — tracked (freq > N/k items must be in
    // the summary) and count-err <= true <= count. A guarantee
    // violation flips a flag and fails the hash gate; the noisy
    // estimates never enter the compare.
    QueryDef(
      "q_spacesaving_heavy_hitters",
      (s, dir) => {
        val keyExpr = expr(
          """CASE WHEN length(CAST(l_partkey AS STRING)) >= 4
               THEN concat('d', length(CAST(l_partkey AS STRING)), '-', l_returnflag)
               ELSE concat('d', length(CAST(l_partkey AS STRING)), '-', l_returnflag,
                           '-', CAST(l_partkey % 97 AS STRING)) END""")
        val keyed = Tables(s, dir).lineitem.select(keyExpr.as("key"))
        val sketch = keyed
          .agg(graft.functions.SpaceSavingAggregator.spaceSaving(64, col("key")).as("s"))
          .select(explode(arrays_zip(col("s.items"), col("s.counts"), col("s.errs"))).as("z"))
          .select(col("z.items").as("key"), col("z.counts").as("est"), col("z.errs").as("err"))
        val exact = keyed.groupBy("key").agg(count(lit(1)).as("cnt"))
        val total = exact.agg(sum(col("cnt")).as("n"))
        exact
          .crossJoin(broadcast(total))
          .filter(col("cnt") * 64 > col("n"))
          .join(sketch, Seq("key"), "left")
          .select(
            col("key"),
            col("cnt"),
            col("est").isNotNull.as("tracked"),
            (col("est").isNotNull && col("est") >= col("cnt") &&
              col("est") - col("err") <= col("cnt")).as("bound_ok"))
      },
      Some("""
        WITH keyed AS (
          SELECT CASE WHEN length(CAST(l_partkey AS VARCHAR)) >= 4
            THEN 'd' || length(CAST(l_partkey AS VARCHAR)) || '-' || l_returnflag
            ELSE 'd' || length(CAST(l_partkey AS VARCHAR)) || '-' || l_returnflag
                 || '-' || CAST(l_partkey % 97 AS VARCHAR) END AS key
          FROM lineitem
        ),
        ex AS (SELECT key, COUNT(*) AS cnt FROM keyed GROUP BY 1),
        n AS (SELECT SUM(cnt) AS t FROM ex)
        SELECT key, CAST(cnt AS BIGINT) AS cnt, TRUE AS tracked, TRUE AS bound_ok
        FROM ex, n WHERE 64 * cnt > t
      """)
    )
  )
}
