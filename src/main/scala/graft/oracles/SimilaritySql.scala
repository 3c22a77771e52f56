package graft.oracles

import graft.operators

/** DuckDB oracle SQL for the embedding similarity / ANN / near-dup tier — split out of SparkEntry
  * verbatim (round-11 registry hygiene). SparkEntry.oracleSql concatenates
  * the per-domain maps; keys stay globally unique. The split commit moved
  * strings unchanged; two entries in THIS file were rewritten later in the
  * same round (q_hard_negatives, q_knn_label_noise — %17 anchor sample +
  * list_dot_product, for decade tractability), so only the split commit
  * itself is byte-identical to the pre-split map.
  */
object SimilaritySql {

  /** Shared CTE chains for the round-11 bucketed-miner oracles — the SAME
    * unrolled integer k-means as q_ann_ivf_gated (md5-ordered 20k sample,
    * spaced init, 5 Lloyd's rounds over fixed-point +16384-offset BIGINTs),
    * extended with top-2 NEAR probes (rk <= 2 over (d, cid)) and top-2 FAR
    * probes (the reflected vector 32768 − qv: min dot ≡ nearest of −v), plus
    * the ·10⁶ list_dot_product scoring frame (exact: integer dot products
    * stay below 2^53, representable in DOUBLE in any summation order).
    */
  private val ivfFitCte: String = {
    val iters = (1 to 5).map { i =>
      s"""a$i AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
         |        FROM slong l JOIN c${i - 1} c ON c.i = l.i GROUP BY 1, 2),
         |b$i AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |          FROM a$i) WHERE rk = 1),
         |m$i AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
         |        FROM b$i b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),
         |c$i AS (SELECT c.cid, c.i, COALESCE(m.qv, c.qv) AS qv
         |        FROM c${i - 1} c LEFT JOIN m$i m ON m.cid = c.cid AND m.i = c.i),""".stripMargin
    }.mkString("\n")
    s"""q AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
       |              AS BIGINT) + 16384 AS qv
       |  FROM embeddings),
       |sample AS (SELECT vec_id FROM embeddings
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
       |slong AS (SELECT q.* FROM q JOIN sample USING (vec_id)),
       |tiles AS (SELECT vec_id, ntile(16) OVER (ORDER BY vec_id) AS t FROM sample),
       |chosen AS (SELECT t, min(vec_id) AS v FROM tiles GROUP BY t),
       |c0 AS (SELECT t - 1 AS cid, l.i, l.qv
       |       FROM chosen JOIN slong l ON l.vec_id = chosen.v),
       |$iters""".stripMargin
  }

  private val ivfProbesCte: String =
    """afn AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
      |        FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
      |bfn AS (SELECT vec_id, cid FROM (
      |          SELECT vec_id, cid,
      |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
      |          FROM afn) WHERE rk <= 2),
      |aff AS (SELECT l.vec_id, c.cid,
      |          sum((32768 - l.qv - c.qv) * (32768 - l.qv - c.qv)) AS d
      |        FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
      |bff AS (SELECT vec_id, cid FROM (
      |          SELECT vec_id, cid,
      |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
      |          FROM aff) WHERE rk <= 2),
      |v6 AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding, x ->
      |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n6 AS (SELECT vec_id, label, qv,
      |       CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM v6),""".stripMargin

  /** near+far probe candidates (hard-negative miner). `anchorPred` pushes
    * the output anchor sample INTO candidate generation (anchors are
    * independent, so filtering early is value-identical and cuts the
    * decade oracle's pair volume 17×).
    */
  private def ivfCandFarCte(anchorPred: String = ""): String =
    s"""cand AS (SELECT DISTINCT p.vec_id AS a_id, m.vec_id AS b_id
      |         FROM (SELECT vec_id, cid FROM bfn UNION SELECT vec_id, cid FROM bff) p
      |         JOIN bfn m USING (cid) WHERE p.vec_id <> m.vec_id$anchorPred),""".stripMargin

  /** near-only probe candidates (kNN miner + edge recall) */
  private val ivfCandNearCte: String =
    """cand AS (SELECT DISTINCT p.vec_id AS a_id, m.vec_id AS b_id
      |         FROM bfn p JOIN bfn m USING (cid) WHERE p.vec_id <> m.vec_id),""".stripMargin

  /** candidate-pair exact-integer cosine scoring */
  private val ivfScCte: String =
    """sc AS (SELECT a_id, va.label AS a_label, b_id, vb.label AS b_label,
      |         floor(CAST(CAST(list_dot_product(va.qv, vb.qv) AS BIGINT) AS DOUBLE)
      |               / (sqrt(CAST(va.n2 AS DOUBLE)) * sqrt(CAST(vb.n2 AS DOUBLE)))
      |               * 10000.0 + 0.5) / 10000.0 AS cos
      |       FROM cand JOIN n6 va ON a_id = va.vec_id
      |       JOIN n6 vb ON b_id = vb.vec_id),""".stripMargin

  /** exact all-pairs scoring (the recall queries' truth leg); `anchorPred`
    * pushes an anchor-side sample into the n² join — value-identical
    * (anchors are independent), 17× less decade work.
    */
  private def ivfSceCte(anchorPred: String = ""): String =
    s"""sce AS (SELECT a.vec_id AS a_id, a.label AS a_label,
      |         b.vec_id AS b_id, b.label AS b_label,
      |         floor(CAST(CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS DOUBLE)
      |               / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
      |               * 10000.0 + 0.5) / 10000.0 AS cos
      |       FROM n6 a JOIN n6 b ON a.vec_id <> b.vec_id$anchorPred),""".stripMargin

  /** Per-subspace PQ fit + assignment CTE chain (round 11): the SAME
    * md5-sampled spaced-init integer k-means as the gated IVF oracles, but
    * DROP-EMPTY (the `Ivf.lloyd` Drop rule) and run independently per
    * 16-dim subspace. Emits, per subspace s: sl{s}
    * (sample sub-dims), c0_{s}..c5_{s} (fit), af_{s}/bf_{s} (corpus
    * assignment, ties to lowest cid) and e{s} (per-vector integer squared
    * reconstruction error).
    */
  private def pqCtes(codes: Int): String = {
    val subs = (0 until 4).map { s =>
      val lo = s * 16 + 1; val hi = (s + 1) * 16
      val iters = (1 to 5).map { i =>
        s"""a${i}_$s AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
           |        FROM sl$s l JOIN c${i - 1}_$s c ON c.i = l.i GROUP BY 1, 2),
           |b${i}_$s AS (SELECT vec_id, cid FROM (
           |          SELECT vec_id, cid,
           |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
           |          FROM a${i}_$s) WHERE rk = 1),
           |c${i}_$s AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
           |        FROM b${i}_$s b JOIN sl$s l ON l.vec_id = b.vec_id GROUP BY 1, 2),""".stripMargin
      }.mkString("\n")
      s"""sl$s AS (SELECT * FROM slong WHERE i BETWEEN $lo AND $hi),
         |c0_$s AS (SELECT t - 1 AS cid, l.i, l.qv
         |       FROM chosen JOIN sl$s l ON l.vec_id = chosen.v),
         |$iters
         |qs$s AS (SELECT * FROM q WHERE i BETWEEN $lo AND $hi),
         |af_$s AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
         |       FROM qs$s l JOIN c5_$s c ON c.i = l.i GROUP BY 1, 2),
         |bf_$s AS (SELECT vec_id, cid FROM (
         |         SELECT vec_id, cid,
         |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |         FROM af_$s) WHERE rk = 1),
         |e$s AS (SELECT l.vec_id, b.cid,
         |         CAST(sum((l.qv - c.qv) * (l.qv - c.qv)) AS BIGINT) AS err
         |       FROM qs$s l JOIN bf_$s b ON b.vec_id = l.vec_id
         |       JOIN c5_$s c ON c.cid = b.cid AND c.i = l.i GROUP BY 1, 2),""".stripMargin
    }.mkString("\n")
    s"""q AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
       |              AS BIGINT) + 16384 AS qv
       |  FROM embeddings),
       |sample AS (SELECT vec_id FROM embeddings
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
       |slong AS (SELECT q.* FROM q JOIN sample USING (vec_id)),
       |tiles AS (SELECT vec_id, ntile($codes) OVER (ORDER BY vec_id) AS t FROM sample),
       |chosen AS (SELECT t, min(vec_id) AS v FROM tiles GROUP BY t),
       |$subs""".stripMargin
  }

  /** Full IVFPQ oracle chain (round 11): the coarse fit/assignment CTEs
    * ([[ivfFitCte]] verbatim: q/sample/slong/tiles/chosen/c0..c5 + af/bf),
    * per-vector RESIDUAL long rows, 4 per-subspace drop-empty PQ fits over
    * the sampled residual sub-vectors (ntile(codes) spaced init — its own
    * tiles8/chosen8), corpus sub-code assignments carrying the coarse
    * cell, the probe's nprobe cells, PER-CELL probe residuals, per-cell
    * ADC tables, and the ADC sum with the all-subspaces guard.
    */
  private def ivfPqCtes(codes: Int, nprobe: Int): String = {
    val subs = (0 until 4).map { s =>
      val lo = s * 16 + 1; val hi = (s + 1) * 16
      val iters = (1 to 5).map { i =>
        s"""ra${i}_$s AS (SELECT l.vec_id, c.cid, sum((l.rv - c.qv) * (l.rv - c.qv)) AS d
           |        FROM rsl$s l JOIN rc${i - 1}_$s c ON c.i = l.i GROUP BY 1, 2),
           |rb${i}_$s AS (SELECT vec_id, cid FROM (
           |          SELECT vec_id, cid,
           |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
           |          FROM ra${i}_$s) WHERE rk = 1),
           |rc${i}_$s AS (SELECT b.cid, l.i, CAST(sum(l.rv) // count(*) AS BIGINT) AS qv
           |        FROM rb${i}_$s b JOIN rsl$s l ON l.vec_id = b.vec_id GROUP BY 1, 2),""".stripMargin
      }.mkString("\n")
      s"""rsl$s AS MATERIALIZED (SELECT rl.* FROM rl JOIN sample USING (vec_id)
         |         WHERE i BETWEEN $lo AND $hi),
         |rc0_$s AS (SELECT t - 1 AS cid, l.i, l.rv AS qv
         |       FROM chosen8 JOIN rsl$s l ON l.vec_id = chosen8.v),
         |$iters
         |raf_$s AS (SELECT l.vec_id, min(l.cell) AS cell, c.cid,
         |         sum((l.rv - c.qv) * (l.rv - c.qv)) AS d
         |       FROM rl l JOIN rc5_$s c ON c.i = l.i
         |       WHERE l.i BETWEEN $lo AND $hi GROUP BY l.vec_id, c.cid),
         |rbf_$s AS (SELECT vec_id, cell, cid FROM (
         |         SELECT vec_id, cell, cid,
         |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |         FROM raf_$s) WHERE rk = 1),
         |dt_$s AS (SELECT prl.cell, c.cid,
         |         CAST(sum((prl.prv - c.qv) * (prl.prv - c.qv)) AS BIGINT) AS d
         |       FROM prl JOIN rc5_$s c ON c.i = prl.i GROUP BY 1, 2),""".stripMargin
    }.mkString("\n")
    // coarse chain: DROP-EMPTY fit (cc_i = means only — mirrors Spark's
    // `Ivf.lloyd` Drop rule; this query pins the drop-empty rule)
    val coarseIters = (1 to 5).map { i =>
      s"""ca$i AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
         |        FROM slong l JOIN cc${i - 1} c ON c.i = l.i GROUP BY 1, 2),
         |cb$i AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |          FROM ca$i) WHERE rk = 1),
         |cc$i AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
         |        FROM cb$i b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),""".stripMargin
    }.mkString("\n")
    s"""q AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
       |              AS BIGINT) + 16384 AS qv
       |  FROM embeddings),
       |sample AS (SELECT vec_id FROM embeddings
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
       |slong AS MATERIALIZED (SELECT q.* FROM q JOIN sample USING (vec_id)),
       |tiles AS (SELECT vec_id, ntile(16) OVER (ORDER BY vec_id) AS t FROM sample),
       |chosen AS (SELECT t, min(vec_id) AS v FROM tiles GROUP BY t),
       |cc0 AS (SELECT t - 1 AS cid, l.i, l.qv
       |       FROM chosen JOIN slong l ON l.vec_id = chosen.v),
       |$coarseIters
       |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
       |       FROM q l JOIN cc5 c ON c.i = l.i GROUP BY 1, 2),
       |bf AS (SELECT vec_id, cid FROM (
       |         SELECT vec_id, cid,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
       |         FROM af) WHERE rk = 1),
       |rl AS MATERIALIZED (SELECT l.vec_id, b.cid AS cell, l.i, l.qv - c.qv AS rv
       |       FROM q l JOIN bf b USING (vec_id)
       |       JOIN cc5 c ON c.cid = b.cid AND c.i = l.i),
       |tiles8 AS (SELECT vec_id, ntile($codes) OVER (ORDER BY vec_id) AS t
       |           FROM sample),
       |chosen8 AS (SELECT t, min(vec_id) AS v FROM tiles8 GROUP BY t),
       |pd AS (SELECT c.cid, sum((c.qv - p.qv) * (c.qv - p.qv)) AS d
       |       FROM cc5 c JOIN q p ON p.i = c.i AND p.vec_id = 0 GROUP BY 1),
       |pl AS (SELECT cid FROM (SELECT cid,
       |         row_number() OVER (ORDER BY d, cid) AS rk FROM pd)
       |       WHERE rk <= $nprobe),
       |prl AS MATERIALIZED (SELECT cc5.cid AS cell, cc5.i, p.qv - cc5.qv AS prv
       |        FROM cc5 JOIN q p ON p.i = cc5.i AND p.vec_id = 0
       |        JOIN pl ON pl.cid = cc5.cid),
       |$subs""".stripMargin
  }

  /** Round-12 generalized carry-fit chain — [[ivfFitCte]]'s exact
    * arithmetic (md5 sample, spaced ntile init, 5 carry Lloyd's rounds)
    * with the sample predicate and the ntile argument parameterized:
    * `sampleWhere` restricts the training corpus (incremental maintenance
    * fits on yesterday's vectors only) and `ntileArg` lets the adaptive
    * query derive k from a scalar subquery. `ivfFitCte` itself stays
    * byte-frozen (its strings are pinned by the round-11 oracles).
    */
  private def ivfFitCteGen(sampleWhere: String, ntileArg: String,
                           carry: Boolean = true): String = {
    val iters = (1 to 5).map { i =>
      if (carry)
        s"""a$i AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
           |        FROM slong l JOIN c${i - 1} c ON c.i = l.i GROUP BY 1, 2),
           |b$i AS (SELECT vec_id, cid FROM (
           |          SELECT vec_id, cid,
           |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
           |          FROM a$i) WHERE rk = 1),
           |m$i AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
           |        FROM b$i b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),
           |c$i AS (SELECT c.cid, c.i, COALESCE(m.qv, c.qv) AS qv
           |        FROM c${i - 1} c LEFT JOIN m$i m ON m.cid = c.cid AND m.i = c.i),""".stripMargin
      else
        s"""a$i AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
           |        FROM slong l JOIN c${i - 1} c ON c.i = l.i GROUP BY 1, 2),
           |b$i AS (SELECT vec_id, cid FROM (
           |          SELECT vec_id, cid,
           |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
           |          FROM a$i) WHERE rk = 1),
           |c$i AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
           |        FROM b$i b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),""".stripMargin
    }.mkString("\n")
    s"""q AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
       |              AS BIGINT) + 16384 AS qv
       |  FROM embeddings),
       |sample AS (SELECT vec_id FROM embeddings $sampleWhere
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
       |slong AS (SELECT q.* FROM q JOIN sample USING (vec_id)),
       |tiles AS (SELECT vec_id, ntile($ntileArg) OVER (ORDER BY vec_id) AS t FROM sample),
       |chosen AS (SELECT t, min(vec_id) AS v FROM tiles GROUP BY t),
       |c0 AS (SELECT t - 1 AS cid, l.i, l.qv
       |       FROM chosen JOIN slong l ON l.vec_id = chosen.v),
       |$iters""".stripMargin
  }

  /** Round-12b PREFIXED carry-fit chain — [[ivfFitCteGen]]'s exact
    * arithmetic with every CTE name prefixed so TWO independent fits can
    * coexist in one statement (the refit-on-drift oracle fits yesterday's
    * corpus AND the full corpus). Assumes the shared `q` long-form CTE is
    * already defined by the surrounding chain.
    */
  private def ivfFitCtePfx(p: String, sampleWhere: String,
                           ntileArg: String): String = {
    val iters = (1 to 5).map { i =>
      s"""${p}a$i AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
         |        FROM ${p}slong l JOIN ${p}c${i - 1} c ON c.i = l.i GROUP BY 1, 2),
         |${p}b$i AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |          FROM ${p}a$i) WHERE rk = 1),
         |${p}m$i AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
         |        FROM ${p}b$i b JOIN ${p}slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),
         |${p}c$i AS (SELECT c.cid, c.i, COALESCE(m.qv, c.qv) AS qv
         |        FROM ${p}c${i - 1} c LEFT JOIN ${p}m$i m ON m.cid = c.cid AND m.i = c.i),""".stripMargin
    }.mkString("\n")
    s"""${p}sample AS (SELECT vec_id FROM embeddings $sampleWhere
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
       |${p}slong AS (SELECT q.* FROM q JOIN ${p}sample USING (vec_id)),
       |${p}tiles AS (SELECT vec_id, ntile($ntileArg) OVER (ORDER BY vec_id) AS t
       |              FROM ${p}sample),
       |${p}chosen AS (SELECT t, min(vec_id) AS v FROM ${p}tiles GROUP BY t),
       |${p}c0 AS (SELECT t - 1 AS cid, l.i, l.qv
       |       FROM ${p}chosen JOIN ${p}slong l ON l.vec_id = ${p}chosen.v),
       |$iters""".stripMargin
  }

  /** Round-12 build/serve IVFPQ oracle chain: [[ivfPqCtes]]'s fit verbatim
    * (drop-empty coarse + residual + 4 drop-empty PQ subspace fits + corpus
    * code assignments) with the single-probe tail replaced by a PROBE
    * BATCH — per probe p (vec_id < nProbes) the nprobe nearest cells, the
    * probe's per-cell residual, and per-(p, cell, subspace) ADC tables.
    */
  private def ivfPqServedCtes(codes: Int, nprobe: Int, nProbes: Int): String = {
    val subs = (0 until 4).map { s =>
      val lo = s * 16 + 1; val hi = (s + 1) * 16
      val iters = (1 to 5).map { i =>
        s"""ra${i}_$s AS (SELECT l.vec_id, c.cid, sum((l.rv - c.qv) * (l.rv - c.qv)) AS d
           |        FROM rsl$s l JOIN rc${i - 1}_$s c ON c.i = l.i GROUP BY 1, 2),
           |rb${i}_$s AS (SELECT vec_id, cid FROM (
           |          SELECT vec_id, cid,
           |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
           |          FROM ra${i}_$s) WHERE rk = 1),
           |rc${i}_$s AS (SELECT b.cid, l.i, CAST(sum(l.rv) // count(*) AS BIGINT) AS qv
           |        FROM rb${i}_$s b JOIN rsl$s l ON l.vec_id = b.vec_id GROUP BY 1, 2),""".stripMargin
      }.mkString("\n")
      s"""rsl$s AS MATERIALIZED (SELECT rl.* FROM rl JOIN sample USING (vec_id)
         |         WHERE i BETWEEN $lo AND $hi),
         |rc0_$s AS (SELECT t - 1 AS cid, l.i, l.rv AS qv
         |       FROM chosen8 JOIN rsl$s l ON l.vec_id = chosen8.v),
         |$iters
         |raf_$s AS (SELECT l.vec_id, min(l.cell) AS cell, c.cid,
         |         sum((l.rv - c.qv) * (l.rv - c.qv)) AS d
         |       FROM rl l JOIN rc5_$s c ON c.i = l.i
         |       WHERE l.i BETWEEN $lo AND $hi GROUP BY l.vec_id, c.cid),
         |rbf_$s AS (SELECT vec_id, cell, cid FROM (
         |         SELECT vec_id, cell, cid,
         |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |         FROM raf_$s) WHERE rk = 1),
         |dt_$s AS (SELECT prl.p_id, prl.cell, c.cid,
         |         CAST(sum((prl.prv - c.qv) * (prl.prv - c.qv)) AS BIGINT) AS d
         |       FROM prl JOIN rc5_$s c ON c.i = prl.i GROUP BY 1, 2, 3),""".stripMargin
    }.mkString("\n")
    val coarseIters = (1 to 5).map { i =>
      s"""ca$i AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
         |        FROM slong l JOIN cc${i - 1} c ON c.i = l.i GROUP BY 1, 2),
         |cb$i AS (SELECT vec_id, cid FROM (
         |          SELECT vec_id, cid,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |          FROM ca$i) WHERE rk = 1),
         |cc$i AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
         |        FROM cb$i b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),""".stripMargin
    }.mkString("\n")
    s"""q AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
       |              AS BIGINT) + 16384 AS qv
       |  FROM embeddings),
       |sample AS (SELECT vec_id FROM embeddings
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
       |slong AS MATERIALIZED (SELECT q.* FROM q JOIN sample USING (vec_id)),
       |tiles AS (SELECT vec_id, ntile(16) OVER (ORDER BY vec_id) AS t FROM sample),
       |chosen AS (SELECT t, min(vec_id) AS v FROM tiles GROUP BY t),
       |cc0 AS (SELECT t - 1 AS cid, l.i, l.qv
       |       FROM chosen JOIN slong l ON l.vec_id = chosen.v),
       |$coarseIters
       |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
       |       FROM q l JOIN cc5 c ON c.i = l.i GROUP BY 1, 2),
       |bf AS (SELECT vec_id, cid FROM (
       |         SELECT vec_id, cid,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
       |         FROM af) WHERE rk = 1),
       |rl AS MATERIALIZED (SELECT l.vec_id, b.cid AS cell, l.i, l.qv - c.qv AS rv
       |       FROM q l JOIN bf b USING (vec_id)
       |       JOIN cc5 c ON c.cid = b.cid AND c.i = l.i),
       |tiles8 AS (SELECT vec_id, ntile($codes) OVER (ORDER BY vec_id) AS t
       |           FROM sample),
       |chosen8 AS (SELECT t, min(vec_id) AS v FROM tiles8 GROUP BY t),
       |pd AS (SELECT p.vec_id AS p_id, c.cid, sum((c.qv - p.qv) * (c.qv - p.qv)) AS d
       |       FROM cc5 c JOIN q p ON p.i = c.i AND p.vec_id < $nProbes
       |       GROUP BY 1, 2),
       |pl AS (SELECT p_id, cid FROM (SELECT p_id, cid,
       |         row_number() OVER (PARTITION BY p_id ORDER BY d, cid) AS rk FROM pd)
       |       WHERE rk <= $nprobe),
       |prl AS MATERIALIZED (SELECT pl.p_id, cc5.cid AS cell, cc5.i,
       |          p.qv - cc5.qv AS prv
       |        FROM pl JOIN cc5 ON cc5.cid = pl.cid
       |        JOIN q p ON p.i = cc5.i AND p.vec_id = pl.p_id),
       |$subs""".stripMargin
  }

  /** The JL sign matrix inlined as a VALUES list — same md5-derived
    * literals as the Spark builder ([[graft.operators.Similarity.rpSign]]).
    */
  private def rpSignValues(m: Int): String =
    (for (j <- 0 until m; i <- 1 to 64)
      yield s"($j,$i,${graft.operators.Similarity.rpSign(j, i - 1)})")
      .grouped(8).map(_.mkString(",")).mkString(",\n        ")

  val sql: Map[String, String] = Map(
    "q_ann_ivf_pq_served" ->
      s"""WITH ${ivfPqServedCtes(8, 4, 8)}
        |adcu AS (
        |  SELECT dt_0.p_id, b.vec_id, dt_0.d FROM rbf_0 b
        |    JOIN dt_0 ON dt_0.cell = b.cell AND dt_0.cid = b.cid
        |  UNION ALL SELECT dt_1.p_id, b.vec_id, dt_1.d FROM rbf_1 b
        |    JOIN dt_1 ON dt_1.cell = b.cell AND dt_1.cid = b.cid
        |  UNION ALL SELECT dt_2.p_id, b.vec_id, dt_2.d FROM rbf_2 b
        |    JOIN dt_2 ON dt_2.cell = b.cell AND dt_2.cid = b.cid
        |  UNION ALL SELECT dt_3.p_id, b.vec_id, dt_3.d FROM rbf_3 b
        |    JOIN dt_3 ON dt_3.cell = b.cell AND dt_3.cid = b.cid),
        |adc AS (SELECT p_id, vec_id, CAST(sum(d) AS BIGINT) AS adc_dist
        |        FROM adcu WHERE vec_id <> p_id GROUP BY 1, 2
        |        HAVING count(*) = 4)
        |SELECT p_id, vec_id, adc_dist FROM (
        |  SELECT p_id, vec_id, adc_dist,
        |         row_number() OVER (PARTITION BY p_id
        |           ORDER BY adc_dist, vec_id) AS rk FROM adc)
        |WHERE rk <= 10 ORDER BY p_id, adc_dist, vec_id""".stripMargin,

    // round-12b: the served chain with tombstoned vectors (vec_id % 10 = 7)
    // removed from the CANDIDATE corpus — probes still query (erasure
    // removes a vector from the index, not from the query side)
    "q_index_delete_served" ->
      s"""WITH ${ivfPqServedCtes(8, 4, 8)}
        |adcu AS (
        |  SELECT dt_0.p_id, b.vec_id, dt_0.d FROM rbf_0 b
        |    JOIN dt_0 ON dt_0.cell = b.cell AND dt_0.cid = b.cid
        |  UNION ALL SELECT dt_1.p_id, b.vec_id, dt_1.d FROM rbf_1 b
        |    JOIN dt_1 ON dt_1.cell = b.cell AND dt_1.cid = b.cid
        |  UNION ALL SELECT dt_2.p_id, b.vec_id, dt_2.d FROM rbf_2 b
        |    JOIN dt_2 ON dt_2.cell = b.cell AND dt_2.cid = b.cid
        |  UNION ALL SELECT dt_3.p_id, b.vec_id, dt_3.d FROM rbf_3 b
        |    JOIN dt_3 ON dt_3.cell = b.cell AND dt_3.cid = b.cid),
        |adc AS (SELECT p_id, vec_id, CAST(sum(d) AS BIGINT) AS adc_dist
        |        FROM adcu WHERE vec_id <> p_id AND vec_id % 10 <> 7
        |        GROUP BY 1, 2 HAVING count(*) = 4)
        |SELECT p_id, vec_id, adc_dist FROM (
        |  SELECT p_id, vec_id, adc_dist,
        |         row_number() OVER (PARTITION BY p_id
        |           ORDER BY adc_dist, vec_id) AS rk FROM adc)
        |WHERE rk <= 10 ORDER BY p_id, adc_dist, vec_id""".stripMargin,

    // round-12b: filtered vector search — the served chain with an
    // even-label PRE-filter on the candidate stream (all k results satisfy
    // the predicate; probes themselves are unrestricted)
    "q_ann_filtered_served" ->
      s"""WITH ${ivfPqServedCtes(8, 4, 8)}
        |adcu AS (
        |  SELECT dt_0.p_id, b.vec_id, dt_0.d FROM rbf_0 b
        |    JOIN dt_0 ON dt_0.cell = b.cell AND dt_0.cid = b.cid
        |  UNION ALL SELECT dt_1.p_id, b.vec_id, dt_1.d FROM rbf_1 b
        |    JOIN dt_1 ON dt_1.cell = b.cell AND dt_1.cid = b.cid
        |  UNION ALL SELECT dt_2.p_id, b.vec_id, dt_2.d FROM rbf_2 b
        |    JOIN dt_2 ON dt_2.cell = b.cell AND dt_2.cid = b.cid
        |  UNION ALL SELECT dt_3.p_id, b.vec_id, dt_3.d FROM rbf_3 b
        |    JOIN dt_3 ON dt_3.cell = b.cell AND dt_3.cid = b.cid),
        |adc AS (SELECT p_id, vec_id, CAST(sum(d) AS BIGINT) AS adc_dist
        |        FROM adcu WHERE vec_id <> p_id
        |          AND vec_id IN (SELECT vec_id FROM embeddings
        |                         WHERE label % 2 = 0)
        |        GROUP BY 1, 2 HAVING count(*) = 4)
        |SELECT p_id, vec_id, adc_dist FROM (
        |  SELECT p_id, vec_id, adc_dist,
        |         row_number() OVER (PARTITION BY p_id
        |           ORDER BY adc_dist, vec_id) AS rk FROM adc)
        |WHERE rk <= 10 ORDER BY p_id, adc_dist, vec_id""".stripMargin,

    // round-12b: IVFADC+R — the served chain's ADC scores kept to a 50-deep
    // shortlist, then an exact full-precision re-rank to the final top-10
    // (quantization error picks the shortlist, never the final order)
    "q_ann_rerank_served" ->
      s"""WITH ${ivfPqServedCtes(8, 4, 8)}
        |adcu AS (
        |  SELECT dt_0.p_id, b.vec_id, dt_0.d FROM rbf_0 b
        |    JOIN dt_0 ON dt_0.cell = b.cell AND dt_0.cid = b.cid
        |  UNION ALL SELECT dt_1.p_id, b.vec_id, dt_1.d FROM rbf_1 b
        |    JOIN dt_1 ON dt_1.cell = b.cell AND dt_1.cid = b.cid
        |  UNION ALL SELECT dt_2.p_id, b.vec_id, dt_2.d FROM rbf_2 b
        |    JOIN dt_2 ON dt_2.cell = b.cell AND dt_2.cid = b.cid
        |  UNION ALL SELECT dt_3.p_id, b.vec_id, dt_3.d FROM rbf_3 b
        |    JOIN dt_3 ON dt_3.cell = b.cell AND dt_3.cid = b.cid),
        |adc AS (SELECT p_id, vec_id, CAST(sum(d) AS BIGINT) AS adc_dist
        |        FROM adcu WHERE vec_id <> p_id GROUP BY 1, 2
        |        HAVING count(*) = 4),
        |short AS (SELECT p_id, vec_id, adc_dist FROM (
        |  SELECT p_id, vec_id, adc_dist,
        |         row_number() OVER (PARTITION BY p_id
        |           ORDER BY adc_dist, vec_id) AS rk FROM adc)
        |  WHERE rk <= 50),
        |ex AS (SELECT s.p_id, s.vec_id, s.adc_dist,
        |         CAST(sum((l.qv - p.qv) * (l.qv - p.qv)) AS BIGINT) AS l2q
        |       FROM short s JOIN q l ON l.vec_id = s.vec_id
        |       JOIN q p ON p.vec_id = s.p_id AND p.i = l.i
        |       GROUP BY 1, 2, 3)
        |SELECT p_id, vec_id, adc_dist, l2q FROM (
        |  SELECT p_id, vec_id, adc_dist, l2q,
        |         row_number() OVER (PARTITION BY p_id
        |           ORDER BY l2q, vec_id) AS rk FROM ex)
        |WHERE rk <= 10 ORDER BY p_id, l2q, vec_id""".stripMargin,

    // round-12b: retention expiry after erasure — the surviving snapshot's
    // content pinned bit-for-bit (rows and checksum = full corpus minus the
    // vec_id % 10 = 7 tombstoned slice; only ONE version remains readable)
    "q_index_expire" ->
      s"""WITH ${ivfPqServedCtes(8, 4, 8)}
        |chk AS (SELECT b0.vec_id AS vec_id, b0.cell AS cell,
        |        b0.cid AS c0, b1.cid AS c1, b2.cid AS c2, b3.cid AS c3
        |        FROM rbf_0 b0 JOIN rbf_1 b1 USING (vec_id)
        |        JOIN rbf_2 b2 USING (vec_id) JOIN rbf_3 b3 USING (vec_id)),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS rows_all,
        |        CAST(sum(cell + c0 + c1 + c2 + c3) AS BIGINT) AS chk_all,
        |        CAST(sum(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n7,
        |        CAST(sum(CASE WHEN vec_id % 10 = 7 THEN cell + c0 + c1 + c2 + c3
        |                 ELSE 0 END) AS BIGINT) AS chk7
        |        FROM chk)
        |SELECT CAST(1 AS BIGINT) AS versions_retained,
        |       rows_all - n7 AS rows_retained,
        |       chk_all - chk7 AS code_checksum
        |FROM agg""".stripMargin,

    // round-12b: compaction report — bookkeeping from the staged lifecycle
    // (base snapshot + the %10=9 arrivals delivered TWICE) plus the exact
    // integer code checksum over the compacted corpus; appended ids carry
    // their source row's embedding, so their (cell, codes) equal the source
    // assignment and the checksum is base + the %10=9 slice
    "q_index_compact" ->
      s"""WITH ${ivfPqServedCtes(8, 4, 8)}
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n9
        |        FROM embeddings),
        |chk AS (SELECT b0.vec_id AS vec_id, b0.cell AS cell,
        |        b0.cid AS c0, b1.cid AS c1, b2.cid AS c2, b3.cid AS c3
        |        FROM rbf_0 b0 JOIN rbf_1 b1 USING (vec_id)
        |        JOIN rbf_2 b2 USING (vec_id) JOIN rbf_3 b3 USING (vec_id)),
        |sums AS (SELECT
        |  CAST(sum(cell + c0 + c1 + c2 + c3) AS BIGINT) AS base_chk,
        |  CAST(sum(CASE WHEN vec_id % 10 = 9 THEN cell + c0 + c1 + c2 + c3
        |           ELSE 0 END) AS BIGINT) AS app_chk
        |  FROM chk)
        |SELECT CAST(3 AS BIGINT) AS versions_in,
        |       n + 2 * n9 AS rows_in,
        |       n9 AS dup_keys,
        |       n + n9 AS rows_out,
        |       base_chk + app_chk AS code_checksum
        |FROM cnt, sums""".stripMargin,

    // round-12b: routing-recall operating curve — the gated carry fit
    // (ivfFitCte verbatim), per-probe ranked cells, ONE scored candidate
    // frame reused by the three sweep values, exact per-probe truth
    "q_ann_recall_curve" ->
      s"""WITH $ivfFitCte
        |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
        |bf AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |         FROM af) WHERE rk = 1),
        |pd AS (SELECT p.vec_id AS p_id, c.cid, sum((c.qv - p.qv) * (c.qv - p.qv)) AS d
        |       FROM c5 c JOIN q p ON p.i = c.i AND p.vec_id < 8 GROUP BY 1, 2),
        |pr AS (SELECT p_id, cid, rk AS cell_rank FROM (
        |         SELECT p_id, cid,
        |                row_number() OVER (PARTITION BY p_id ORDER BY d, cid) AS rk
        |         FROM pd) WHERE rk <= 4),
        |sc AS (SELECT p.vec_id AS p_id, l.vec_id, sum((l.qv - p.qv) * (l.qv - p.qv)) AS d
        |       FROM q l JOIN q p ON p.i = l.i AND p.vec_id < 8
        |         AND l.vec_id <> p.vec_id
        |       GROUP BY 1, 2),
        |truth AS (SELECT p_id, vec_id FROM (
        |         SELECT p_id, vec_id,
        |                row_number() OVER (PARTITION BY p_id ORDER BY d, vec_id) AS rk
        |         FROM sc) WHERE rk <= 10),
        |cand AS (SELECT pr.p_id, b.vec_id, pr.cell_rank, sc.d
        |         FROM bf b JOIN pr ON pr.cid = b.cid
        |         JOIN sc ON sc.p_id = pr.p_id AND sc.vec_id = b.vec_id),
        |sweep AS (SELECT CAST(np AS BIGINT) AS nprobe
        |          FROM (VALUES (1), (2), (4)) s(np)),
        |ivfk AS (SELECT nprobe, p_id, vec_id FROM (
        |         SELECT s.nprobe, c.p_id, c.vec_id,
        |                row_number() OVER (PARTITION BY s.nprobe, c.p_id
        |                  ORDER BY c.d, c.vec_id) AS rk
        |         FROM sweep s JOIN cand c ON c.cell_rank <= s.nprobe)
        |         WHERE rk <= 10),
        |h AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS hits
        |      FROM ivfk JOIN truth USING (p_id, vec_id) GROUP BY 1)
        |SELECT s.nprobe, COALESCE(h.hits, 0) AS hits,
        |       COALESCE(h.hits, 0) * 10000 // 80 AS recall_bp
        |FROM sweep s LEFT JOIN h USING (nprobe) ORDER BY nprobe""".stripMargin,

    "q_ann_ivf_adaptive" ->
      s"""WITH params AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    greatest(4, least(256,
        |      CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))) AS k
        |  FROM embeddings),
        |${ivfFitCteGen("", "(SELECT k FROM params)", carry = false)}
        |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
        |bf AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |         FROM af) WHERE rk = 1),
        |celln AS (SELECT cid, CAST(count(*) AS BIGINT) AS nm FROM bf GROUP BY 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS live_cells, max(nm) AS mx,
        |        CAST(sum(nm * (nm - 1) // 2) AS BIGINT) AS pair_volume
        |        FROM celln)
        |SELECT n AS n_corpus, k AS n_lists, live_cells,
        | mx * 10000 // n AS max_share_bp, pair_volume,
        | pair_volume * 10000 // (n * (n - 1) // 2) AS cand_share_bp
        |FROM agg, params""".stripMargin,

    "q_ivf_incremental" ->
      s"""WITH ${ivfFitCteGen("WHERE vec_id % 10 <> 9", "16")}
        |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
        |bf AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |         FROM af) WHERE rk = 1),
        |asg AS (SELECT vec_id, vec_id % 10 = 9 AS is_new, cid FROM bf),
        |counts AS (SELECT cid,
        |    CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM asg GROUP BY 1),
        |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
        |         AS BIGINT) AS qd
        |  FROM embeddings),
        |sums AS (SELECT cid, is_new, pos, CAST(sum(qd) AS BIGINT) AS s
        |         FROM asg JOIN ex USING (vec_id) GROUP BY 1, 2, 3),
        |aa AS (SELECT cid, pos, s AS sa FROM sums WHERE NOT is_new),
        |bb AS (SELECT cid, pos, s AS sb FROM sums WHERE is_new),
        |drift AS (SELECT cid,
        |    floor(CAST(sum(CAST(sa AS DECIMAL(38,0)) * sb) AS DOUBLE)
        |          / (sqrt(CAST(sum(CAST(sa AS DECIMAL(38,0)) * sa) AS DOUBLE))
        |             * sqrt(CAST(sum(CAST(sb AS DECIMAL(38,0)) * sb) AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS drift_cos
        |  FROM aa JOIN bb USING (cid, pos) GROUP BY cid)
        |SELECT CAST(c.cid AS BIGINT) AS cell_id, n_old, n_new,
        | n_new * 10000 // (n_old + n_new) AS new_share_bp,
        | drift_cos,
        | drift_cos IS NOT NULL AND drift_cos < 0.45 AS refit_flag
        |FROM counts c LEFT JOIN drift d ON d.cid = c.cid
        |ORDER BY cell_id""".stripMargin,

    // round-12b: the drift signal CONSUMED — cells_flagged from the
    // incremental chain (old-corpus carry fit + full-corpus assignment +
    // per-cell drift cosines), then a SECOND prefixed full-corpus fit and
    // the stale-vs-refit assignment delta in the same statement
    "q_ivf_refit_on_drift" ->
      s"""WITH ${ivfFitCteGen("WHERE vec_id % 10 <> 9", "16")}
        |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
        |bf AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |         FROM af) WHERE rk = 1),
        |asg AS (SELECT vec_id, vec_id % 10 = 9 AS is_new, cid FROM bf),
        |counts AS (SELECT cid,
        |    CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM asg GROUP BY 1),
        |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
        |         AS BIGINT) AS qd
        |  FROM embeddings),
        |sums AS (SELECT cid, is_new, pos, CAST(sum(qd) AS BIGINT) AS s
        |         FROM asg JOIN ex USING (vec_id) GROUP BY 1, 2, 3),
        |aa AS (SELECT cid, pos, s AS sa FROM sums WHERE NOT is_new),
        |bb AS (SELECT cid, pos, s AS sb FROM sums WHERE is_new),
        |drift AS (SELECT cid,
        |    floor(CAST(sum(CAST(sa AS DECIMAL(38,0)) * sb) AS DOUBLE)
        |          / (sqrt(CAST(sum(CAST(sa AS DECIMAL(38,0)) * sa) AS DOUBLE))
        |             * sqrt(CAST(sum(CAST(sb AS DECIMAL(38,0)) * sb) AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS drift_cos
        |  FROM aa JOIN bb USING (cid, pos) GROUP BY cid),
        |fl AS (SELECT CAST(sum(CASE WHEN d.drift_cos IS NOT NULL
        |                AND d.drift_cos < 0.45 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS cells_flagged
        |       FROM counts c LEFT JOIN drift d ON d.cid = c.cid),
        |${ivfFitCtePfx("f", "", "16")}
        |faf AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN fc5 c ON c.i = l.i GROUP BY 1, 2),
        |fbf AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |         FROM faf) WHERE rk = 1),
        |mv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |       CAST(sum(CASE WHEN bf.cid <> fbf.cid THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_moved
        |       FROM bf JOIN fbf USING (vec_id)),
        |lo AS (SELECT CAST(count(DISTINCT cid) AS BIGINT) AS live_cells_old
        |       FROM bf),
        |ln AS (SELECT CAST(count(DISTINCT cid) AS BIGINT) AS live_cells_new
        |       FROM fbf)
        |SELECT cells_flagged, cells_flagged > 0 AS refit_triggered,
        |       n_vectors, n_moved, n_moved * 10000 // n_vectors AS moved_bp,
        |       live_cells_old, live_cells_new
        |FROM fl, mv, lo, ln""".stripMargin,

    "q_media_dedup" ->
      """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
        |           FROM documents),
        |ch AS (SELECT doc_id, len,
        |        generate_subscripts(string_split(text, ''), 1) AS i,
        |        ord(unnest(string_split(text, ''))) AS code FROM d),
        |luma AS (SELECT doc_id, (i - 1) * 64 // len AS seg,
        |         CAST(sum(code) AS BIGINT) AS luma
        |         FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(luma) AS BIGINT) AS total
        |        FROM luma GROUP BY 1),
        |grid AS (SELECT doc_id, unnest(generate_series(0, 63)) AS seg FROM d),
        |bits AS (SELECT g.doc_id, g.seg // 8 AS band,
        |         CASE WHEN COALESCE(l.luma, 0) * 64 > t.total
        |              THEN 1 ELSE 0 END AS bit,
        |         ([1,2,4,8,16,32,64,128])[CAST(g.seg % 8 AS INT) + 1] AS w
        |   FROM grid g LEFT JOIN luma l ON l.doc_id = g.doc_id AND l.seg = g.seg
        |   JOIN tot t ON t.doc_id = g.doc_id),
        |bands AS (SELECT doc_id, band, CAST(sum(bit * w) AS BIGINT) AS bv
        |          FROM bits GROUP BY 1, 2),
        |bstat AS (SELECT band, bv, count(*) AS n, min(doc_id) AS anchor
        |          FROM bands GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a_id, b_id FROM (
        |         SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        |         JOIN bstat s ON s.band = a.band AND s.bv = a.bv
        |         WHERE s.n <= 64
        |         UNION ALL
        |         SELECT s.anchor AS a_id, m.doc_id AS b_id
        |         FROM bands m JOIN bstat s ON s.band = m.band AND s.bv = m.bv
        |         WHERE s.n > 64 AND m.doc_id > s.anchor)),
        |ham AS (SELECT c.a_id, c.b_id,
        |          CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
        |        FROM cand c JOIN bands x ON x.doc_id = c.a_id
        |        JOIN bands y ON y.doc_id = c.b_id AND y.band = x.band
        |        GROUP BY 1, 2
        |        HAVING CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) <= 6),
        |dup AS (SELECT b_id, min(a_id) AS dup_of,
        |        min(hamming) AS min_hamming FROM ham GROUP BY 1)
        |SELECT d.doc_id, dup.dup_of IS NOT NULL AS is_dup,
        |       dup.dup_of, dup.min_hamming
        |FROM d LEFT JOIN dup ON dup.b_id = d.doc_id ORDER BY doc_id""".stripMargin,

    "q_fusion_ndcg" ->
      """WITH wl AS (SELECT doc_id, text,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS len
        | FROM documents),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(len) AS BIGINT) AS sum_len FROM wl),
        |tf AS (SELECT doc_id, len, t AS term, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, len, unnest(string_split(lower(text), ' ')) AS t
        |             FROM wl)
        |       WHERE t IN ('join', 'hash', 'scan') GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id,
        |  floor(CAST(sum(CAST(
        |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |             / (CAST(df AS DOUBLE) + 0.5))
        |    * (CAST(tf AS DOUBLE) * 2.2)
        |    / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len AS DOUBLE)
        |         / (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |    AS DECIMAL(28,8))) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS bm25
        | FROM tf JOIN dfreq USING (term) CROSS JOIN st GROUP BY doc_id),
        |lex AS (SELECT doc_id AS id, ra FROM (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS ra
        |  FROM sc WHERE doc_id <> 0) WHERE ra <= 10),
        |v6 AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n6 AS (SELECT vec_id, qv,
        |       CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM v6),
        |pr AS (SELECT qv AS pq, n2 AS pn2 FROM n6 WHERE vec_id = 0),
        |cosd AS (SELECT vec_id,
        |    floor(CAST(CAST(list_dot_product(qv, pq) AS BIGINT) AS DOUBLE)
        |          / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(pn2 AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS cos
        |  FROM n6, pr WHERE vec_id <> 0),
        |dense AS (SELECT vec_id AS id, rb FROM (
        |  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rb
        |  FROM cosd) WHERE rb <= 10),
        |fusedr AS (SELECT COALESCE(lex.id, dense.id) AS id,
        |    floor((COALESCE(1.0 / (60 + ra), 0.0) +
        |           COALESCE(1.0 / (60 + rb), 0.0)) * 10000.0 + 0.5) / 10000.0
        |      AS rrf_score
        |  FROM lex FULL OUTER JOIN dense ON lex.id = dense.id),
        |fused AS (SELECT id, i FROM (
        |  SELECT id, row_number() OVER (ORDER BY rrf_score DESC, id ASC) AS i
        |  FROM fusedr) WHERE i <= 20),
        |lexk AS (SELECT id, ra AS i FROM lex WHERE ra <= 20),
        |densek AS (SELECT id, rb AS i FROM dense WHERE rb <= 20),
        |grel AS (SELECT doc_id AS id,
        |  CASE WHEN
        |   len(list_filter(string_split(lower(text), ' '), x -> x = 'join')) >= 3
        |   AND len(list_filter(string_split(lower(text), ' '), x -> x = 'hash')) >= 3
        |   AND len(list_filter(string_split(lower(text), ' '), x -> x = 'scan')) >= 3
        |  THEN 1 ELSE 0 END AS g_lex
        | FROM documents),
        |srel AS (SELECT id, 1 AS g_sem FROM dense),
        |gain AS (SELECT COALESCE(grel.id, srel.id) AS id,
        |    CAST(COALESCE(g_lex, 0) + COALESCE(g_sem, 0) AS BIGINT) AS gain
        |  FROM grel FULL OUTER JOIN srel ON grel.id = srel.id
        |  WHERE COALESCE(grel.id, srel.id) <> 0),
        |cnts AS (SELECT
        |    CAST(sum(CASE WHEN gain = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2r,
        |    CAST(sum(CASE WHEN gain = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1r
        |  FROM gain),
        |ig AS (SELECT n2r, n1r, unnest(generate_series(1, 20)) AS i FROM cnts),
        |idcg AS (SELECT sum(CAST(
        |    CAST(CASE WHEN i <= n2r THEN 2
        |              WHEN i <= n2r + n1r THEN 1 ELSE 0 END AS DOUBLE)
        |    / log2(CAST(i AS DOUBLE) + 1.0) AS DECIMAL(28,8))) AS idcg FROM ig),
        |dcgs AS (
        |  SELECT 'lex' AS ranking, sum(CAST(
        |    CAST(COALESCE(gain, 0) AS DOUBLE) / log2(CAST(i AS DOUBLE) + 1.0)
        |    AS DECIMAL(28,8))) AS dcg
        |  FROM lexk LEFT JOIN gain USING (id)
        |  UNION ALL
        |  SELECT 'dense', sum(CAST(
        |    CAST(COALESCE(gain, 0) AS DOUBLE) / log2(CAST(i AS DOUBLE) + 1.0)
        |    AS DECIMAL(28,8)))
        |  FROM densek LEFT JOIN gain USING (id)
        |  UNION ALL
        |  SELECT 'fused', sum(CAST(
        |    CAST(COALESCE(gain, 0) AS DOUBLE) / log2(CAST(i AS DOUBLE) + 1.0)
        |    AS DECIMAL(28,8)))
        |  FROM fused LEFT JOIN gain USING (id))
        |SELECT ranking,
        | floor(CAST(dcg AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS dcg,
        | floor(CAST(idcg AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS idcg,
        | floor(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) * 10000.0 + 0.5)
        |   / 10000.0 AS ndcg
        |FROM dcgs CROSS JOIN idcg ORDER BY ranking""".stripMargin,

    "q_interleave" ->
      """WITH dl AS (
        |  SELECT doc_id, text,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS len
        |  FROM documents),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS sum_len FROM dl),
        |tf AS (
        |  SELECT doc_id, len, term, count(*) AS tf FROM (
        |    SELECT doc_id, len, unnest(string_split(lower(text), ' ')) AS term FROM dl) u
        |  WHERE term IN ('join', 'hash', 'scan') GROUP BY doc_id, len, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |s AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
        |              / (CAST(dfq.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
        |    / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.len AS DOUBLE)
        |         / (CAST(st.sum_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))) AS sc
        |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN st),
        |bm AS (SELECT doc_id,
        |  floor(CAST(sum(CAST(sc AS DECIMAL(28,8))) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS bm25
        |  FROM s GROUP BY doc_id),
        |lex AS (SELECT doc_id AS id, ra FROM (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS ra
        |  FROM bm) WHERE ra <= 10),
        |v6 AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n6 AS (SELECT vec_id, qv,
        |       CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM v6),
        |pr AS (SELECT qv AS pq, n2 AS pn2 FROM n6 WHERE vec_id = 0),
        |cosd AS (SELECT vec_id,
        |    floor(CAST(CAST(list_dot_product(qv, pq) AS BIGINT) AS DOUBLE)
        |          / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(pn2 AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS cos
        |  FROM n6, pr WHERE vec_id <> 0),
        |dense AS (SELECT vec_id AS id, rb FROM (
        |  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rb
        |  FROM cosd) WHERE rb <= 10),
        |merged AS (SELECT COALESCE(lex.id, dense.id) AS id,
        |    COALESCE(ra, 11) AS ra, COALESCE(rb, 11) AS rb
        |  FROM lex FULL OUTER JOIN dense ON lex.id = dense.id),
        |sl AS (SELECT *, least(ra, rb) AS entry,
        |    CASE WHEN rb < ra THEN 1 ELSE 0 END AS via_b FROM merged),
        |slotted AS (SELECT *,
        |    row_number() OVER (ORDER BY entry, via_b, id) AS slot FROM sl)
        |SELECT slot, id AS doc_id,
        | CASE WHEN via_b = 0 THEN 'A' ELSE 'B' END AS source,
        | CASE WHEN ra <= 10 THEN ra END AS lex_rank,
        | CASE WHEN rb <= 10 THEN rb END AS dense_rank,
        | rb <= 10 AS relevant
        |FROM slotted ORDER BY slot""".stripMargin,

    "q_ann_ivf_pq" ->
      s"""WITH ${ivfPqCtes(8, 4)}
        |adc AS (SELECT vec_id, CAST(sum(d) AS BIGINT) AS adc_dist,
        |    count(*) AS subs FROM (
        |    SELECT b.vec_id, dt_0.d FROM rbf_0 b JOIN dt_0 USING (cell, cid)
        |    UNION ALL SELECT b.vec_id, dt_1.d FROM rbf_1 b JOIN dt_1 USING (cell, cid)
        |    UNION ALL SELECT b.vec_id, dt_2.d FROM rbf_2 b JOIN dt_2 USING (cell, cid)
        |    UNION ALL SELECT b.vec_id, dt_3.d FROM rbf_3 b JOIN dt_3 USING (cell, cid))
        |  WHERE vec_id <> 0 GROUP BY 1 HAVING count(*) = 4)
        |SELECT vec_id, adc_dist FROM adc
        |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin,

    "q_ivfpq_recall" ->
      s"""WITH ${ivfPqCtes(8, 4)}
        |adc AS (SELECT vec_id, CAST(sum(d) AS BIGINT) AS adc_dist,
        |    count(*) AS subs FROM (
        |    SELECT b.vec_id, dt_0.d FROM rbf_0 b JOIN dt_0 USING (cell, cid)
        |    UNION ALL SELECT b.vec_id, dt_1.d FROM rbf_1 b JOIN dt_1 USING (cell, cid)
        |    UNION ALL SELECT b.vec_id, dt_2.d FROM rbf_2 b JOIN dt_2 USING (cell, cid)
        |    UNION ALL SELECT b.vec_id, dt_3.d FROM rbf_3 b JOIN dt_3 USING (cell, cid))
        |  WHERE vec_id <> 0 GROUP BY 1 HAVING count(*) = 4),
        |got AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 10),
        |t6 AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |nn6 AS (SELECT vec_id, qv,
        |       CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM t6),
        |ppr AS (SELECT qv AS pq, n2 AS pn2 FROM nn6 WHERE vec_id = 0),
        |tcos AS (SELECT vec_id,
        |    floor(CAST(CAST(list_dot_product(qv, pq) AS BIGINT) AS DOUBLE)
        |          / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(pn2 AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS cos
        |  FROM nn6, ppr WHERE vec_id <> 0),
        |truth AS (SELECT vec_id FROM (SELECT vec_id,
        |    row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rk FROM tcos)
        |  WHERE rk <= 10),
        |inprobed AS (SELECT bf.vec_id FROM bf JOIN pl USING (cid)),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        |nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
        |       FROM truth JOIN got USING (vec_id)),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cell_hit
        |       FROM truth JOIN inprobed USING (vec_id))
        |SELECT n_truth, n_hit, n_cell_hit,
        | floor(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
        |       * 10000.0 + 0.5) / 10000.0 AS recall,
        | floor(CAST(n_cell_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
        |       * 10000.0 + 0.5) / 10000.0 AS cell_recall
        |FROM nt, nh, nc""".stripMargin,

    "q_matryoshka_recall" ->
      """WITH v6 AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |sc64 AS (SELECT p.vec_id AS p_id, c.vec_id AS n_id,
        |    floor(CAST(CAST(list_dot_product(c.qv, p.qv) AS BIGINT) AS DOUBLE)
        |          / (sqrt(CAST(CAST(list_dot_product(c.qv, c.qv) AS BIGINT) AS DOUBLE))
        |           * sqrt(CAST(CAST(list_dot_product(p.qv, p.qv) AS BIGINT) AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS cos
        |  FROM v6 p JOIN v6 c ON p.vec_id < 8 AND c.vec_id <> p.vec_id),
        |truth AS (SELECT p_id, n_id FROM (SELECT p_id, n_id,
        |    row_number() OVER (PARTITION BY p_id ORDER BY cos DESC, n_id ASC) AS rk
        |  FROM sc64) WHERE rk <= 10),
        |v16 AS (SELECT vec_id, qv[1:16] AS qv FROM v6),
        |v32 AS (SELECT vec_id, qv[1:32] AS qv FROM v6),
        |sc16 AS (SELECT p.vec_id AS p_id, c.vec_id AS n_id,
        |    floor(CAST(CAST(list_dot_product(c.qv, p.qv) AS BIGINT) AS DOUBLE)
        |          / (sqrt(CAST(CAST(list_dot_product(c.qv, c.qv) AS BIGINT) AS DOUBLE))
        |           * sqrt(CAST(CAST(list_dot_product(p.qv, p.qv) AS BIGINT) AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS cos
        |  FROM v16 p JOIN v16 c ON p.vec_id < 8 AND c.vec_id <> p.vec_id),
        |c16 AS (SELECT p_id, n_id FROM (SELECT p_id, n_id,
        |    row_number() OVER (PARTITION BY p_id ORDER BY cos DESC, n_id ASC) AS rk
        |  FROM sc16) WHERE rk <= 10),
        |sc32 AS (SELECT p.vec_id AS p_id, c.vec_id AS n_id,
        |    floor(CAST(CAST(list_dot_product(c.qv, p.qv) AS BIGINT) AS DOUBLE)
        |          / (sqrt(CAST(CAST(list_dot_product(c.qv, c.qv) AS BIGINT) AS DOUBLE))
        |           * sqrt(CAST(CAST(list_dot_product(p.qv, p.qv) AS BIGINT) AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS cos
        |  FROM v32 p JOIN v32 c ON p.vec_id < 8 AND c.vec_id <> p.vec_id),
        |c32 AS (SELECT p_id, n_id FROM (SELECT p_id, n_id,
        |    row_number() OVER (PARTITION BY p_id ORDER BY cos DESC, n_id ASC) AS rk
        |  FROM sc32) WHERE rk <= 10),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        |h16 AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
        |        FROM truth JOIN c16 USING (p_id, n_id)),
        |h32 AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
        |        FROM truth JOIN c32 USING (p_id, n_id))
        |SELECT * FROM (
        |  SELECT CAST(16 AS BIGINT) AS prefix_dims, CAST(8 AS BIGINT) AS n_probes,
        |    n_truth, n_hit,
        |    floor(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
        |          * 10000.0 + 0.5) / 10000.0 AS recall_at_k
        |  FROM nt, h16
        |  UNION ALL
        |  SELECT CAST(32 AS BIGINT), CAST(8 AS BIGINT), n_truth, n_hit,
        |    floor(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
        |          * 10000.0 + 0.5) / 10000.0
        |  FROM nt, h32)
        |ORDER BY prefix_dims""".stripMargin,

    "q_centroid_drift" ->
      """WITH ex AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    vec_id % 2 = 0 AS even,
        |    generate_subscripts(embedding, 1) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
        |         AS BIGINT) AS q
        |  FROM embeddings),
        |cents AS (SELECT label, even, pos, CAST(sum(q) AS BIGINT) AS s
        |          FROM ex GROUP BY 1, 2, 3),
        |a AS (SELECT label, pos, s AS sa FROM cents WHERE even),
        |b AS (SELECT label, pos, s AS sb FROM cents WHERE NOT even),
        |np AS (SELECT CAST(label AS BIGINT) AS label,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_even,
        |    CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_odd
        |  FROM embeddings GROUP BY 1),
        |dots AS (SELECT label,
        |    sum(CAST(sa AS DECIMAL(38,0)) * sb) AS dab,
        |    sum(CAST(sa AS DECIMAL(38,0)) * sa) AS daa,
        |    sum(CAST(sb AS DECIMAL(38,0)) * sb) AS dbb
        |  FROM a JOIN b USING (label, pos) GROUP BY 1)
        |SELECT label, n_even, n_odd,
        | floor(CAST(dab AS DOUBLE)
        |       / (sqrt(CAST(daa AS DOUBLE)) * sqrt(CAST(dbb AS DOUBLE)))
        |       * 10000.0 + 0.5) / 10000.0 AS centroid_cos
        |FROM dots JOIN np USING (label) ORDER BY label""".stripMargin,

    "q_pq_codebook" ->
      s"""WITH ${pqCtes(8)}
        |u AS (SELECT CAST(0 AS BIGINT) AS subspace, cid, err FROM e0
        |  UNION ALL SELECT 1, cid, err FROM e1
        |  UNION ALL SELECT 2, cid, err FROM e2
        |  UNION ALL SELECT 3, cid, err FROM e3)
        |SELECT subspace, CAST(cid AS BIGINT) AS code,
        | CAST(count(*) AS BIGINT) AS n_members,
        | CAST(sum(err) AS DOUBLE) AS sum_err,
        | floor(CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |       * 10000.0 + 0.5) / 10000.0 AS mean_err
        |FROM u GROUP BY 1, 2 ORDER BY subspace, code""".stripMargin,

    "q_ann_pq" ->
      s"""WITH ${pqCtes(8)}
        |${(0 until 4).map { s =>
          s"""dt$s AS (SELECT c.cid,
           |    CAST(sum((c.qv - p.qv) * (c.qv - p.qv)) AS BIGINT) AS d
           |  FROM c5_$s c JOIN qs$s p ON p.i = c.i AND p.vec_id = 0
           |  GROUP BY 1),""".stripMargin
        }.mkString("\n")}
        |adc AS (SELECT vec_id, sum(d) AS adc_dist FROM (
        |    SELECT b.vec_id, dt0.d FROM bf_0 b JOIN dt0 ON dt0.cid = b.cid
        |    UNION ALL SELECT b.vec_id, dt1.d FROM bf_1 b JOIN dt1 ON dt1.cid = b.cid
        |    UNION ALL SELECT b.vec_id, dt2.d FROM bf_2 b JOIN dt2 ON dt2.cid = b.cid
        |    UNION ALL SELECT b.vec_id, dt3.d FROM bf_3 b JOIN dt3 ON dt3.cid = b.cid)
        |  WHERE vec_id <> 0 GROUP BY 1)
        |SELECT vec_id, CAST(adc_dist AS BIGINT) AS adc_dist
        |FROM adc ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin,

    "q_ivf_cell_stats" ->
      s"""WITH $ivfFitCte
        |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
        |bf AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |         FROM af) WHERE rk = 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bf)
        |SELECT CAST(cid AS BIGINT) AS cell_id,
        |       CAST(count(*) AS BIGINT) AS n_members,
        |       CAST(count(*) * 10000 // n_total AS BIGINT) AS share_bp,
        |       CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS pair_volume
        |FROM bf, tot GROUP BY cid, n_total ORDER BY cell_id""".stripMargin,

    "q_rrf_fusion" ->
      """WITH dl AS (
        |  SELECT doc_id, text,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS len
        |  FROM documents),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS sum_len FROM dl),
        |tf AS (
        |  SELECT doc_id, len, term, count(*) AS tf FROM (
        |    SELECT doc_id, len, unnest(string_split(lower(text), ' ')) AS term FROM dl) u
        |  WHERE term IN ('join', 'hash', 'scan') GROUP BY doc_id, len, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |s AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
        |              / (CAST(dfq.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
        |    / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.len AS DOUBLE)
        |         / (CAST(st.sum_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))) AS sc
        |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN st),
        |bm AS (SELECT doc_id,
        |  floor(CAST(sum(CAST(sc AS DECIMAL(28,8))) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS bm25
        |  FROM s GROUP BY doc_id),
        |lex AS (SELECT doc_id AS id, lex_rank FROM (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
        |  FROM bm) WHERE lex_rank <= 50),
        |v6 AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n6 AS (SELECT vec_id, qv,
        |       CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM v6),
        |pr AS (SELECT qv AS pq, n2 AS pn2 FROM n6 WHERE vec_id = 0),
        |cosd AS (SELECT vec_id,
        |    floor(CAST(CAST(list_dot_product(qv, pq) AS BIGINT) AS DOUBLE)
        |          / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(pn2 AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS cos
        |  FROM n6, pr WHERE vec_id <> 0),
        |dense AS (SELECT vec_id AS id, dense_rank FROM (
        |  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS dense_rank
        |  FROM cosd) WHERE dense_rank <= 50)
        |SELECT COALESCE(lex.id, dense.id) AS doc_id, lex_rank, dense_rank,
        | floor((COALESCE(1.0 / (60 + lex_rank), 0.0) +
        |        COALESCE(1.0 / (60 + dense_rank), 0.0)) * 10000.0 + 0.5)
        |   / 10000.0 AS rrf_score
        |FROM lex FULL OUTER JOIN dense ON lex.id = dense.id
        |ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin,

    "q_random_projection" ->
      s"""WITH v6 AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id % 7 = 0),
        |sgn (j, i, s) AS (VALUES
        |        ${rpSignValues(16)}),
        |ex AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS q
        |       FROM v6),
        |proj AS (SELECT vec_id, j, CAST(sum(q * s) AS BIGINT) AS y
        |         FROM ex JOIN sgn USING (i) GROUP BY 1, 2),
        |pv AS (SELECT vec_id, list(y ORDER BY j) AS yv FROM proj GROUP BY 1),
        |po AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         unnest(a.qv) AS qa, unnest(b.qv) AS qb
        |       FROM v6 a JOIN v6 b ON a.vec_id < b.vec_id),
        |d2o AS (SELECT a_id, b_id,
        |         CAST(sum((qa - qb) * (qa - qb)) AS BIGINT) AS d2o
        |        FROM po GROUP BY 1, 2),
        |pp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         unnest(a.yv) AS ya, unnest(b.yv) AS yb
        |       FROM pv a JOIN pv b ON a.vec_id < b.vec_id),
        |d2p AS (SELECT a_id, b_id,
        |         CAST(sum((ya - yb) * (ya - yb)) AS BIGINT) AS d2p
        |        FROM pp GROUP BY 1, 2),
        |pairs AS (SELECT d2o.a_id, d2o.b_id, d2o, d2p,
        |    floor(CAST(d2p AS DOUBLE) / (16.0 * CAST(d2o AS DOUBLE))
        |          * 10000.0 + 0.5) / 10000.0 AS ratio
        |  FROM d2o JOIN d2p ON d2o.a_id = d2p.a_id AND d2o.b_id = d2p.b_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(d2o) AS DOUBLE) AS sum_d2_orig,
        | CAST(sum(d2p) AS DOUBLE) AS sum_d2_proj,
        | floor(CAST(sum(d2p) AS DOUBLE) / (16.0 * CAST(sum(d2o) AS DOUBLE))
        |       * 10000.0 + 0.5) / 10000.0 AS global_ratio,
        | min(ratio) AS min_ratio, max(ratio) AS max_ratio
        |FROM pairs""".stripMargin,

    "q_hard_negatives_ivf" ->
      s"""WITH $ivfFitCte
        |$ivfProbesCte
        |${ivfCandFarCte(" AND p.vec_id % 17 = 0")}
        |$ivfScCte
        |hn AS (SELECT a_id, a_label, b_id, b_label, cos
        |       FROM (SELECT *, row_number() OVER (PARTITION BY a_id
        |               ORDER BY cos DESC, b_id ASC) AS rn
        |             FROM sc WHERE a_label <> b_label)
        |       WHERE rn = 1),
        |hp AS (SELECT a_id, b_id, cos
        |       FROM (SELECT *, row_number() OVER (PARTITION BY a_id
        |               ORDER BY cos ASC, b_id ASC) AS rn
        |             FROM sc WHERE a_label = b_label)
        |       WHERE rn = 1)
        |SELECT hn.a_id AS vec_id, hn.a_label AS label,
        |       hn.b_id AS hard_neg_id, hn.b_label AS hard_neg_label,
        |       hn.cos AS hard_neg_cos,
        |       hp.b_id AS hard_pos_id, hp.cos AS hard_pos_cos,
        |       floor((hn.cos - hp.cos) * 10000.0 + 0.5) / 10000.0 AS margin
        |FROM hn JOIN hp ON hn.a_id = hp.a_id
        |WHERE hn.a_id % 17 = 0 ORDER BY vec_id""".stripMargin,

    "q_knn_label_noise_ivf" ->
      s"""WITH $ivfFitCte
        |$ivfProbesCte
        |$ivfCandNearCte
        |$ivfScCte
        |knn AS (SELECT a_id, a_label, b_label
        |        FROM (SELECT *, row_number() OVER (PARTITION BY a_id
        |                ORDER BY cos DESC, b_id ASC) AS rk
        |              FROM sc)
        |        WHERE rk <= 5),
        |votes AS (SELECT a_id, a_label, b_label,
        |            CAST(count(*) AS BIGINT) AS v
        |          FROM knn GROUP BY 1, 2, 3),
        |maj AS (SELECT a_id, a_label, b_label AS knn_label
        |        FROM (SELECT *, row_number() OVER (PARTITION BY a_id
        |                ORDER BY v DESC, b_label ASC) AS rn
        |              FROM votes)
        |        WHERE rn = 1)
        |SELECT a_label AS label, CAST(count(*) AS BIGINT) AS n_vectors,
        | CAST(sum(CASE WHEN knn_label <> a_label THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_flagged,
        | floor(CAST(sum(CASE WHEN knn_label <> a_label THEN 1 ELSE 0 END)
        |            AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5)
        |   / 10000.0 AS noise_rate
        |FROM maj GROUP BY a_label ORDER BY label""".stripMargin,

    "q_hard_negatives_recall" ->
      s"""WITH $ivfFitCte
        |$ivfProbesCte
        |${ivfCandFarCte(" AND p.vec_id % 17 = 0")}
        |$ivfScCte
        |${ivfSceCte(" AND a.vec_id % 17 = 0")}
        |xhn AS (SELECT a_id, b_id, cos FROM (SELECT *, row_number() OVER (
        |         PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS rn
        |       FROM sce WHERE a_label <> b_label) WHERE rn = 1),
        |xhp AS (SELECT a_id, b_id, cos FROM (SELECT *, row_number() OVER (
        |         PARTITION BY a_id ORDER BY cos ASC, b_id ASC) AS rn
        |       FROM sce WHERE a_label = b_label) WHERE rn = 1),
        |ihn AS (SELECT a_id, b_id, cos FROM (SELECT *, row_number() OVER (
        |         PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS rn
        |       FROM sc WHERE a_label <> b_label) WHERE rn = 1),
        |ihp AS (SELECT a_id, b_id, cos FROM (SELECT *, row_number() OVER (
        |         PARTITION BY a_id ORDER BY cos ASC, b_id ASC) AS rn
        |       FROM sc WHERE a_label = b_label) WHERE rn = 1),
        |ex AS (SELECT xhn.a_id, xhn.b_id AS x_hn, xhp.b_id AS x_hp,
        |         CAST(floor(xhn.cos * 10000.0 + 0.5) AS BIGINT) AS x_hnc,
        |         CAST(floor(xhp.cos * 10000.0 + 0.5) AS BIGINT) AS x_hpc
        |       FROM xhn JOIN xhp ON xhn.a_id = xhp.a_id WHERE xhn.a_id % 17 = 0),
        |iv AS (SELECT ihn.a_id, ihn.b_id AS i_hn, ihp.b_id AS i_hp,
        |         CAST(floor(ihn.cos * 10000.0 + 0.5) AS BIGINT) AS i_hnc,
        |         CAST(floor(ihp.cos * 10000.0 + 0.5) AS BIGINT) AS i_hpc
        |       FROM ihn JOIN ihp ON ihn.a_id = ihp.a_id WHERE ihn.a_id % 17 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_anchors,
        |  CAST(sum(CASE WHEN i_hn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mined,
        |  CAST(sum(CASE WHEN i_hn = x_hn THEN 1 ELSE 0 END) AS BIGINT) AS n_hn_hit,
        |  CAST(sum(CASE WHEN i_hp = x_hp THEN 1 ELSE 0 END) AS BIGINT) AS n_hp_hit,
        |  CAST(sum(COALESCE(x_hnc - i_hnc, 0)) AS BIGINT) AS hn_regret_bp,
        |  CAST(sum(COALESCE(i_hpc - x_hpc, 0)) AS BIGINT) AS hp_regret_bp,
        |  floor(CAST(sum(CASE WHEN i_hn = x_hn THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS hn_recall,
        |  floor(CAST(sum(CASE WHEN i_hp = x_hp THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS hp_recall
        |FROM ex LEFT JOIN iv USING (a_id)""".stripMargin,

    "q_knn_noise_recall" ->
      s"""WITH $ivfFitCte
        |$ivfProbesCte
        |$ivfCandNearCte
        |${ivfSceCte()}
        |truth AS (SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
        |      ORDER BY cos DESC, b_id ASC) AS rk FROM sce) WHERE rk <= 5),
        |hit AS (SELECT 1 FROM truth JOIN cand USING (a_id, b_id))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
        |       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
        |       (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
        |       floor((SELECT CAST(count(*) AS DOUBLE) FROM hit)
        |             / (SELECT CAST(count(*) AS DOUBLE) FROM truth)
        |             * 10000.0 + 0.5) / 10000.0 AS recall""".stripMargin,

    "q_media_chunk" ->
      """WITH m AS (SELECT doc_id, 1000 + (doc_id * 7919) % 600000 AS duration_ms
        |           FROM documents),
        |c AS (SELECT doc_id, duration_ms,
        |        unnest(generate_series(0, duration_ms - 1, 25000)) AS chunk_start
        |      FROM m)
        |SELECT doc_id, duration_ms, chunk_start // 25000 AS chunk_idx,
        |       chunk_start,
        |       least(chunk_start + 30000, duration_ms) AS chunk_end
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_embed_norm" ->
      """SELECT vec_id,
        | floor(sqrt(list_aggregate(
        |   list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |   'sum')) * 10000.0 + 0.5) / 10000.0 AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_embed_cosine_topk" ->
      """WITH p AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS pv,
        |                  generate_subscripts(embedding, 1) AS i
        |           FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS cv,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings),
        |d AS (SELECT c.vec_id, sum(c.cv * p.pv) AS dp,
        |             sqrt(sum(c.cv * c.cv)) AS cn, sqrt(sum(p.pv * p.pv)) AS pn
        |      FROM c JOIN p USING (i) GROUP BY c.vec_id)
        |SELECT vec_id, floor(dp / (cn * pn) * 10000.0 + 0.5) / 10000.0 AS cos_sim
        |FROM d WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_batch" ->
      """WITH p AS (SELECT vec_id AS probe_id, CAST(unnest(embedding) AS DOUBLE) AS pv,
        |                  generate_subscripts(embedding, 1) AS i
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS cv,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings),
        |d AS (SELECT p.probe_id, c.vec_id, sum(c.cv * p.pv) AS dp,
        |             sqrt(sum(c.cv * c.cv)) AS cn, sqrt(sum(p.pv * p.pv)) AS pn
        |      FROM c JOIN p ON c.i = p.i AND c.vec_id <> p.probe_id
        |      GROUP BY p.probe_id, c.vec_id),
        |r AS (SELECT probe_id, vec_id,
        |             floor(dp / (cn * pn) * 10000.0 + 0.5) / 10000.0 AS cos_sim
        |      FROM d),
        |k AS (SELECT probe_id, vec_id, cos_sim,
        |             row_number() OVER (PARTITION BY probe_id
        |                                ORDER BY cos_sim DESC, vec_id) AS rk
        |      FROM r)
        |SELECT probe_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
        |FROM k WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin,

    "q_knn_classify" ->
      """WITH p AS (SELECT vec_id AS probe_id, CAST(unnest(embedding) AS DOUBLE) AS pv,
        |                  generate_subscripts(embedding, 1) AS i
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS cv,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings),
        |d AS (SELECT p.probe_id, c.vec_id, sum(c.cv * p.pv) AS dp,
        |             sqrt(sum(c.cv * c.cv)) AS cn, sqrt(sum(p.pv * p.pv)) AS pn
        |      FROM c JOIN p ON c.i = p.i AND c.vec_id <> p.probe_id
        |      GROUP BY p.probe_id, c.vec_id),
        |r AS (SELECT probe_id, vec_id,
        |             floor(dp / (cn * pn) * 10000.0 + 0.5) / 10000.0 AS cos_sim
        |      FROM d),
        |k AS (SELECT probe_id, vec_id,
        |             row_number() OVER (PARTITION BY probe_id
        |                                ORDER BY cos_sim DESC, vec_id) AS rk
        |      FROM r),
        |v AS (SELECT k.probe_id, e.label, count(*) AS votes
        |      FROM k JOIN embeddings e ON k.vec_id = e.vec_id
        |      WHERE k.rk <= 5 GROUP BY k.probe_id, e.label),
        |best AS (SELECT probe_id, label AS predicted, votes,
        |                row_number() OVER (PARTITION BY probe_id
        |                                   ORDER BY votes DESC, label) AS rn
        |         FROM v)
        |SELECT b.probe_id, b.predicted, CAST(b.votes AS BIGINT) AS votes,
        |       e.label AS true_label
        |FROM best b JOIN embeddings e ON b.probe_id = e.vec_id
        |WHERE b.rn = 1 ORDER BY b.probe_id""".stripMargin,

    "q_frame_sample" ->
      """WITH m AS (SELECT doc_id, 1 + doc_id % 30 AS n_frames FROM documents),
        |f AS (SELECT doc_id, n_frames,
        |        unnest(generate_series(0, n_frames - 1, 5)) AS frame_idx
        |      FROM m)
        |SELECT doc_id, n_frames, frame_idx,
        | floor(CAST((doc_id * 31 + frame_idx * 7) % 256 AS DOUBLE) / 255.0 * 10000.0 + 0.5) / 10000.0 AS luma_stub
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q_media_resize" ->
      """WITH m AS (SELECT doc_id,
        |             64 + (doc_id * 2654435761) % 512 AS width,
        |             64 + (doc_id * 40503) % 512 AS height
        |           FROM documents)
        |SELECT doc_id, width, height,
        | CAST(greatest(1, floor(width * least(1.0, least(224.0 / width, 224.0 / height)))) AS BIGINT) AS out_w,
        | CAST(greatest(1, floor(height * least(1.0, least(224.0 / width, 224.0 / height)))) AS BIGINT) AS out_h
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_media_embed_stub" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
        |f AS (SELECT doc_id,
        |        (len * 131) % 1000 AS i0,
        |        list_sum(list_transform(range(0, 16),
        |          j -> ((len * 131 + 37 * j) % 1000) * ((len * 131 + 37 * j) % 1000))) AS ss
        |      FROM m)
        |SELECT doc_id, 16 AS dim,
        | floor(CAST(i0 AS DOUBLE) / 1000.0 * 10000.0 + 0.5) / 10000.0 AS feat_0,
        | floor(sqrt(CAST(ss AS DOUBLE)) / 1000.0 * 10000.0 + 0.5) / 10000.0 AS l2
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
        |      ELSE 'webp' END AS media_format,
        | 64 + (doc_id * 2654435761) % 512 AS width,
        | 64 + (doc_id * 40503) % 512 AS height,
        | 1 + doc_id % 30 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_near_dup_editdist" ->
      """WITH d AS (SELECT doc_id, lang, n_chars // 8 AS blk,
        |                  substr(text, 1, 40) AS head
        |           FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 8
        |ORDER BY a_id, b_id""".stripMargin,

    "q_dedup_components_editdist" ->
      """WITH RECURSIVE d AS (SELECT doc_id, lang, n_chars // 8 AS blk,
        |                            substr(text, 1, 40) AS head
        |                     FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM d a JOIN d b ON a.lang = b.lang AND a.blk = b.blk
        |                       AND a.doc_id < b.doc_id
        |      WHERE levenshtein(a.head, b.head) <= 8),
        |e AS (SELECT a_id AS src, b_id AS dst FROM p
        |      UNION SELECT b_id, a_id FROM p),
        |reach AS (
        |  SELECT src AS node, dst AS label FROM e
        |  UNION
        |  SELECT r.node, e2.dst FROM reach r JOIN e e2 ON r.label = e2.src),
        |comp AS (SELECT node, least(node, min(label)) AS component_id
        |         FROM reach GROUP BY node)
        |SELECT doc.doc_id,
        |       coalesce(c.component_id, doc.doc_id) AS component_id,
        |       doc.doc_id = coalesce(c.component_id, doc.doc_id) AS is_canonical
        |FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.node
        |ORDER BY doc.doc_id""".stripMargin,

    "q_ann_ivf_gated" -> {
      // 5 unrolled Lloyd's iterations in long (vec_id, i, qv) form — the
      // same fixed-point offset arithmetic the Spark builder inlines
      val iters = (1 to 5).map { i =>
        s"""|a$i AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |        FROM slong l JOIN c${i - 1} c ON c.i = l.i GROUP BY 1, 2),
        |b$i AS (SELECT vec_id, cid FROM (
        |          SELECT vec_id, cid,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |          FROM a$i) WHERE rk = 1),
        |m$i AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
        |        FROM b$i b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),
        |c$i AS (SELECT c.cid, c.i, COALESCE(m.qv, c.qv) AS qv
        |        FROM c${i - 1} c LEFT JOIN m$i m ON m.cid = c.cid AND m.i = c.i),
        |""".stripMargin.stripSuffix("\n")
      }.mkString("\n")
      s"""WITH q AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
        |              AS BIGINT) + 16384 AS qv
        |  FROM embeddings),
        |sample AS (SELECT vec_id FROM embeddings
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
        |slong AS (SELECT q.* FROM q JOIN sample USING (vec_id)),
        |tiles AS (SELECT vec_id, ntile(16) OVER (ORDER BY vec_id) AS t FROM sample),
        |chosen AS (SELECT t, min(vec_id) AS v FROM tiles GROUP BY t),
        |c0 AS (SELECT t - 1 AS cid, l.i, l.qv
        |       FROM chosen JOIN slong l ON l.vec_id = chosen.v),
        |$iters
        |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
        |bf AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |         FROM af) WHERE rk = 1),
        |pq AS (SELECT i, qv FROM q WHERE vec_id = 0),
        |pd AS (SELECT c.cid, sum((c.qv - p.qv) * (c.qv - p.qv)) AS d
        |       FROM c5 c JOIN pq p ON p.i = c.i GROUP BY 1),
        |pl AS (SELECT cid FROM pd ORDER BY d, cid LIMIT 4),
        |cand AS (SELECT bf.vec_id FROM bf JOIN pl USING (cid) WHERE bf.vec_id <> 0),
        |cd AS (SELECT q.vec_id, CAST(sum((q.qv - p.qv) * (q.qv - p.qv)) AS BIGINT) AS l2q
        |       FROM q JOIN cand USING (vec_id) JOIN pq p ON p.i = q.i GROUP BY 1)
        |SELECT vec_id, l2q FROM cd ORDER BY l2q, vec_id LIMIT 10""".stripMargin
    },

    "q_doc_dedup_minhash_gated" -> {
      // 32 Carter–Wegman minima + 8 band keys, generated once with the
      // SAME md5-derived coefficients the Spark builder inlines
      val P = 2147483647L
      val mins = (0 until 32).map { j =>
        val a = operators.Dedup.cwCoef("a", j, P - 1, 1L)
        val b = operators.Dedup.cwCoef("b", j, P, 0L)
        s"min(($a * h + $b) % $P) AS h$j"
      }.mkString(",\n        |         ")
      val bandCases = (0 until 8).map { bnd =>
        val key = (bnd * 4 until (bnd + 1) * 4)
          .map(j => s"CAST(h$j AS VARCHAR)").mkString(" || '_' || ")
        s"WHEN b = $bnd THEN $key"
      }.mkString("\n        |             ")
      val carryA = (0 until 32).map(j => s"a.h$j AS a_h$j").mkString(", ")
      val carryB = (0 until 32).map(j => s"b.h$j AS b_h$j").mkString(", ")
      val matches = (0 until 32)
        .map(j => s"CASE WHEN a_h$j = b_h$j THEN 1 ELSE 0 END")
        .mkString(" +\n        |        ")
      s"""WITH sh0 AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(1, length(text) - 2)) AS i
        |  FROM documents WHERE length(text) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 3) AS s
        |  FROM sh0),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT) % $P AS h
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |         ${mins}
        |  FROM hs GROUP BY doc_id),
        |bands AS (
        |  SELECT sig.*, b AS band_id,
        |         CASE $bandCases
        |         END AS bkey
        |  FROM sig, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS b)),
        |stats AS (
        |  SELECT band_id, bkey, count(*) AS bn, min(doc_id) AS anchor
        |  FROM bands GROUP BY 1, 2),
        |bs AS (
        |  SELECT bands.*, stats.bn, stats.anchor
        |  FROM bands JOIN stats USING (band_id, bkey)),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, $carryA, $carryB
        |  FROM bs a JOIN bs b
        |    ON a.band_id = b.band_id AND a.bkey = b.bkey
        |   AND a.doc_id < b.doc_id
        |  WHERE a.bn <= 64
        |  UNION
        |  SELECT a.doc_id, b.doc_id, $carryA, $carryB
        |  FROM bs a JOIN bs b
        |    ON a.band_id = b.band_id AND a.bkey = b.bkey
        |  WHERE a.bn > 64 AND a.doc_id = a.anchor AND b.doc_id <> b.anchor)
        |SELECT a_id, b_id,
        |       floor(($matches) / 32.0 * 10000.0 + 0.5) / 10000.0 AS jaccard_est
        |FROM pairs
        |ORDER BY jaccard_est DESC, a_id, b_id LIMIT 20""".stripMargin
    },

    "q_dedup_simhash_gated" -> {
      // 48 sign-sum bit columns + the bit-pack, generated once — the same
      // loop the Spark builder (Dedup.simhashGatedPairs) runs
      val bitSums = (0 until 48).map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n        |         ")
      val pack = (0 until 48).map(b =>
        s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
        .mkString(" +\n        |         ")
      s"""WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |hw AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) AS h
        |  FROM words WHERE w <> ''),
        |sums AS (
        |  SELECT doc_id,
        |         $bitSums
        |  FROM hw GROUP BY doc_id),
        |sigs AS (
        |  SELECT doc_id,
        |         $pack AS sig
        |  FROM sums),
        |chunked AS (
        |  SELECT doc_id, sig, c AS chunk_id, (sig >> (c * 12)) & 4095 AS chunk
        |  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS c)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |                  a.sig AS a_sig, b.sig AS b_sig
        |  FROM chunked a JOIN chunked b
        |    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
        |   AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id,
        |       CAST(bit_count(xor(a_sig, b_sig)) AS BIGINT) AS hamming
        |FROM pairs
        |ORDER BY hamming, a_id, b_id LIMIT 20""".stripMargin
    },

    "q_ann_lsh_gated" ->
      """WITH q AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
        |                  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
        |                       AS BIGINT) AS qv
        |           FROM embeddings),
        |pl AS (SELECT p.p, d.d,
        |              CASE WHEN CAST(('0x' || substr(md5(CAST(p.p AS VARCHAR) || '_' ||
        |                                              CAST(d.d AS VARCHAR)), 1, 12))
        |                        AS BIGINT) % 2 = 1
        |                   THEN 1 ELSE -1 END AS sg
        |       FROM range(0, 32) p(p) CROSS JOIN range(1, 129) d(d)),
        |dots AS (SELECT q.vec_id, pl.p, sum(q.qv * pl.sg) AS dot
        |         FROM q JOIN pl ON q.d = pl.d GROUP BY 1, 2),
        |bands AS (SELECT vec_id, p // 8 AS band_id,
        |                 sum(CASE WHEN dot > 0 THEN 1 << (p % 8) ELSE 0 END) AS band_hash
        |          FROM dots GROUP BY 1, 2),
        |pairs AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |          FROM bands a JOIN bands b
        |            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
        |           AND a.vec_id < b.vec_id),
        |e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |             generate_subscripts(embedding, 1) AS i FROM embeddings),
        |d2 AS (SELECT pr.a_id, pr.b_id, sum(x.v * y.v) AS dp,
        |              sqrt(sum(x.v * x.v)) AS an, sqrt(sum(y.v * y.v)) AS bn
        |       FROM pairs pr JOIN e x ON x.vec_id = pr.a_id
        |                     JOIN e y ON y.vec_id = pr.b_id AND y.i = x.i
        |       GROUP BY 1, 2)
        |SELECT a_id, b_id, floor(dp / (an * bn) * 10000.0 + 0.5) / 10000.0 AS cos_sim
        |FROM d2 ORDER BY cos_sim DESC, a_id, b_id LIMIT 20""".stripMargin,

    "q_embed_pca_power" ->
      """WITH ex AS MATERIALIZED (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS q
        |  FROM embeddings),
        |st AS MATERIALIZED (SELECT pos, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(q) AS BIGINT) AS s FROM ex GROUP BY pos),
        |cx AS MATERIALIZED (SELECT vec_id, pos, n * q - s AS cx FROM ex JOIN st USING (pos)),
        |cov AS MATERIALIZED (
        |  SELECT a.pos AS i, b.pos AS j,
        |         CAST(sum(CAST(a.cx AS DECIMAL(19,0)) * CAST(b.cx AS DECIMAL(19,0)))
        |              AS DECIMAL(38,0)) AS m
        |  FROM cx a JOIN cx b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |dims AS MATERIALIZED (SELECT DISTINCT i AS j FROM cov),
        |v0 AS MATERIALIZED (SELECT j,
        |       CAST(1000000 // (SELECT count(*) FROM dims) AS BIGINT) AS v FROM dims),
        |mv1 AS MATERIALIZED (SELECT i, sum(CAST(m AS HUGEINT) * v) AS mv
        |       FROM cov JOIN v0 ON cov.j = v0.j GROUP BY i),
        |l1 AS (SELECT sum(abs(mv)) AS l FROM mv1),
        |v1 AS MATERIALIZED (
        |  SELECT i AS j,
        |         CAST(CASE WHEN mv < 0 THEN -1 WHEN mv > 0 THEN 1 ELSE 0 END AS BIGINT)
        |         * CAST(CAST(abs(mv) AS HUGEINT)
        |                // greatest(CAST(1 AS HUGEINT), CAST(l AS HUGEINT) // 1000000)
        |                AS BIGINT) AS v
        |  FROM mv1 CROSS JOIN l1),
        |mv2 AS MATERIALIZED (SELECT i, sum(CAST(m AS HUGEINT) * v) AS mv
        |       FROM cov JOIN v1 ON cov.j = v1.j GROUP BY i),
        |l2 AS (SELECT sum(abs(mv)) AS l FROM mv2),
        |v2 AS MATERIALIZED (
        |  SELECT i AS j,
        |         CAST(CASE WHEN mv < 0 THEN -1 WHEN mv > 0 THEN 1 ELSE 0 END AS BIGINT)
        |         * CAST(CAST(abs(mv) AS HUGEINT)
        |                // greatest(CAST(1 AS HUGEINT), CAST(l AS HUGEINT) // 1000000)
        |                AS BIGINT) AS v
        |  FROM mv2 CROSS JOIN l2),
        |mv3 AS MATERIALIZED (SELECT i, sum(CAST(m AS HUGEINT) * v) AS mv
        |       FROM cov JOIN v2 ON cov.j = v2.j GROUP BY i),
        |l3 AS (SELECT sum(abs(mv)) AS l FROM mv3),
        |v3 AS MATERIALIZED (
        |  SELECT i AS j,
        |         CAST(CASE WHEN mv < 0 THEN -1 WHEN mv > 0 THEN 1 ELSE 0 END AS BIGINT)
        |         * CAST(CAST(abs(mv) AS HUGEINT)
        |                // greatest(CAST(1 AS HUGEINT), CAST(l AS HUGEINT) // 1000000)
        |                AS BIGINT) AS v
        |  FROM mv3 CROSS JOIN l3)
        |SELECT j AS dim_idx, v AS loading_fp FROM v3 ORDER BY dim_idx""".stripMargin,

    "q_embed_centroid" ->
      """WITH ex AS (
        |  SELECT label,
        |         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
        |              AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT label, pos, count(*) AS n,
        | floor(CAST(sum(q) AS DOUBLE) / 10000.0 / count(*) * 10000.0 + 0.5) / 10000.0
        |   AS centroid_val
        |FROM ex GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "q_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id,
        |         list_aggregate(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE))), 'max') AS scale,
        |         embedding
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS BIGINT)) AS qv
        |  FROM s WHERE scale > 0)
        |SELECT vec_id,
        | floor(scale * 10000.0 + 0.5) / 10000.0 AS scale,
        | CAST(list_aggregate(qv, 'sum') AS BIGINT) AS checksum,
        | CAST(len(list_filter(qv, v -> v <> 0)) AS BIGINT) AS nnz
        |FROM q ORDER BY vec_id""".stripMargin,

    "q_emb_dim_var" ->
      """WITH ex AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim_idx,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0 + 0.5)
        |              AS BIGINT) AS q
        |  FROM embeddings),
        |per AS (SELECT dim_idx, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
        |  CAST(sum(CAST(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))
        |                AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
        | FROM ex GROUP BY 1),
        |v AS (SELECT dim_idx, n, s,
        |  (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
        |   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS varq
        | FROM per),
        |tot AS (SELECT sum(CAST(varq AS DECIMAL(28,8))) AS tv FROM v)
        |SELECT dim_idx,
        | floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0 * 10000.0 + 0.5)
        |   / 10000.0 AS mean,
        | floor(varq / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS variance,
        | floor(varq / CAST(tv AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS var_share
        |FROM v CROSS JOIN tot ORDER BY dim_idx""".stripMargin,

    "q_cos_sim_hist" ->
      """WITH o(ofs) AS (VALUES (1), (17), (257)),
        |a AS (SELECT vec_id,
        |             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0
        |                        + 0.5) AS BIGINT) AS qv,
        |             generate_subscripts(embedding, 1) AS i
        |      FROM embeddings),
        |aa AS (SELECT a.vec_id AS a_id, o.ofs, a.vec_id + o.ofs AS b_id,
        |              a.i, a.qv AS qa
        |       FROM a CROSS JOIN o),
        |p AS (SELECT aa.a_id, aa.ofs, aa.qa, b.qv AS qb
        |      FROM aa JOIN a b ON b.vec_id = aa.b_id AND b.i = aa.i),
        |d AS (SELECT a_id, ofs, CAST(sum(qa * qb) AS BIGINT) AS dp,
        |             CAST(sum(qa * qa) AS BIGINT) AS na2,
        |             CAST(sum(qb * qb) AS BIGINT) AS nb2
        |      FROM p GROUP BY 1, 2),
        |c AS (SELECT ofs,
        |        floor(floor(CAST(dp AS DOUBLE)
        |                    / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
        |                    * 10000.0 + 0.5) / 10000.0
        |              * 10.0 + 10.0) AS bin
        |      FROM d)
        |SELECT CAST(ofs AS BIGINT) AS ofs, CAST(bin AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM c GROUP BY 1, 2 ORDER BY ofs, bin""".stripMargin,

    "q_embed_outliers" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0 + 0.5)
        |              AS BIGINT) AS q
        |  FROM embeddings),
        |st AS (SELECT pos, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS s
        |       FROM ex GROUP BY pos),
        |d AS (SELECT vec_id,
        |        CAST(sum(CAST(CAST(n * q - s AS DECIMAL(19,0))
        |                      * CAST(n * q - s AS DECIMAL(19,0))
        |                      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS n2d2,
        |        max(n) AS n
        |      FROM ex JOIN st USING (pos) GROUP BY vec_id)
        |SELECT vec_id,
        | floor(CAST(n2d2 AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
        |       / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS dist_sq
        |FROM d ORDER BY n2d2 DESC, vec_id LIMIT 20""".stripMargin,

    "q_incr_dedup_minhash" -> {
      // same Carter–Wegman chain as q_doc_dedup_minhash_gated, then the
      // batch-vs-corpus band-index probe
      val P = 2147483647L
      val mins = (0 until 32).map { j =>
        val a = operators.Dedup.cwCoef("a", j, P - 1, 1L)
        val b = operators.Dedup.cwCoef("b", j, P, 0L)
        s"min(($a * h + $b) % $P) AS h$j"
      }.mkString(",\n        |         ")
      val bandCases = (0 until 8).map { bnd =>
        val key = (bnd * 4 until (bnd + 1) * 4)
          .map(j => s"CAST(h$j AS VARCHAR)").mkString(" || '_' || ")
        s"WHEN b = $bnd THEN $key"
      }.mkString("\n        |             ")
      val matches = (0 until 32)
        .map(j => s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END")
        .mkString(" +\n        |               ")
      s"""WITH sh0 AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(1, length(text) - 2)) AS i
        |  FROM documents WHERE length(text) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 3) AS s
        |  FROM sh0),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT) % $P AS h
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |         ${mins}
        |  FROM hs GROUP BY doc_id),
        |bands AS (
        |  SELECT sig.*, b AS band_id,
        |         CASE $bandCases
        |         END AS bkey
        |  FROM sig, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS b)),
        |corp AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
        |newb AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
        |stats AS (SELECT band_id, bkey, min(doc_id) AS first_id
        |          FROM corp GROUP BY 1, 2),
        |hits AS (SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_hit_bands,
        |                min(s.first_id) AS first_match
        |         FROM newb n JOIN stats s
        |           ON n.band_id = s.band_id AND n.bkey = s.bkey
        |         GROUP BY 1),
        |est AS (SELECT h.doc_id, h.n_hit_bands, h.first_match,
        |               ($matches) AS m
        |        FROM hits h JOIN sig a ON a.doc_id = h.doc_id
        |                    JOIN sig b ON b.doc_id = h.first_match),
        |ids AS (SELECT DISTINCT doc_id FROM sig WHERE doc_id % 10 = 0)
        |SELECT ids.doc_id AS new_id,
        |       est.doc_id IS NOT NULL AS is_dup,
        |       COALESCE(est.n_hit_bands, 0) AS n_hit_bands,
        |       est.first_match,
        |       CASE WHEN est.doc_id IS NOT NULL
        |            THEN floor(m / 32.0 * 10000.0 + 0.5) / 10000.0 END AS first_est
        |FROM ids LEFT JOIN est ON est.doc_id = ids.doc_id
        |ORDER BY new_id""".stripMargin
    },

    "q_lsh_recall" -> {
      // truth = the NAIVE word-shingle inverted-index join (as for
      // q_jaccard_prefix_join); candidates = the CW minhash band chain on
      // the SAME word shingles, hot-bucket star cap included
      val P = 2147483647L
      val mins = (0 until 32).map { j =>
        val a = operators.Dedup.cwCoef("a", j, P - 1, 1L)
        val b = operators.Dedup.cwCoef("b", j, P, 0L)
        s"min(($a * h + $b) % $P) AS h$j"
      }.mkString(",\n        |         ")
      val bandCases = (0 until 8).map { bnd =>
        val key = (bnd * 4 until (bnd + 1) * 4)
          .map(j => s"CAST(h$j AS VARCHAR)").mkString(" || '_' || ")
        s"WHEN b = $bnd THEN $key"
      }.mkString("\n        |             ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sarr AS (SELECT doc_id,
        |           list_distinct(list_transform(range(1, len(w) - 1),
        |                         i -> array_to_string(w[i:i+2], ' '))) AS sh
        |         FROM d),
        |sz AS (SELECT doc_id, len(sh) AS nsh FROM sarr),
        |e AS (SELECT doc_id, unnest(sh) AS s FROM sarr),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |truth AS (SELECT doc_a, doc_b FROM p
        |          JOIN sz za ON za.doc_id = doc_a
        |          JOIN sz zb ON zb.doc_id = doc_b
        |          WHERE c * 3 >= za.nsh + zb.nsh),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT) % $P AS h
        |  FROM e),
        |sig AS (
        |  SELECT doc_id,
        |         ${mins}
        |  FROM hs GROUP BY doc_id),
        |bands AS (
        |  SELECT sig.*, b AS band_id,
        |         CASE $bandCases
        |         END AS bkey
        |  FROM sig, (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS b)),
        |stats AS (
        |  SELECT band_id, bkey, count(*) AS bn, min(doc_id) AS anchor
        |  FROM bands GROUP BY 1, 2),
        |bs AS (
        |  SELECT bands.*, stats.bn, stats.anchor
        |  FROM bands JOIN stats USING (band_id, bkey)),
        |cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bs a JOIN bs b
        |    ON a.band_id = b.band_id AND a.bkey = b.bkey
        |   AND a.doc_id < b.doc_id
        |  WHERE a.bn <= 64
        |  UNION
        |  SELECT a.doc_id, b.doc_id
        |  FROM bs a JOIN bs b
        |    ON a.band_id = b.band_id AND a.bkey = b.bkey
        |  WHERE a.bn > 64 AND a.doc_id = a.anchor AND b.doc_id <> b.anchor),
        |tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
        |hn AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
        |       FROM truth t JOIN cand c ON t.doc_a = c.a_id AND t.doc_b = c.b_id)
        |SELECT n_truth, n_cand, n_hit,
        |       floor(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
        |             * 10000.0 + 0.5) / 10000.0 AS recall
        |FROM tn, cn, hn""".stripMargin
    },

    "q_ann_join" -> {
      // k-means fit on the EVEN (reference) side only; both sides assigned,
      // per-A-vector argmin by (d2, b_id), misses stay NULL
      val iters = (1 to 5).map { i =>
        s"""|a$i AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |        FROM slong l JOIN c${i - 1} c ON c.i = l.i GROUP BY 1, 2),
        |b$i AS (SELECT vec_id, cid FROM (
        |          SELECT vec_id, cid,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |          FROM a$i) WHERE rk = 1),
        |m$i AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
        |        FROM b$i b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),
        |c$i AS (SELECT c.cid, c.i, COALESCE(m.qv, c.qv) AS qv
        |        FROM c${i - 1} c LEFT JOIN m$i m ON m.cid = c.cid AND m.i = c.i),
        |""".stripMargin.stripSuffix("\n")
      }.mkString("\n")
      s"""WITH q AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
        |              AS BIGINT) + 16384 AS qv
        |  FROM embeddings),
        |sample AS (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
        |slong AS (SELECT q.* FROM q JOIN sample USING (vec_id)),
        |tiles AS (SELECT vec_id, ntile(16) OVER (ORDER BY vec_id) AS t FROM sample),
        |chosen AS (SELECT t, min(vec_id) AS v FROM tiles GROUP BY t),
        |c0 AS (SELECT t - 1 AS cid, l.i, l.qv
        |       FROM chosen JOIN slong l ON l.vec_id = chosen.v),
        |$iters
        |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
        |bf AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |         FROM af) WHERE rk = 1),
        |aa AS (SELECT vec_id, cid FROM bf WHERE vec_id % 2 = 1),
        |bb AS (SELECT vec_id, cid FROM bf WHERE vec_id % 2 = 0),
        |pd AS (SELECT aa.vec_id AS a_id, bb.vec_id AS b_id,
        |              sum((qa.qv - qb.qv) * (qa.qv - qb.qv)) AS d2
        |       FROM aa JOIN bb ON aa.cid = bb.cid
        |            JOIN q qa ON qa.vec_id = aa.vec_id
        |            JOIN q qb ON qb.vec_id = bb.vec_id AND qb.i = qa.i
        |       GROUP BY 1, 2),
        |best AS (SELECT a_id, b_id AS match_id, CAST(d2 AS BIGINT) AS match_d2
        |         FROM (SELECT a_id, b_id, d2,
        |                      row_number() OVER (PARTITION BY a_id
        |                        ORDER BY d2, b_id) AS rk
        |               FROM pd) WHERE rk = 1 AND d2 <= 130000000)
        |SELECT aa.vec_id, CAST(aa.cid AS BIGINT) AS cell_id,
        |       best.match_id IS NOT NULL AS is_match,
        |       best.match_id, best.match_d2
        |FROM aa LEFT JOIN best ON best.a_id = aa.vec_id
        |ORDER BY vec_id""".stripMargin
    },

    "q_semantic_dedup_mp" -> {
      // same unrolled integer k-means; assignment keeps the TOP-2 cells
      // (row_number <= 2), pairs form in any shared cell
      val iters = (1 to 5).map { i =>
        s"""|a$i AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |        FROM slong l JOIN c${i - 1} c ON c.i = l.i GROUP BY 1, 2),
        |b$i AS (SELECT vec_id, cid FROM (
        |          SELECT vec_id, cid,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |          FROM a$i) WHERE rk = 1),
        |m$i AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
        |        FROM b$i b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),
        |c$i AS (SELECT c.cid, c.i, COALESCE(m.qv, c.qv) AS qv
        |        FROM c${i - 1} c LEFT JOIN m$i m ON m.cid = c.cid AND m.i = c.i),
        |""".stripMargin.stripSuffix("\n")
      }.mkString("\n")
      s"""WITH q AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
        |              AS BIGINT) + 16384 AS qv
        |  FROM embeddings),
        |sample AS (SELECT vec_id FROM embeddings
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
        |slong AS (SELECT q.* FROM q JOIN sample USING (vec_id)),
        |tiles AS (SELECT vec_id, ntile(16) OVER (ORDER BY vec_id) AS t FROM sample),
        |chosen AS (SELECT t, min(vec_id) AS v FROM tiles GROUP BY t),
        |c0 AS (SELECT t - 1 AS cid, l.i, l.qv
        |       FROM chosen JOIN slong l ON l.vec_id = chosen.v),
        |$iters
        |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
        |bf2 AS (SELECT vec_id, cid, rk FROM (
        |          SELECT vec_id, cid,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |          FROM af) WHERE rk <= 2),
        |prim AS (SELECT vec_id, cid FROM bf2 WHERE rk = 1),
        |pr AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |       FROM bf2 a JOIN bf2 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |pd AS (SELECT pr.a_id, pr.b_id, sum((qa.qv - qb.qv) * (qa.qv - qb.qv)) AS d2
        |       FROM pr JOIN q qa ON qa.vec_id = pr.a_id
        |               JOIN q qb ON qb.vec_id = pr.b_id AND qb.i = qa.i
        |       GROUP BY 1, 2),
        |du AS (SELECT b_id, min(a_id) AS dup_of, CAST(min(d2) AS BIGINT) AS min_d2
        |       FROM pd WHERE d2 <= 130000000 GROUP BY 1)
        |SELECT prim.vec_id, CAST(prim.cid AS BIGINT) AS cluster_id,
        |       du.b_id IS NOT NULL AS is_dup, du.dup_of, du.min_d2
        |FROM prim LEFT JOIN du ON du.b_id = prim.vec_id
        |ORDER BY vec_id""".stripMargin
    },

    "q_semantic_dedup_hier" -> {
      // FULLY hierarchical quantizer unrolled: 3 coarse Lloyd's rounds
      // over the md5-sampled corpus, the sample routed once to its coarse
      // group, then 5 GROUPED fine Lloyd's rounds (every per-group fit in
      // the same CTEs, keyed by gid), live-group corpus routing
      // coarse-then-fine, cells = gid·kPerGroup + fcid, and the
      // q_semantic_dedup pair-scan + keep-lowest-id tail.
      // MATERIALIZED on the multiply-referenced CTEs (q/slong/rb/rounds):
      // plain CTE inlining re-expands the doubled Lloyd's lineage per
      // reference — a 2^R blowup that exhausted DuckDB's file handles.
      // drop-empty Lloyd's at BOTH levels (no carry join): each round's
      // centroids are exactly the means of its non-empty cells — the same
      // linear-lineage variant the Spark side runs
      val coarseIters = (1 to 3).map { r =>
        s"""|ga$r AS (SELECT l.vec_id, g.gid, sum((l.qv - g.qv) * (l.qv - g.qv)) AS d
        |        FROM slong l JOIN gc${r - 1} g ON g.i = l.i GROUP BY 1, 2),
        |gb$r AS (SELECT vec_id, gid FROM (
        |          SELECT vec_id, gid,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, gid) AS rk
        |          FROM ga$r) WHERE rk = 1),
        |gc$r AS MATERIALIZED (SELECT b.gid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
        |        FROM gb$r b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),
        |""".stripMargin.stripSuffix("\n")
      }.mkString("\n")
      val fineIters = (1 to 5).map { r =>
        s"""|fa$r AS (SELECT rb.gid, l.vec_id, c.fcid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |        FROM slong l JOIN rb ON rb.vec_id = l.vec_id
        |                     JOIN f${r - 1} c ON c.gid = rb.gid AND c.i = l.i
        |        GROUP BY 1, 2, 3),
        |fb$r AS (SELECT gid, vec_id, fcid FROM (
        |          SELECT gid, vec_id, fcid,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, fcid) AS rk
        |          FROM fa$r) WHERE rk = 1),
        |f$r AS MATERIALIZED (SELECT b.gid, b.fcid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
        |        FROM fb$r b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2, 3),
        |""".stripMargin.stripSuffix("\n")
      }.mkString("\n")
      s"""WITH q AS MATERIALIZED (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
        |              AS BIGINT) + 16384 AS qv
        |  FROM embeddings),
        |sample AS (SELECT vec_id FROM embeddings
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
        |slong AS MATERIALIZED (SELECT q.* FROM q JOIN sample USING (vec_id)),
        |tiles AS (SELECT vec_id, ntile(4) OVER (ORDER BY vec_id) AS t FROM sample),
        |chosen AS (SELECT t, min(vec_id) AS v FROM tiles GROUP BY t),
        |gc0 AS (SELECT t - 1 AS gid, l.i, l.qv
        |        FROM chosen JOIN slong l ON l.vec_id = chosen.v),
        |$coarseIters
        |ra AS (SELECT l.vec_id, g.gid, sum((l.qv - g.qv) * (l.qv - g.qv)) AS d
        |       FROM slong l JOIN gc3 g ON g.i = l.i GROUP BY 1, 2),
        |rb AS MATERIALIZED (SELECT vec_id, gid FROM (
        |        SELECT vec_id, gid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, gid) AS rk
        |        FROM ra) WHERE rk = 1),
        |ftile AS (SELECT vec_id, gid,
        |            ntile(4) OVER (PARTITION BY gid ORDER BY vec_id) AS t
        |          FROM rb),
        |fch AS (SELECT gid, t, min(vec_id) AS v FROM ftile GROUP BY 1, 2),
        |f0 AS (SELECT fch.gid, fch.t - 1 AS fcid, l.i, l.qv
        |       FROM fch JOIN slong l ON l.vec_id = fch.v),
        |$fineIters
        |glive AS (SELECT g.* FROM gc3 g
        |          WHERE g.gid IN (SELECT DISTINCT gid FROM f5)),
        |ca AS (SELECT l.vec_id, g.gid, sum((l.qv - g.qv) * (l.qv - g.qv)) AS d
        |       FROM q l JOIN glive g ON g.i = l.i GROUP BY 1, 2),
        |cb AS MATERIALIZED (SELECT vec_id, gid FROM (
        |        SELECT vec_id, gid,
        |               row_number() OVER (PARTITION BY vec_id ORDER BY d, gid) AS rk
        |        FROM ca) WHERE rk = 1),
        |ha AS (SELECT l.vec_id, c.fcid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN cb ON cb.vec_id = l.vec_id
        |              JOIN f5 c ON c.gid = cb.gid AND c.i = l.i
        |       GROUP BY 1, 2),
        |hb AS (SELECT vec_id, fcid FROM (
        |         SELECT vec_id, fcid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, fcid) AS rk
        |         FROM ha) WHERE rk = 1),
        |cells AS MATERIALIZED (
        |  SELECT hb.vec_id, CAST(cb.gid AS BIGINT) * 4 + hb.fcid AS cid
        |  FROM hb JOIN cb USING (vec_id)),
        |pr AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |       FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |pd AS (SELECT pr.a_id, pr.b_id, sum((qa.qv - qb.qv) * (qa.qv - qb.qv)) AS d2
        |       FROM pr JOIN q qa ON qa.vec_id = pr.a_id
        |               JOIN q qb ON qb.vec_id = pr.b_id AND qb.i = qa.i
        |       GROUP BY 1, 2),
        |du AS (SELECT b_id, min(a_id) AS dup_of, CAST(min(d2) AS BIGINT) AS min_d2
        |       FROM pd WHERE d2 <= 130000000 GROUP BY 1)
        |SELECT cells.vec_id, cells.cid AS cluster_id,
        |       du.b_id IS NOT NULL AS is_dup, du.dup_of, du.min_d2
        |FROM cells LEFT JOIN du ON du.b_id = cells.vec_id
        |ORDER BY vec_id""".stripMargin
    },

    "q_semantic_dedup" -> {
      // same unrolled integer k-means as q_ann_ivf_gated, then the
      // within-cell pair scan and keep-lowest-id dup marking
      val iters = (1 to 5).map { i =>
        s"""|a$i AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |        FROM slong l JOIN c${i - 1} c ON c.i = l.i GROUP BY 1, 2),
        |b$i AS (SELECT vec_id, cid FROM (
        |          SELECT vec_id, cid,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |          FROM a$i) WHERE rk = 1),
        |m$i AS (SELECT b.cid, l.i, CAST(sum(l.qv) // count(*) AS BIGINT) AS qv
        |        FROM b$i b JOIN slong l ON l.vec_id = b.vec_id GROUP BY 1, 2),
        |c$i AS (SELECT c.cid, c.i, COALESCE(m.qv, c.qv) AS qv
        |        FROM c${i - 1} c LEFT JOIN m$i m ON m.cid = c.cid AND m.i = c.i),
        |""".stripMargin.stripSuffix("\n")
      }.mkString("\n")
      s"""WITH q AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5)
        |              AS BIGINT) + 16384 AS qv
        |  FROM embeddings),
        |sample AS (SELECT vec_id FROM embeddings
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20000),
        |slong AS (SELECT q.* FROM q JOIN sample USING (vec_id)),
        |tiles AS (SELECT vec_id, ntile(16) OVER (ORDER BY vec_id) AS t FROM sample),
        |chosen AS (SELECT t, min(vec_id) AS v FROM tiles GROUP BY t),
        |c0 AS (SELECT t - 1 AS cid, l.i, l.qv
        |       FROM chosen JOIN slong l ON l.vec_id = chosen.v),
        |$iters
        |af AS (SELECT l.vec_id, c.cid, sum((l.qv - c.qv) * (l.qv - c.qv)) AS d
        |       FROM q l JOIN c5 c ON c.i = l.i GROUP BY 1, 2),
        |bf AS (SELECT vec_id, cid FROM (
        |         SELECT vec_id, cid,
        |                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        |         FROM af) WHERE rk = 1),
        |pr AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |       FROM bf a JOIN bf b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |pd AS (SELECT pr.a_id, pr.b_id, sum((qa.qv - qb.qv) * (qa.qv - qb.qv)) AS d2
        |       FROM pr JOIN q qa ON qa.vec_id = pr.a_id
        |               JOIN q qb ON qb.vec_id = pr.b_id AND qb.i = qa.i
        |       GROUP BY 1, 2),
        |du AS (SELECT b_id, min(a_id) AS dup_of, CAST(min(d2) AS BIGINT) AS min_d2
        |       FROM pd WHERE d2 <= 130000000 GROUP BY 1)
        |SELECT bf.vec_id, CAST(bf.cid AS BIGINT) AS cluster_id,
        |       du.b_id IS NOT NULL AS is_dup, du.dup_of, du.min_d2
        |FROM bf LEFT JOIN du ON du.b_id = bf.vec_id
        |ORDER BY vec_id""".stripMargin
    },

    // NAIVE formulation on purpose: full inverted-index self-join with no
    // prefix pruning — the gate proves the Spark-side PPJoin prune is lossless,

    "q_dup_cluster_hist" ->
      """WITH RECURSIVE d AS (SELECT doc_id, lang, n_chars // 8 AS blk,
        |                            substr(text, 1, 40) AS head
        |                     FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM d a JOIN d b ON a.lang = b.lang AND a.blk = b.blk
        |                       AND a.doc_id < b.doc_id
        |      WHERE levenshtein(a.head, b.head) <= 8),
        |e AS (SELECT a_id AS src, b_id AS dst FROM p
        |      UNION SELECT b_id, a_id FROM p),
        |reach AS (
        |  SELECT src AS node, dst AS label FROM e
        |  UNION
        |  SELECT r.node, e2.dst FROM reach r JOIN e e2 ON r.label = e2.src),
        |comp AS (SELECT node, least(node, min(label)) AS component_id
        |         FROM reach GROUP BY node),
        |assign AS (SELECT doc.doc_id,
        |                  coalesce(c.component_id, doc.doc_id) AS component_id
        |           FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.node),
        |sz AS (SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM assign GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters,
        |       min(component_id) AS example_component
        |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "q_dup_by_source" ->
      """WITH RECURSIVE d AS (SELECT doc_id, lang, n_chars // 8 AS blk,
        |                            substr(text, 1, 40) AS head
        |                     FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM d a JOIN d b ON a.lang = b.lang AND a.blk = b.blk
        |                       AND a.doc_id < b.doc_id
        |      WHERE levenshtein(a.head, b.head) <= 8),
        |e AS (SELECT a_id AS src, b_id AS dst FROM p
        |      UNION SELECT b_id, a_id FROM p),
        |reach AS (
        |  SELECT src AS node, dst AS label FROM e
        |  UNION
        |  SELECT r.node, e2.dst FROM reach r JOIN e e2 ON r.label = e2.src),
        |comp AS (SELECT node, least(node, min(label)) AS component_id
        |         FROM reach GROUP BY node),
        |assign AS (
        |  SELECT doc.doc_id, doc.source,
        |         coalesce(c.component_id, doc.doc_id) AS component_id,
        |         doc.doc_id = coalesce(c.component_id, doc.doc_id) AS is_canonical
        |  FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.node),
        |sizes AS (SELECT component_id, count(*) AS csize FROM assign GROUP BY 1)
        |SELECT a.source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN s.csize >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
        | CAST(sum(CASE WHEN NOT a.is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        | floor((CAST(sum(CASE WHEN NOT a.is_canonical THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS drop_rate
        |FROM assign a JOIN sizes s ON a.component_id = s.component_id
        |GROUP BY a.source ORDER BY a.source""".stripMargin,

    "q_mmr_diversity" ->
      """WITH dl AS (
        |  SELECT doc_id, text,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS len
        |  FROM documents),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS sum_len FROM dl),
        |tf AS (
        |  SELECT doc_id, len, term, count(*) AS tf FROM (
        |    SELECT doc_id, len, unnest(string_split(lower(text), ' ')) AS term FROM dl) u
        |  WHERE term IN ('join', 'hash', 'scan') GROUP BY doc_id, len, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |s AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
        |              / (CAST(dfq.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
        |    / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.len AS DOUBLE)
        |         / (CAST(st.sum_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))) AS sc
        |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN st),
        |rel AS (SELECT doc_id,
        |          floor(CAST(sum(CAST(sc AS DECIMAL(28,8))) AS DOUBLE)
        |                * 10000.0 + 0.5) / 10000.0 AS rel
        |        FROM s GROUP BY doc_id
        |        ORDER BY rel DESC, doc_id ASC LIMIT 20),
        |qv AS (SELECT vec_id,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
        |              AS BIGINT) AS q,
        |         generate_subscripts(embedding, 1) AS i
        |       FROM embeddings JOIN rel ON vec_id = rel.doc_id),
        |nrm AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2
        |        FROM qv GROUP BY 1),
        |dp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         CAST(sum(a.q * b.q) AS BIGINT) AS dp
        |       FROM qv a JOIN qv b ON a.i = b.i AND a.vec_id <> b.vec_id
        |       GROUP BY 1, 2),
        |sim AS (SELECT a_id, b_id,
        |          floor(CAST(dp AS DOUBLE)
        |                / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
        |                * 10000.0 + 0.5) / 10000.0 AS sim
        |        FROM dp JOIN nrm x ON a_id = x.vec_id JOIN nrm y ON b_id = y.vec_id),
        |s1 AS (SELECT doc_id, rel FROM rel ORDER BY rel DESC, doc_id ASC LIMIT 1),
        |c2 AS (SELECT r.doc_id, r.rel, max(s.sim) AS maxsim
        |       FROM rel r JOIN sim s ON s.a_id = r.doc_id
        |       WHERE s.b_id IN (SELECT doc_id FROM s1)
        |         AND r.doc_id NOT IN (SELECT doc_id FROM s1)
        |       GROUP BY 1, 2),
        |s2 AS (SELECT doc_id, rel, maxsim,
        |         floor((0.7 * rel - (1.0 - 0.7) * maxsim) * 10000.0 + 0.5)
        |           / 10000.0 AS sc
        |       FROM c2 ORDER BY sc DESC, doc_id ASC LIMIT 1),
        |sel2 AS (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2),
        |c3 AS (SELECT r.doc_id, r.rel, max(s.sim) AS maxsim
        |       FROM rel r JOIN sim s ON s.a_id = r.doc_id
        |       WHERE s.b_id IN (SELECT doc_id FROM sel2)
        |         AND r.doc_id NOT IN (SELECT doc_id FROM sel2)
        |       GROUP BY 1, 2),
        |s3 AS (SELECT doc_id, rel, maxsim,
        |         floor((0.7 * rel - (1.0 - 0.7) * maxsim) * 10000.0 + 0.5)
        |           / 10000.0 AS sc
        |       FROM c3 ORDER BY sc DESC, doc_id ASC LIMIT 1),
        |sel3 AS (SELECT doc_id FROM sel2 UNION ALL SELECT doc_id FROM s3),
        |c4 AS (SELECT r.doc_id, r.rel, max(s.sim) AS maxsim
        |       FROM rel r JOIN sim s ON s.a_id = r.doc_id
        |       WHERE s.b_id IN (SELECT doc_id FROM sel3)
        |         AND r.doc_id NOT IN (SELECT doc_id FROM sel3)
        |       GROUP BY 1, 2),
        |s4 AS (SELECT doc_id, rel, maxsim,
        |         floor((0.7 * rel - (1.0 - 0.7) * maxsim) * 10000.0 + 0.5)
        |           / 10000.0 AS sc
        |       FROM c4 ORDER BY sc DESC, doc_id ASC LIMIT 1),
        |sel4 AS (SELECT doc_id FROM sel3 UNION ALL SELECT doc_id FROM s4),
        |c5 AS (SELECT r.doc_id, r.rel, max(s.sim) AS maxsim
        |       FROM rel r JOIN sim s ON s.a_id = r.doc_id
        |       WHERE s.b_id IN (SELECT doc_id FROM sel4)
        |         AND r.doc_id NOT IN (SELECT doc_id FROM sel4)
        |       GROUP BY 1, 2),
        |s5 AS (SELECT doc_id, rel, maxsim,
        |         floor((0.7 * rel - (1.0 - 0.7) * maxsim) * 10000.0 + 0.5)
        |           / 10000.0 AS sc
        |       FROM c5 ORDER BY sc DESC, doc_id ASC LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS rank, doc_id, rel, 0.0 AS maxsim,
        |       floor(0.7 * rel * 10000.0 + 0.5) / 10000.0 AS mmr_score
        |FROM s1
        |UNION ALL SELECT CAST(2 AS BIGINT), doc_id, rel, maxsim, sc FROM s2
        |UNION ALL SELECT CAST(3 AS BIGINT), doc_id, rel, maxsim, sc FROM s3
        |UNION ALL SELECT CAST(4 AS BIGINT), doc_id, rel, maxsim, sc FROM s4
        |UNION ALL SELECT CAST(5 AS BIGINT), doc_id, rel, maxsim, sc FROM s5
        |ORDER BY rank""".stripMargin,

    // round 11: the per-dimension unnest join (qv/nrm/dp CTEs) is replaced by
    // list_dot_product over BIGINT lists — exact (integer results < 2^53 are
    // representable in DOUBLE regardless of summation order; verified
    // bit-identical to the join form at sf0.01), ~6x faster, and tractable at
    // the 10x decade where the per-dimension join walled.
    "q_hard_negatives" ->
      """WITH v6 AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n6 AS (SELECT vec_id, label, qv,
        |       CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM v6),
        |sc AS (SELECT a.vec_id AS a_id, a.label AS a_label,
        |         b.vec_id AS b_id, b.label AS b_label,
        |         floor(CAST(CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS DOUBLE)
        |               / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
        |               * 10000.0 + 0.5) / 10000.0 AS cos
        |       FROM n6 a JOIN n6 b ON a.vec_id <> b.vec_id
        |         AND a.vec_id % 17 = 0),
        |hn AS (SELECT a_id, a_label, b_id, b_label, cos
        |       FROM (SELECT *, row_number() OVER (PARTITION BY a_id
        |               ORDER BY cos DESC, b_id ASC) AS rn
        |             FROM sc WHERE a_label <> b_label)
        |       WHERE rn = 1),
        |hp AS (SELECT a_id, b_id, cos
        |       FROM (SELECT *, row_number() OVER (PARTITION BY a_id
        |               ORDER BY cos ASC, b_id ASC) AS rn
        |             FROM sc WHERE a_label = b_label)
        |       WHERE rn = 1)
        |SELECT hn.a_id AS vec_id, hn.a_label AS label,
        |       hn.b_id AS hard_neg_id, hn.b_label AS hard_neg_label,
        |       hn.cos AS hard_neg_cos,
        |       hp.b_id AS hard_pos_id, hp.cos AS hard_pos_cos,
        |       floor((hn.cos - hp.cos) * 10000.0 + 0.5) / 10000.0 AS margin
        |FROM hn JOIN hp ON hn.a_id = hp.a_id
        |WHERE hn.a_id % 17 = 0 ORDER BY vec_id""".stripMargin,

    // round 11: same list_dot_product rewrite as q_hard_negatives (exact
    // integer dot products in DOUBLE below 2^53; bit-identical, decade-viable)
    "q_knn_label_noise" ->
      """WITH v6 AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding, x ->
        |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n6 AS (SELECT vec_id, label, qv,
        |       CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM v6),
        |sc AS (SELECT a.vec_id AS a_id, a.label AS a_label,
        |         b.vec_id AS b_id, b.label AS b_label,
        |         floor(CAST(CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS DOUBLE)
        |               / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
        |               * 10000.0 + 0.5) / 10000.0 AS cos
        |       FROM n6 a JOIN n6 b ON a.vec_id <> b.vec_id),
        |knn AS (SELECT a_id, a_label, b_label
        |        FROM (SELECT *, row_number() OVER (PARTITION BY a_id
        |                ORDER BY cos DESC, b_id ASC) AS rk
        |              FROM sc)
        |        WHERE rk <= 5),
        |votes AS (SELECT a_id, a_label, b_label,
        |            CAST(count(*) AS BIGINT) AS v
        |          FROM knn GROUP BY 1, 2, 3),
        |maj AS (SELECT a_id, a_label, b_label AS knn_label
        |        FROM (SELECT *, row_number() OVER (PARTITION BY a_id
        |                ORDER BY v DESC, b_label ASC) AS rn
        |              FROM votes)
        |        WHERE rn = 1)
        |SELECT a_label AS label, CAST(count(*) AS BIGINT) AS n_vectors,
        | CAST(sum(CASE WHEN knn_label <> a_label THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_flagged,
        | floor(CAST(sum(CASE WHEN knn_label <> a_label THEN 1 ELSE 0 END)
        |            AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5)
        |   / 10000.0 AS noise_rate
        |FROM maj GROUP BY a_label ORDER BY label""".stripMargin,

    "q_auc_roc" ->
      """WITH ex AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
        |         AS BIGINT) AS q
        |  FROM embeddings),
        |cents AS (SELECT label AS label_c, pos, CAST(sum(q) AS BIGINT) AS s
        |          FROM ex GROUP BY 1, 2),
        |cn AS (SELECT label_c,
        |         CAST(sum(CAST(s AS DECIMAL(38,0)) * s) AS DECIMAL(38,0)) AS cn2
        |       FROM cents GROUP BY 1),
        |per AS (SELECT e.vec_id, e.label, c.label_c,
        |    CAST(sum(CAST(e.q AS DECIMAL(38,0)) * c.s) AS DECIMAL(38,0)) AS dp,
        |    CAST(sum(CAST(e.q AS DECIMAL(38,0)) * e.q) AS DECIMAL(38,0)) AS n2
        |  FROM ex e JOIN cents c ON e.pos = c.pos GROUP BY 1, 2, 3),
        |sc AS (SELECT label_c,
        |    CASE WHEN label = label_c THEN 1 ELSE 0 END AS is_pos,
        |    floor(CAST(dp AS DOUBLE)
        |          / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS score
        |  FROM per JOIN cn USING (label_c)),
        |rk AS (SELECT label_c, is_pos,
        |    2 * rank() OVER (PARTITION BY label_c ORDER BY score ASC)
        |      + count(*) OVER (PARTITION BY label_c, score) - 1 AS r2
        |  FROM sc)
        |SELECT label_c AS label, CAST(sum(is_pos) AS BIGINT) AS n_pos,
        | CAST(sum(1 - is_pos) AS BIGINT) AS n_neg,
        | floor(CAST(sum(is_pos * r2) - sum(is_pos) * (sum(is_pos) + 1)
        |            AS DOUBLE)
        |       / (2.0 * CAST(sum(is_pos) AS DOUBLE)
        |          * CAST(sum(1 - is_pos) AS DOUBLE)) * 10000.0 + 0.5)
        |   / 10000.0 AS auc
        |FROM rk GROUP BY 1 ORDER BY label""".stripMargin,

    "q_pr_curve" ->
      """WITH ex AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
        |         AS BIGINT) AS q
        |  FROM embeddings),
        |c0 AS (SELECT pos, CAST(sum(q) AS BIGINT) AS s
        |       FROM ex WHERE label = 0 GROUP BY 1),
        |cn AS (SELECT
        |    CAST(sum(CAST(s AS DECIMAL(38,0)) * s) AS DECIMAL(38,0)) AS cn2
        |  FROM c0),
        |per AS (SELECT e.vec_id, max(e.label) AS label,
        |    CAST(sum(CAST(e.q AS DECIMAL(38,0)) * c.s) AS DECIMAL(38,0)) AS dp,
        |    CAST(sum(CAST(e.q AS DECIMAL(38,0)) * e.q) AS DECIMAL(38,0)) AS n2
        |  FROM ex e JOIN c0 c ON e.pos = c.pos GROUP BY e.vec_id),
        |sc AS (SELECT vec_id,
        |    CAST(CASE WHEN label = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_pos,
        |    floor(CAST(dp AS DOUBLE)
        |          / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE)))
        |          * 10000.0 + 0.5) / 10000.0 AS score
        |  FROM per CROSS JOIN cn),
        |cum AS (SELECT vec_id, is_pos, score,
        |    CAST(row_number() OVER wd AS BIGINT) AS rk,
        |    CAST(sum(is_pos) OVER (ORDER BY score DESC, vec_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_pos
        |  FROM sc WINDOW wd AS (ORDER BY score DESC, vec_id ASC)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(is_pos) AS BIGINT) AS np FROM sc),
        |cuts AS (SELECT CAST(k AS BIGINT) AS decile, k * n // 10 AS rk, np
        |         FROM generate_series(1, 10) t(k) CROSS JOIN tot)
        |SELECT decile, cum.rk AS n_kept, cum_pos AS n_pos_kept,
        | floor(CAST(cum_pos AS DOUBLE) / CAST(cum.rk AS DOUBLE)
        |       * 10000.0 + 0.5) / 10000.0 AS precision,
        | floor(CAST(cum_pos AS DOUBLE) / CAST(np AS DOUBLE)
        |       * 10000.0 + 0.5) / 10000.0 AS recall,
        | floor(2.0 * CAST(cum_pos AS DOUBLE) / CAST(cum.rk + np AS DOUBLE)
        |       * 10000.0 + 0.5) / 10000.0 AS f1
        |FROM cum JOIN cuts ON cum.rk = cuts.rk
        |ORDER BY decile""".stripMargin
  )
}
