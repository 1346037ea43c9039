package graft
package queries

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NativeExpressions, TextAnalysis, Vectors}
import graft.operators.{Ann, AnnIvf, AnnLsh, AnnPq, Tfidf}
import graft.operators.BoundedWindow.boundedGlobal

import Shared._

/** ANN indexes (brute force, LSH, IVF, PQ, IVF×PQ), their recall and
  * ranking-quality metrics, lexical and hybrid retrieval, clustering
  * quality and the embedding-based dedup that reuses the IVF cells. */
object Retrieval {

  /** Truncated-RBO depth weights (1−p)·p^(d−1) for p = 0.9, d = 1..10,
    * as EXACT decimal strings — 0.9^k is a terminating decimal, so both
    * engines parse the identical correctly-rounded double; a runtime
    * pow(0.9, d−1) would lean on libm trees that may differ by a ULP.
    * Shared by the q_rbo Spark side (10-row broadcast dim) and its
    * oracle's VALUES list. */
  private val RboWeights: Seq[(Int, String)] = {
    var w = BigDecimal("0.1")
    (1 to 10).map { d => val r = (d, w.toString); w *= BigDecimal("0.9"); r }
  }

  /** Brute-force cosine top-10 ranks (q_id, rn, n_id) — shared by
    * q_ann_bruteforce and as the ground-truth side of q_ann_recall. */
  private val AnnBruteSql =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
      |s AS (SELECT q_id, n_id, list_cosine_similarity(qe, ne) AS sim
      |      FROM q, c WHERE n_id <> q_id),
      |r AS (SELECT q_id, n_id,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
      |      FROM s)
      |SELECT q_id, rn, n_id FROM r WHERE rn <= 10""".stripMargin

  /** The LSH bucket CTEs (callers prepend WITH and append their own):
    * 8 tables × 6 deterministic md5-parity ±1 planes over 1e-6-quantized
    * vectors (same construction as `AnnLsh`'s exact mode), so every dot
    * is exact integer arithmetic; bk = (vec_id, t, bucket). Shared by the
    * ANN replays here and q_dedup_embedding. */
  private[queries] val LshBucketsSql =
    """w AS (
      |  SELECT t, p, list(CASE WHEN instr('13579bdf', substring(md5(
      |      CAST(t AS VARCHAR) || ',' || CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)
      |    ), 1, 1)) > 0 THEN 1.0 ELSE -1.0 END ORDER BY d) AS wv
      |  FROM range(8) tt(t), range(6) pp(p), range(64) dd(d)
      |  GROUP BY t, p),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |q AS (SELECT vec_id, list_transform(ve, x -> floor(x * 1000000.0)) AS qv FROM e),
      |dots AS (
      |  SELECT q.vec_id, w.t, w.p,
      |    list_sum(list_transform(range(1, 65), i -> qv[i] * wv[i])) AS dt
      |  FROM q CROSS JOIN w),
      |bk AS (
      |  SELECT vec_id, t,
      |    CAST(SUM(CASE WHEN dt > 0 THEN CAST(1 AS BIGINT) << p
      |             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id, t),""".stripMargin

  /** LSH-bucketed ANN top-10 ranks off LshBucketsSql — shared by
    * q_ann_lsh and the approximate side of q_ann_recall. */
  private val AnnLshSql =
    s"""WITH $LshBucketsSql
      |cand AS (
      |  SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS n_id
      |  FROM bk qb JOIN bk cb ON qb.t = cb.t AND qb.bucket = cb.bucket
      |  WHERE qb.vec_id < 5 AND cb.vec_id <> qb.vec_id),
      |s AS (
      |  SELECT q_id, n_id, list_cosine_similarity(eq.ve, en.ve) AS sim
      |  FROM cand JOIN e eq ON eq.vec_id = q_id JOIN e en ON en.vec_id = n_id),
      |r AS (SELECT q_id, n_id,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
      |      FROM s)
      |SELECT q_id, rn, n_id FROM r WHERE rn <= 10""".stripMargin

  /** The stride-init IVF quantizer replayed in DuckDB, as a CTE block
    * (callers prepend WITH and append their own consuming CTEs): e =
    * embeddings as double lists; st = the n/16 stride; c = the 16
    * stride-init centroids (no Lloyd refinement → no float averaging). */
  private val IvfCentroidsSql =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |st AS (SELECT greatest(count(*) // 16, 1) AS stride FROM e),
      |c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, ve AS ce
      |      FROM e, st WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),""".stripMargin

  /** IvfCentroidsSql, then a = each vector's raw argmax-cosine cell. */
  private val IvfAssignSql =
    s"""$IvfCentroidsSql
      |a AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(ve, ce) DESC, cid) AS rr
      |    FROM e CROSS JOIN c) WHERE rr = 1),""".stripMargin

  /** IvfAssignSql, then p = the top-4 probed cells of queries 0..4. */
  private val IvfProbeSql =
    s"""$IvfAssignSql
      |p AS (
      |  SELECT q_id, cid FROM (
      |    SELECT e.vec_id AS q_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(ve, ce) DESC, cid) AS rr
      |    FROM e CROSS JOIN c WHERE e.vec_id < 5) WHERE rr <= 4),""".stripMargin

  /** IvfCentroidsSql, then asn = each vector's cell by the tie-safe
    * round(9)-argmax (`AnnIvf.assign` with simRound = 9) — the
    * assignment `cellSourceTable` replays. */
  private val IvfRoundedAssignSql =
    s"""$IvfCentroidsSql
      |sims AS (SELECT e.vec_id AS id, c.cid,
      |    round(list_cosine_similarity(ve, ce), 9) AS sim FROM e CROSS JOIN c),
      |rk AS (SELECT id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cid) AS rr FROM sims),
      |asn AS (SELECT id, cid FROM rk WHERE rr = 1),""".stripMargin

  /** The IVF cells × document sources contingency table (cid, source,
    * nij) under the oracle-exact stride-init + round(9)-argmax
    * assignment (IvfRoundedAssignSql on the oracle side). It feeds
    * several aggregations, so it is checkpointed once — cells × sources
    * rows — and the corpus-scanning assignment runs once, not once per
    * branch (measured: AQE declined to reuse the exchange across the
    * branches; 6 parquet scans executed without this). */
  private def cellSourceTable(s: SparkSession, dir: String): DataFrame = {
    val embs = tp(s, dir, "embeddings")
    val cents = AnnIvf.fitExact(embs, "vec_id", "embedding", 16, iters = 0)
    val assigned = AnnIvf
      .assign(embs, cents, "vec_id", "embedding", simRound = Some(9))
      .select(col("id"), col("cid"))
    val gold = t(s, dir, "documents")
      .select(col("doc_id").as("id"), col("source"))
    assigned.join(gold, "id")
      .groupBy(col("cid"), col("source")).agg(count(lit(1)).as("nij"))
      .eagerCheckpoint()
  }

  /** SemDeDup's guarded assignment replayed in DuckDB, as a CTE block
    * (callers prepend WITH and append their own consuming CTEs): e =
    * embeddings as double lists; a = stride-init argmax-cosine cell per
    * vector (the q_ann_ivf quantizer); sz = cell sizes; w2/qv/sk = the
    * 4 md5-parity hyperplane sign bits (tag 99) over 10⁻⁶-quantized
    * vectors — exact integer arithmetic, identical to
    * SemDedup.assignedGuarded; r = the refined key rk = cid·16 + (sub
    * key when the cell exceeds 40 vectors). Shared by q_semdedup and
    * q_semdedup_recall. */
  private val SemDedupGuardedSql =
    s"""$IvfAssignSql
      |sz AS (SELECT cid, count(*) AS n FROM a GROUP BY cid),
      |w2 AS (SELECT p, list(CASE WHEN instr('13579bdf', substring(md5(
      |    '99,' || CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)
      |  ), 1, 1)) > 0 THEN 1.0 ELSE -1.0 END ORDER BY d) AS wv
      |  FROM range(4) pp(p), range(64) dd(d) GROUP BY p),
      |qv AS (SELECT vec_id, list_transform(ve, x -> floor(x * 1000000.0)) AS q
      |       FROM e),
      |sk AS (SELECT qv.vec_id,
      |    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65),
      |      i -> qv.q[i] * w2.wv[i])) > 0
      |      THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sk
      |  FROM qv CROSS JOIN w2 GROUP BY qv.vec_id),
      |r AS (SELECT a.vec_id, a.cid,
      |    a.cid * 16 + CASE WHEN sz.n > 40 THEN sk.sk ELSE 0 END AS rk
      |  FROM a JOIN sz USING (cid) JOIN sk ON sk.vec_id = a.vec_id),""".stripMargin

  /** IVF ANN top-10 ranks replayed in DuckDB: stride-init centroids (no
    * Lloyd refinement → no float averaging), argmax-cosine assignment,
    * top-4 probed cells, exact rank within the probed union — shared by
    * q_ann_ivf and the approximate side of q_ann_recall_ivf. */
  private val AnnIvfSql =
    s"""WITH $IvfProbeSql
      |s AS (
      |  SELECT p.q_id, a.vec_id AS n_id, list_cosine_similarity(eq.ve, en.ve) AS sim
      |  FROM p JOIN a ON a.cid = p.cid
      |    JOIN e eq ON eq.vec_id = p.q_id JOIN e en ON en.vec_id = a.vec_id
      |  WHERE a.vec_id <> p.q_id),
      |r AS (SELECT q_id, n_id,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
      |      FROM s)
      |SELECT q_id, rn, n_id FROM r WHERE rn <= 10""".stripMargin

  /** IVF×PQ composed replay (cell-prune, then ADC): the AnnIvfSql
    * coarse quantizer (stride-init centroids, argmax-cosine
    * assignment, top-4 probed cells per query) restricts the candidate
    * set, and the AnnPqSql machinery (stride-init codebooks,
    * argmax-cosine codes, per-query LUT, decimal-exact ADC sum) scores
    * ONLY those candidates — the recall side of q_ann_recall_ivfpq.
    * One shared stride (n/16) drives both quantizers, as in the
    * engine. */
  private val AnnIvfPqSql =
    s"""WITH $IvfProbeSql
      |sub AS (SELECT vec_id AS id, unnest(range(0, 8)) AS m,
      |    unnest(list_transform(range(0, 8), i -> ve[i*8+1 : i*8+8])) AS s FROM e),
      |cb AS (SELECT m, CAST(rn - 1 AS BIGINT) AS cid, s AS cc FROM (
      |    SELECT m, s, row_number() OVER (PARTITION BY m ORDER BY id) AS rn
      |    FROM sub, st WHERE id % stride = 0) WHERE rn <= 16),
      |enc AS (SELECT id, m, cid AS code FROM (
      |    SELECT sub.id, sub.m, cb.cid,
      |      row_number() OVER (PARTITION BY sub.id, sub.m
      |        ORDER BY list_cosine_similarity(sub.s, cb.cc) DESC, cb.cid ASC) AS rn
      |    FROM sub JOIN cb ON sub.m = cb.m) WHERE rn = 1),
      |lut AS (SELECT q.id AS q_id, cb.m, cb.cid,
      |    list_inner_product(q.s, cb.cc) AS pdot
      |  FROM sub q JOIN cb ON q.m = cb.m WHERE q.id < 5),
      |sc AS (SELECT lut.q_id, enc.id AS n_id,
      |    CAST(SUM(CAST(pdot AS DECIMAL(28,12))) AS DOUBLE) AS score
      |  FROM enc
      |    JOIN a ON a.vec_id = enc.id
      |    JOIN p ON p.cid = a.cid
      |    JOIN lut ON enc.m = lut.m AND enc.code = lut.cid
      |      AND lut.q_id = p.q_id
      |  WHERE enc.id <> lut.q_id
      |  GROUP BY lut.q_id, enc.id)
      |SELECT q_id, rn, n_id FROM (
      |  SELECT q_id, n_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rn
      |  FROM sc) WHERE rn <= 10""".stripMargin

  /** PQ-ADC replay: 8 × 8-dim subspaces, 16 stride-init codebook
    * entries each, argmax-cosine codes (tie → low cid), per-query dot
    * LUT, decimal-exact ADC sum — shared by q_ann_pq and the recall
    * side of q_ann_recall_pq. */
  private val AnnPqSql =
    """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sub AS (SELECT id, unnest(range(0, 8)) AS m,
      |    unnest(list_transform(range(0, 8), i -> v[i*8+1 : i*8+8])) AS s FROM e),
      |st AS (SELECT GREATEST(COUNT(DISTINCT id) // 16, 1) AS stride FROM sub),
      |cb AS (SELECT m, CAST(rn - 1 AS BIGINT) AS cid, s AS c FROM (
      |    SELECT m, s, row_number() OVER (PARTITION BY m ORDER BY id) AS rn
      |    FROM sub WHERE id % (SELECT stride FROM st) = 0) WHERE rn <= 16),
      |enc AS (SELECT id, m, cid AS code FROM (
      |    SELECT sub.id, sub.m, cb.cid,
      |      row_number() OVER (PARTITION BY sub.id, sub.m
      |        ORDER BY list_cosine_similarity(sub.s, cb.c) DESC, cb.cid ASC) AS rn
      |    FROM sub JOIN cb ON sub.m = cb.m) WHERE rn = 1),
      |lut AS (SELECT q.id AS q_id, cb.m, cb.cid,
      |    list_inner_product(q.s, cb.c) AS pdot
      |  FROM sub q JOIN cb ON q.m = cb.m WHERE q.id < 5),
      |sc AS (SELECT q_id, enc.id AS n_id,
      |    CAST(SUM(CAST(pdot AS DECIMAL(28,12))) AS DOUBLE) AS score
      |  FROM enc JOIN lut ON enc.m = lut.m AND enc.code = lut.cid
      |  WHERE enc.id <> lut.q_id
      |  GROUP BY q_id, enc.id)
      |SELECT q_id, rn, n_id FROM (
      |  SELECT q_id, n_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rn
      |  FROM sc) WHERE rn <= 10""".stripMargin

  /** DuckDB replay of q_mmr's greedy selection, 10 unrolled stages
    * (the BpeOracle idiom): candidates = brute-force top-20 with RAW-
    * sim rank but round(9) relevance; pair sims round(9); stage i
    * picks argmax round(0.7·rel − (1 − 0.7)·maxp, 9) with low-id
    * tie-break over the not-yet-selected candidates. `(1 - 0.7)`
    * stays an explicit subtraction so DuckDB computes the SAME double
    * the Scala side's `1.0 - lambda` produces (0.30000000000000004 —
    * a literal 0.3 would NOT match). Every sel_i/all_i stage is
    * MATERIALIZED: stage i references all_{i-1} THREE times (JOIN +
    * NOT EXISTS + UNION ALL), so without materialization DuckDB
    * inlines the chain into ~3^k subplans and never terminates
    * (unlike q_kcore/q_bpe whose stages reference the previous stage
    * once — linear inlining, safe). */
  private val MmrOracle: String = {
    val k = 10
    val stages = (2 to k).map { i =>
      s"""sel_$i AS MATERIALIZED (SELECT q_id, $i AS pick, n_id FROM (
         |    SELECT c.q_id, c.n_id, row_number() OVER (PARTITION BY c.q_id
         |      ORDER BY round(0.7 * c.rel - (1 - 0.7) * mp.maxp, 9) DESC, c.n_id) AS r
         |    FROM cand c
         |    JOIN (SELECT ps.q_id, ps.n_id, MAX(ps.psim) AS maxp
         |          FROM ps JOIN all_${i - 1} s ON ps.q_id = s.q_id AND ps.s_id = s.n_id
         |          GROUP BY ps.q_id, ps.n_id) mp
         |      ON mp.q_id = c.q_id AND mp.n_id = c.n_id
         |    WHERE NOT EXISTS (SELECT 1 FROM all_${i - 1} s2
         |        WHERE s2.q_id = c.q_id AND s2.n_id = c.n_id)) WHERE r = 1),
         |all_$i AS MATERIALIZED (SELECT * FROM all_${i - 1} UNION ALL SELECT * FROM sel_$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |cand AS MATERIALIZED (SELECT q_id, n_id, rel, nv FROM (
      |    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |      round(list_cosine_similarity(a.ve, b.ve), 9) AS rel, b.ve AS nv,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY list_cosine_similarity(a.ve, b.ve) DESC, b.vec_id) AS rn
      |    FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) WHERE rn <= 20),
      |ps AS MATERIALIZED (SELECT a.q_id, a.n_id, b.n_id AS s_id,
      |    round(list_cosine_similarity(a.nv, b.nv), 9) AS psim
      |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id),
      |sel_1 AS MATERIALIZED (SELECT q_id, 1 AS pick, n_id FROM (
      |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
      |      ORDER BY rel DESC, n_id) AS r FROM cand) WHERE r = 1),
      |all_1 AS MATERIALIZED (SELECT * FROM sel_1),
      |$stages
      |SELECT q_id, pick, n_id FROM all_$k ORDER BY q_id, pick""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // #36: brute-force cosine top-k (ids + ranks only, never floats)
    QueryDef("q_ann_bruteforce", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select("q_id", "rn", "n_id")
    },
      AnnBruteSql),

    // #37: LSH-bucketed ANN, deterministic md5-parity planes (recall vs
    // brute force additionally asserted in ScalaTest)
    QueryDef("q_ann_lsh", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      AnnLsh.annTopKExact(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select("q_id", "rn", "n_id")
    },
      AnnLshSql),

    // #38: IVF ANN with deterministic stride-init centroids, zero Lloyd
    // passes (no float averaging → oracle-reproducible); the k-means
    // refinement path is covered by ScalaTest recall assertions
    QueryDef("q_ann_ivf", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      AnnIvf.annTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
        nlist = 16, nprobe = 4, iters = 0)
        .select("q_id", "rn", "n_id")
    },

      // IVF replayed: stride-init centroids (no Lloyd refinement → no
      // float averaging), argmax-cosine assignment, top-4 probed cells,
      // exact rank within the probed union.
      AnnIvfSql),

    // #279: simplified silhouette per IVF/k-means cell — the
    // clustering-QUALITY gate beside the q_ann_* recall gates (recall
    // grades the INDEX; silhouette grades whether the cells are
    // clusters at all — the number a SemDeDup/curation pipeline checks
    // before trusting cell-local decisions). Centroid-based O(n·k)
    // variant; sims round(9) before the argmax (the assign tie rule).
    QueryDef("q_silhouette", (s, dir) =>
      operators.AnnIvf.silhouette(tp(s, dir, "embeddings"),
        "vec_id", "embedding", 16),

      // IvfCentroidsSql, then top-2 rounded sims per vector and the
      // (s1−s2)/(1−s2) silhouette fold
      s"""WITH $IvfCentroidsSql
        |sims AS (SELECT e.vec_id AS id, c.cid,
        |    round(list_cosine_similarity(ve, ce), 9) AS sim FROM e CROSS JOIN c),
        |rk AS (SELECT id, cid, sim,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cid) AS rr FROM sims),
        |pv AS (SELECT id, MAX(CASE WHEN rr = 1 THEN sim END) AS s1,
        |    MAX(CASE WHEN rr = 1 THEN cid END) AS cid,
        |    MAX(CASE WHEN rr = 2 THEN sim END) AS s2
        |  FROM rk WHERE rr <= 2 GROUP BY id)
        |SELECT cid, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(CASE WHEN s2 IS NULL OR 1.0 - s2 = 0.0 THEN 0.0
        |      ELSE round((s1 - s2) / (1.0 - s2), 9) END AS DECIMAL(28,9))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS mean_sil
        |FROM pv GROUP BY cid ORDER BY cid""".stripMargin),

    // #281: Adjusted Rand Index (Hubert & Arabie 1985) of the IVF
    // cells against the documents' source labels — the EXTERNAL
    // clustering-validation number beside #279's internal silhouette
    // (silhouette asks "are the cells compact?"; ARI asks "do the
    // cells recover the known partition?" — the gate a
    // SemDeDup/curation pipeline checks when a gold grouping exists).
    // Pair-counting form kept integer-exact as DOUBLED pair sums
    // Σx(x−1) (no /2 anywhere near an integer), contingency table is
    // cells × sources — domain-sized; the only doubles are the one
    // closed-form ARI tree at the end, round(9). Assignment is the
    // oracle-exact stride-init + round(9)-argmax (the q_silhouette /
    // q_kmeans replay rule).
    QueryDef("q_rand_index", (s, dir) => {
      val ct = cellSourceTable(s, dir)
      val x = ct.agg(sum(col("nij") * (col("nij") - lit(1L))).as("sum2_ij"))
      val aa = ct.groupBy(col("cid")).agg(sum(col("nij")).as("ai"))
        .agg(sum(col("ai") * (col("ai") - lit(1L))).as("sum2_a"),
          sum(col("ai")).as("n"))
      val bb = ct.groupBy(col("source")).agg(sum(col("nij")).as("bj"))
        .agg(sum(col("bj") * (col("bj") - lit(1L))).as("sum2_b"))
      def ndl(c: Column) = c.cast("double")
      val exp = ndl(col("sum2_a")) * ndl(col("sum2_b")) /
        (ndl(col("n")) * (ndl(col("n")) - lit(1.0)))
      val den = (ndl(col("sum2_a")) + ndl(col("sum2_b"))) / lit(2.0) - exp
      x.crossJoin(aa).crossJoin(bb)
        .select(col("n"), col("sum2_ij"), col("sum2_a"), col("sum2_b"),
          round(when(den === lit(0.0), lit(0.0))
            .otherwise((ndl(col("sum2_ij")) - exp) / den), 9).as("ari"))
    },

      // IvfRoundedAssignSql, then the pair-counting ARI off the
      // cells × sources contingency table — doubled pair sums Σx(x−1)
      // stay BIGINT-exact, one closed-form double tree at the end
      // (identical tree in Spark)
      s"""WITH $IvfRoundedAssignSql
        |ct AS (SELECT a.cid, d.source, CAST(count(*) AS BIGINT) AS nij
        |  FROM asn a JOIN documents d ON d.doc_id = a.id GROUP BY 1, 2),
        |x AS (SELECT CAST(SUM(nij * (nij - 1)) AS BIGINT) AS sum2_ij FROM ct),
        |aa AS (SELECT CAST(SUM(ai * (ai - 1)) AS BIGINT) AS sum2_a,
        |    CAST(SUM(ai) AS BIGINT) AS n
        |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM ct GROUP BY cid)),
        |bb AS (SELECT CAST(SUM(bj * (bj - 1)) AS BIGINT) AS sum2_b
        |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM ct GROUP BY source))
        |SELECT n, sum2_ij, sum2_a, sum2_b,
        |  round(CASE WHEN (CAST(sum2_a AS DOUBLE) + CAST(sum2_b AS DOUBLE)) / 2.0
        |        - CAST(sum2_a AS DOUBLE) * CAST(sum2_b AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) = 0.0 THEN 0.0
        |    ELSE (CAST(sum2_ij AS DOUBLE)
        |        - CAST(sum2_a AS DOUBLE) * CAST(sum2_b AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
        |      / ((CAST(sum2_a AS DOUBLE) + CAST(sum2_b AS DOUBLE)) / 2.0
        |        - CAST(sum2_a AS DOUBLE) * CAST(sum2_b AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END, 9) AS ari
        |FROM x CROSS JOIN aa CROSS JOIN bb""".stripMargin),

    // #181: product-quantization ANN (8×8-dim subspaces, 16-entry
    // stride-init codebooks): maximum-inner-product search where the
    // corpus is touched only as (id, subspace, code) bytes and scoring
    // is a broadcast LUT join + decimal-exact ADC sum — the memory-
    // side 100 TB scale path complementing IVF's compute-side pruning
    QueryDef("q_ann_pq", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      AnnPq.annTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
    },
      AnnPqSql),

    // #181b: recall@10 of the PQ index vs brute force — the
    // q_ann_recall acceptance metric for the quantized index
    QueryDef("q_ann_recall_pq", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id"))
      val pq = AnnPq.annTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id").as("pq"), col("n_id").as("pn"))
      bf.join(pq, bf("q_id") === col("pq") && bf("n_id") === col("pn"), "left")
        .groupBy(col("q_id")).agg(count(col("pn")).as("n_hit"))
    },

      // recall@10 of the PQ index vs the brute-force ground truth
      s"""WITH bf AS ($AnnBruteSql),
        |pq AS ($AnnPqSql)
        |SELECT bf.q_id, count(pq.n_id) AS n_hit
        |FROM bf LEFT JOIN pq ON bf.q_id = pq.q_id AND bf.n_id = pq.n_id
        |GROUP BY bf.q_id""".stripMargin),

    // #180: distributed spherical k-means over embeddings (stride
    // init, ONE oracle-exact Lloyd pass — decimal(28,12) per-dim sums
    // make the float averaging order-independent and replayable in
    // SQL, unlike plain avg). Output: per-cluster size + vec_id
    // checksum — integers, the strongest schema-stable cluster
    // assignment witness. The multi-iteration double-avg path stays
    // covered by AnnIvf ScalaTest recall assertions.
    QueryDef("q_kmeans", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      val centroids = AnnIvf.fitExact(e, "vec_id", "embedding", 8, 1)
      // simRound=9: the argmax-cosine assignment is tie-safe across
      // engines (round-then-argmax, low-cid tie-break) — a raw-double
      // near-tie between two centroids would otherwise flip membership
      // on whichever engine's float tree lands a ULP apart
      AnnIvf.assign(e, centroids, "vec_id", "embedding", simRound = Some(9))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("id")).as("id_checksum"))
    },

      // spherical k-means replay: stride init (row_number over vec_id %
      // stride), TIE-SAFE argmax-cosine assignment (round(sim, 9) before
      // the argmax, tie → low cid — mirrors AnnIvf.assign simRound=9; a
      // raw-double ORDER BY would let a ULP gap between the two engines'
      // cosine trees flip a near-tie), decimal-exact per-dim mean,
      // reassign, aggregate
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |st AS (SELECT GREATEST(COUNT(*) // 8, 1) AS stride FROM e),
        |init AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, ve AS c
        |  FROM e WHERE vec_id % (SELECT stride FROM st) = 0
        |  ORDER BY vec_id LIMIT 8),
        |a1 AS (SELECT vec_id, ve, cid FROM (
        |    SELECT e.vec_id, e.ve, init.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.ve, init.c), 9) DESC, init.cid ASC) AS rn
        |    FROM e, init) WHERE rn = 1),
        |ex AS (SELECT cid, unnest(ve) AS v, unnest(range(1, len(ve) + 1)) AS pos FROM a1),
        |upd AS (SELECT cid, pos,
        |    CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
        |  FROM ex GROUP BY cid, pos),
        |c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM upd GROUP BY cid),
        |a2 AS (SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c1.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.ve, c1.c), 9) DESC, c1.cid ASC) AS rn
        |    FROM e, c1) WHERE rn = 1)
        |SELECT cid, COUNT(*) AS n_members,
        |  CAST(SUM(vec_id) AS BIGINT) AS id_checksum
        |FROM a2 GROUP BY cid""".stripMargin),

    // #56: df-weighted term relevance (TF-IDF family), top-3 per doc
    QueryDef("q_tfidf", (s, dir) =>
      Tfidf.topTerms(tp(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", 3),
      raw"""WITH terms AS (SELECT doc_id,
        |    unnest(${tokensSql("lower(text)")}) AS term
        |  FROM documents WHERE doc_id < 200),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT doc_id, term, rnk FROM (
        |  SELECT tf.doc_id, tf.term,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) / CAST(dfq.df AS DOUBLE) DESC,
        |               tf.term ASC) AS rnk
        |  FROM tf JOIN dfq USING (term))
        |WHERE rnk <= 3""".stripMargin),

    // #243: per-dimension embedding statistics (feature-drift monitor —
    // the vector-pipeline health check a 100 TB embedding store runs
    // per ingest batch): mean and population std per dimension from
    // ONE posexplode + hash agg with decimal-exact moment sums; the
    // only float steps are the two shared closed-form trees, round(9).
    QueryDef("q_vector_stats", (s, dir) =>
      tp(s, dir, "embeddings")
        .select(posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "v")))
        .groupBy(col("dim"))
        .agg(count(lit(1)).cast("double").as("nd"),
          sum(col("v").cast("decimal(18,12)")).cast("double").as("sx"),
          sum((col("v").cast("decimal(18,12)") *
            col("v").cast("decimal(18,12)")).cast("decimal(38,24)"))
            .cast("double").as("sx2"))
        .select(col("dim").cast("int").as("dim"),
          round(col("sx") / col("nd"), 9).as("mean"),
          round(sqrt(col("sx2") * col("nd") - col("sx") * col("sx")) /
            col("nd"), 9).as("std"))
        .orderBy(col("dim")),

      // per-dimension moment replay: decimal-exact sums, one shared
      // closed-form IEEE tree per statistic, round(9)
      """WITH e AS (SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    unnest(range(0, len(embedding))) AS dim
        |  FROM embeddings),
        |m AS (SELECT CAST(dim AS INT) AS dim, CAST(COUNT(*) AS DOUBLE) AS nd,
        |    CAST(SUM(CAST(v AS DECIMAL(18,12))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(CAST(v AS DECIMAL(18,12)) * CAST(v AS DECIMAL(18,12))
        |      AS DECIMAL(38,24))) AS DOUBLE) AS sx2
        |  FROM e GROUP BY dim)
        |SELECT dim, ROUND(sx / nd, 9) AS mean,
        |  ROUND(sqrt(sx2 * nd - sx * sx) / nd, 9) AS std
        |FROM m ORDER BY dim""".stripMargin),

    // #245: Johnson–Lindenstrauss random projection (Achlioptas 2003
    // ±1 variant) — the cheap dimensionality reduction ahead of ANN /
    // clustering at 100 TB: 64-dim embeddings → 16 components via a
    // DETERMINISTIC Rademacher matrix (sign from the md5-60bit hash of
    // (component, dim), so the projection replays on any engine with
    // no shipped matrix). Inputs are 1e-6-quantized (the
    // q_dedup_embedding rule) and the ±sums run in exact decimal — the
    // projection is integer-exact arithmetic end to end, one fan-out
    // projection + hash agg, no shuffle of the raw vectors.
    QueryDef("q_random_projection", (s, dir) =>
      tp(s, dir, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), posexplode(col("embedding").cast("array<double>"))
          .as(Seq("d", "x")))
        .select(col("vec_id"), col("d"),
          round(col("x"), 6).cast("decimal(18,6)").as("q"),
          explode(sequence(lit(0), lit(15))).as("j"))
        .withColumn("sgn",
          when(NativeExpressions.md5Prefix60(concat(lit("rp:"), col("j"),
            lit(":"), col("d"))) % 2 === 0, 1)
            .otherwise(-1))
        .groupBy(col("vec_id"), col("j"))
        .agg(sum(when(col("sgn") === 1, col("q")).otherwise(-col("q")))
          .cast("double").as("comp"))
        .orderBy(col("vec_id"), col("j")),

      // JL projection replay: deterministic Rademacher signs from the
      // md5-60bit hash of (component, dim); 1e-6-quantized inputs summed
      // in exact decimal — integer-exact arithmetic end to end
      """WITH e AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    unnest(range(0, len(embedding))) AS d
        |  FROM embeddings WHERE vec_id < 200),
        |q AS (SELECT vec_id, CAST(d AS INT) AS d,
        |    CAST(round(x, 6) AS DECIMAL(18,6)) AS qv FROM e),
        |js AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS j),
        |s AS (SELECT vec_id, js.j,
        |    CASE WHEN ('0x' || substring(md5('rp:' || CAST(js.j AS VARCHAR)
        |        || ':' || CAST(q.d AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
        |      THEN qv ELSE -qv END AS term
        |  FROM q, js)
        |SELECT vec_id, j, CAST(SUM(term) AS DOUBLE) AS comp
        |FROM s GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin),

    // #252: maximal-marginal-relevance diversity re-rank (Carbonell &
    // Goldstein SIGIR'98) — after the index returns 20 candidates per
    // query, greedily pick 10 maximizing λ·rel − (1−λ)·max-sim-to-
    // selected: the dedup-aware retrieval that keeps a training batch
    // from being 10 copies of the same neighborhood. Greedy loop runs
    // on queries×20 rows only; round(9) sims + low-id tie-breaks make
    // the whole greedy TRAJECTORY engine-replayable (oracle = 10
    // unrolled CTE stages).
    QueryDef("q_mmr", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      Ann.mmrTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nCand = 20)
        .orderBy(col("q_id"), col("pick"))
    },

      // MMR replay: 10 unrolled greedy stages (the BpeOracle idiom);
      // round(9) sims and (1 - 0.7) — the literal Scala 1.0 - lambda
      // subtraction — keep the greedy trajectory engine-identical
      MmrOracle),

    // #250: NDCG@10 of the LSH index against the brute-force ranking —
    // the GRADED companion of q_ann_recall (recall counts hits; NDCG
    // scores their positions): relevance = 11 − true rank, per-term
    // rel/log2(pos+1) rounded 9 THEN summed in exact decimal (order-
    // free, a 1-ULP log2 wobble cannot move the sum), one shared
    // final division.
    QueryDef("q_ndcg", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      // r18 (guide §3.3): bf feeds both the DCG join and the IDCG agg —
      // checkpoint the queries×k ranking so brute force runs once
      val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id"), (lit(11) - col("rn")).as("rel"))
        .eagerCheckpoint()
      val ls = AnnLsh.annTopKExact(e, q, "vec_id", "embedding", 10)
        .select(col("q_id").as("lq"), col("n_id").as("ln"), col("rn").as("pos"))
      val dcg = ls.join(bf,
          col("lq") === bf("q_id") && col("ln") === bf("n_id"), "left")
        .groupBy(col("lq").as("qid"))
        .agg(sum(round(coalesce(col("rel"), lit(0)).cast("double") /
          log2(col("pos") + 1), 9).cast("decimal(18,9)")).as("dcg"))
      val idcg = bf.groupBy(col("q_id"))
        .agg(sum(round(col("rel").cast("double") /
          log2(col("rel") * -1 + 12), 9).cast("decimal(18,9)")).as("idcg"))
      dcg.join(idcg, col("qid") === idcg("q_id"))
        .select(col("qid").as("q_id"),
          round(col("dcg").cast("double") / col("idcg").cast("double"), 9)
            .as("ndcg"))
        .orderBy(col("q_id"))
    },

      // NDCG replay over the shared brute-force/LSH arm CTEs: per-term
      // round(9) then decimal sum (order-free), one final division
      s"""WITH bf AS (SELECT q_id, n_id, 11 - rn AS rel FROM ($AnnBruteSql)),
        |ls AS (SELECT q_id AS lq, n_id AS ln, rn AS pos FROM ($AnnLshSql)),
        |d AS (SELECT ls.lq AS q_id,
        |    SUM(CAST(round(CAST(COALESCE(bf.rel, 0) AS DOUBLE)
        |      / log2(ls.pos + 1), 9) AS DECIMAL(18,9))) AS dcg
        |  FROM ls LEFT JOIN bf ON ls.lq = bf.q_id AND ls.ln = bf.n_id
        |  GROUP BY ls.lq),
        |i AS (SELECT q_id,
        |    SUM(CAST(round(CAST(rel AS DOUBLE) / log2(12 - rel), 9)
        |      AS DECIMAL(18,9))) AS idcg
        |  FROM bf GROUP BY q_id)
        |SELECT d.q_id, round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 9) AS ndcg
        |FROM d JOIN i ON d.q_id = i.q_id ORDER BY d.q_id""".stripMargin),

    // #255: rank-biased overlap @10 (Webber et al. TOIS'10) between the
    // LSH index ranking and the exact brute-force ranking — the graded
    // POSITION-SENSITIVE index-quality metric beside recall@10 (set
    // overlap) and NDCG@10 (relevance discount): truncated RBO with
    // p=0.9, no extrapolation. A doc at LSH rank i / true rank j joins
    // the overlap for every depth d >= max(i,j), so ov_d is one count
    // per (query, depth); the (1−p)·p^(d−1) weights are EXACT decimal
    // literals shipped as a 10-row broadcast dim (no pow() — libm
    // trees differ across engines), each depth term rounds 9 then
    // decimal-sums (order-free).
    QueryDef("q_rbo", (s, dir) => {
      import s.implicits._
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id"), col("rn").as("bpos"))
      // r18 (guide §3.3): ls feeds the overlap join AND the per-query
      // universe — checkpoint the queries×k ranking, LSH runs once
      val ls = AnnLsh.annTopKExact(e, q, "vec_id", "embedding", 10)
        .select(col("q_id").as("lq"), col("n_id").as("ln"), col("rn").as("apos"))
        .eagerCheckpoint()
      val wdf = RboWeights.toDF("d", "wv")
      val matched = ls.join(bf,
          col("lq") === col("q_id") && col("ln") === col("n_id"))
        .select(col("lq").as("qid"), greatest(col("apos"), col("bpos")).as("m"))
      val terms = matched.join(broadcast(wdf), col("d") >= col("m"))
        .groupBy(col("qid"), col("d"), col("wv"))
        .agg(count(lit(1)).as("ov"))
        .select(col("qid"),
          round(col("wv").cast("double") * col("ov").cast("double") /
            col("d").cast("double"), 9).cast("decimal(18,9)").as("term"))
      ls.select(col("lq").as("qid")).distinct()
        .join(terms.groupBy(col("qid")).agg(sum(col("term")).as("srbo")),
          Seq("qid"), "left")
        .select(col("qid").as("q_id"),
          coalesce(col("srbo").cast("double"), lit(0.0)).as("rbo"))
        .orderBy(col("q_id"))
    },

      // truncated-RBO replay: same exact-decimal weight VALUES list, the
      // same max(rank_a, rank_b) >= d overlap expansion, round(9) terms
      // decimal-summed
      s"""WITH bf AS (SELECT q_id, n_id, rn AS bpos FROM ($AnnBruteSql)),
        |ls AS (SELECT q_id AS lq, n_id AS ln, rn AS apos FROM ($AnnLshSql)),
        |w(d, wv) AS (VALUES ${RboWeights.map { case (d, w) => s"($d, '$w')" }.mkString(", ")}),
        |m AS (SELECT ls.lq AS qid, greatest(ls.apos, bf.bpos) AS m
        |  FROM ls JOIN bf ON ls.lq = bf.q_id AND ls.ln = bf.n_id),
        |t AS (SELECT qid, d,
        |    CAST(round(CAST(wv AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
        |      / CAST(d AS DOUBLE), 9) AS DECIMAL(18,9)) AS term
        |  FROM m JOIN w ON w.d >= m.m GROUP BY qid, d, wv),
        |qs AS (SELECT DISTINCT lq AS qid FROM ls),
        |sr AS (SELECT qid, SUM(term) AS srbo FROM t GROUP BY qid)
        |SELECT qs.qid AS q_id,
        |  COALESCE(CAST(sr.srbo AS DOUBLE), 0.0) AS rbo
        |FROM qs LEFT JOIN sr ON qs.qid = sr.qid
        |ORDER BY q_id""".stripMargin),

    // #204: deterministic weighted negative sampling (word2vec /
    // contrastive-training noise draws): k negatives per token
    // occurrence from the capped-unigram noise distribution
    // w(t) = min(count, 64) — capping flattens the head like the
    // classic ^0.75 but stays INTEGER-exact, so the whole draw
    // replays in SQL. Inverse-CDF over the cumulative vocab weight
    // table: the cumulative runs over the vocab-bounded table, each
    // 60-bit md5 draw maps to u ∈ [0, W), and the interval lookup is
    // the binned range join (intervals explode to ≤ 3 width-64 bins;
    // draws equi-join their bin) — no broadcast nested loop, no
    // global sort of draws. Output: the induced noise distribution
    // (top-50 drawn tokens), which converges on w(t)/W.
    QueryDef("q_neg_sampling", (s, dir) => {
      val k = 2
      val tok = tp(s, dir, "documents")
        .select(col("doc_id"), posexplode(TextAnalysis.tokens(lower(col("text")))))
        .toDF("doc_id", "j", "token")
      val wv = boundedGlobal("vocab table, |distinct tokens| rows")
        .orderBy(col("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // r18 (guide §3.3): vocab feeds tot, bins and the final join —
      // checkpoint the vocab-sized table once (3 tokenize passes → 1,
      // plus the draws pass)
      val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
        .withColumn("w", least(col("c"), lit(64L)))
        .withColumn("hi", sum(col("w")).over(wv))
        .withColumn("lo", col("hi") - col("w"))
        .eagerCheckpoint()
      val tot = vocab.agg(sum(col("w")).as("bigW"))
      val bins = vocab.withColumn("bin",
        explode(sequence(shiftright(col("lo"), 6),
          shiftright(col("hi") - 1, 6))))
      val draws = tok
        .withColumn("i", explode(sequence(lit(0), lit(k - 1))))
        .crossJoin(broadcast(tot))
        .select((NativeExpressions.md5Prefix60(concat(lit("neg:"),
          col("doc_id"), lit(":"), col("j"), lit(":"), col("i")))
          % col("bigW")).as("u"))
        .withColumn("bin", shiftright(col("u"), 6))
      draws.join(bins, Seq("bin"))
        .filter(col("u") >= col("lo") && col("u") < col("hi"))
        .groupBy(col("token"), col("w"))
        .agg(count(lit(1)).as("n_drawn"))
        .orderBy(col("n_drawn").desc, col("token").asc).limit(50)
    },
      raw"""WITH t AS (SELECT doc_id,
        |    ${tokensSql("lower(text)")} AS tk
        |  FROM documents),
        |tok AS (SELECT doc_id, j, tk[j + 1] AS token
        |  FROM (SELECT doc_id, tk, unnest(range(len(tk))) AS j FROM t)),
        |vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS c,
        |    CAST(least(count(*), 64) AS BIGINT) AS w
        |  FROM tok GROUP BY token),
        |cum AS (SELECT token, w,
        |    CAST(SUM(w) OVER (ORDER BY token ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
        |  FROM vocab),
        |iv AS (SELECT token, w, hi - w AS lo, hi FROM cum),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS bigW FROM vocab),
        |draws AS (SELECT (('0x' || substring(md5('neg:'
        |      || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)
        |      || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT) % bigW AS u
        |  FROM tok CROSS JOIN (SELECT unnest([0, 1]) AS i) CROSS JOIN tot)
        |SELECT iv.token, iv.w, CAST(count(*) AS BIGINT) AS n_drawn
        |FROM draws JOIN iv ON draws.u >= iv.lo AND draws.u < iv.hi
        |GROUP BY iv.token, iv.w
        |ORDER BY n_drawn DESC, token LIMIT 50""".stripMargin),

    // #118: inverted index build (term → df + sorted posting list) —
    // the lexical-search complement of the ANN family; one tokenize
    // scan, one term-keyed hash agg (AQE splits stopword-class terms)
    QueryDef("q_postings", (s, dir) =>
      operators.Search.postings(tp(s, dir, "documents"), "doc_id", "text"),
      raw"""WITH t AS (SELECT doc_id,
        |    ${tokensSql("lower(text)")} AS tk
        |  FROM documents),
        |tf AS (SELECT DISTINCT doc_id, term
        |  FROM (SELECT doc_id, unnest(tk) AS term FROM t))
        |SELECT term, count(*) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY term""".stripMargin),

    // #119: BM25 ranked retrieval — query-term filter BEFORE tf/df
    // aggregation (scored relation is |query|×df, never corpus-sized);
    // round(9) score + doc_id tie-break = engine-stable ranks
    QueryDef("q_bm25", (s, dir) =>
      operators.Search.bm25(tp(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join", "window")),
      raw"""WITH t AS (SELECT doc_id,
        |    ${tokensSql("lower(text)")} AS tk
        |  FROM documents),
        |dl AS (SELECT doc_id, len(tk) AS dl FROM t),
        |stats AS (SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |qtf AS (SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(tk) AS term FROM t)
        |  WHERE term IN ('spark', 'join', 'window') GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
        |scored AS (SELECT doc_id,
        |    round(sum(
        |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |          (CAST(df AS DOUBLE) + 0.5) + 1.0) *
        |      (CAST(tf AS DOUBLE) * 2.2) /
        |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |    ), 9) AS score
        |  FROM qtf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY doc_id)
        |SELECT doc_id, score,
        |  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
        |FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin),

    // #169: hybrid retrieval with reciprocal-rank fusion — dense
    // (exact cosine) + sparse (3-gram Jaccard) arms, each GroupTopK-
    // pruned to top-20, fused by 1/(60+rank) and re-ranked. Integer
    // arm ranks (0 = not retrieved) keep the output engine-exact; the
    // RRF score sums exactly two IEEE doubles, never an accumulation.
    QueryDef("q_rrf_hybrid", (s, dir) =>
      operators.Search.rrfHybrid(tp(s, dir, "documents"),
        t(s, dir, "embeddings"), "doc_id", "text", "vec_id", "embedding",
        nQueries = 5),

      // RRF hybrid retrieval replayed: both arms rebuilt exactly (cosine
      // ranks as in AnnBruteSql; jaccard from the q_ngram_jaccard shingle
      // construction restricted to shared >= 1 — the equi-join candidate
      // rule), CAST(1 AS DOUBLE) forces IEEE division where DuckDB's bare
      // 1.0 literal is decimal.
      raw"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS d_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
        |sem0 AS (SELECT q_id, d_id, list_cosine_similarity(qe, ne) AS sim
        |         FROM q, c WHERE d_id <> q_id),
        |sem AS (SELECT q_id, d_id, rsem FROM (
        |  SELECT q_id, d_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, d_id) AS rsem
        |  FROM sem0) WHERE rsem <= 20),
        |t AS (SELECT doc_id,
        |    ${tokensSql("text")} AS tk
        |  FROM documents),
        |shl AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |lex0 AS (SELECT a.doc_id AS q_id, b.doc_id AS d_id,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jac
        |  FROM shl a JOIN shl b ON b.doc_id <> a.doc_id
        |  WHERE a.doc_id < 5 AND len(list_intersect(a.sh, b.sh)) >= 1),
        |lex AS (SELECT q_id, d_id, rlex FROM (
        |  SELECT q_id, d_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY jac DESC, d_id) AS rlex
        |  FROM lex0) WHERE rlex <= 20),
        |f AS (SELECT COALESCE(sem.q_id, lex.q_id) AS q_id,
        |    COALESCE(sem.d_id, lex.d_id) AS d_id,
        |    COALESCE(rsem, 0) AS rsem, COALESCE(rlex, 0) AS rlex
        |  FROM sem FULL OUTER JOIN lex
        |    ON sem.q_id = lex.q_id AND sem.d_id = lex.d_id),
        |r AS (SELECT q_id, d_id, rsem, rlex,
        |    (CASE WHEN rsem > 0 THEN CAST(1 AS DOUBLE) / (60 + rsem) ELSE 0 END +
        |     CASE WHEN rlex > 0 THEN CAST(1 AS DOUBLE) / (60 + rlex) ELSE 0 END) AS rrf
        |  FROM f)
        |SELECT q_id, rn, d_id, rsem, rlex FROM (
        |  SELECT q_id, d_id, rsem, rlex,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, d_id) AS rn
        |  FROM r) WHERE rn <= 10""".stripMargin),

    // #172: hard-negative mining for contrastive training — per query
    // the top-10 corpus vectors in the cosine band [0.3, 0.8): similar
    // enough to teach, below the false-negative (near-dup) ceiling;
    // band filter BEFORE the GroupTopK heaps
    QueryDef("q_hard_negatives", (s, dir) => {
      val e = t(s, dir, "embeddings")
      operators.Ann.hardNegatives(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", 10, 0.3, 0.8)
    },

      // Hard negatives replayed: AnnBruteSql's cosine scan with the band
      // filter ahead of the rank.
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
        |s AS (SELECT q_id, n_id, list_cosine_similarity(qe, ne) AS sim
        |      FROM q, c WHERE n_id <> q_id),
        |b AS (SELECT q_id, n_id, sim FROM s WHERE sim >= 0.3 AND sim < 0.8),
        |r AS (SELECT q_id, n_id,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |      FROM b)
        |SELECT q_id, rn, n_id FROM r WHERE rn <= 10""".stripMargin),

    // #171: SemDeDup — semantic dedup WITHIN quantizer cells (the
    // web-scale embedding-dedup shape: equi-join on cell id, pairs
    // bounded by cell size, cross-cell pairs deliberately skipped);
    // keep-the-earliest per epsilon-neighborhood, integer output.
    // Cells above 40 vectors split on 4 md5-parity hyperplane sign
    // bits (the skew guard: Σ cell² stays bounded on a distribution
    // that dumps the corpus into one coarse cell)
    QueryDef("q_semdedup", (s, dir) =>
      operators.SemDedup.kept(t(s, dir, "embeddings"), "vec_id", "embedding",
        nlist = 16, theta = 0.4, maxCell = 40, subBits = 4),

      // SemDeDup replay: the AnnIvfSql stride-init assignment CTEs, then
      // the within-cell smaller-id-neighbor drop rule.
      s"""WITH $SemDedupGuardedSql
        |d AS (SELECT DISTINCT y.vec_id AS id
        |      FROM r x JOIN r y ON x.rk = y.rk AND x.vec_id < y.vec_id
        |      JOIN e ex ON ex.vec_id = x.vec_id
        |      JOIN e ey ON ey.vec_id = y.vec_id
        |      WHERE list_cosine_similarity(ex.ve, ey.ve) >= 0.4)
        |SELECT r.vec_id, r.cid AS cell FROM r LEFT JOIN d ON r.vec_id = d.id
        |WHERE d.id IS NULL""".stripMargin),

    // #171b: the quantizer's price, measured — of the exact cosine≥0.4
    // pairs on the bounded id range (ground truth = the q_cosine_pairs
    // shape), how many does the guarded cell join actually examine?
    // n_caught/n_true is SemDeDup's pair recall under the DEPLOYED
    // config (nlist=16, maxCell=40, subBits=4), cross-cell misses and
    // skew-split misses included
    QueryDef("q_semdedup_recall", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      val g = operators.SemDedup.assignedGuarded(e, "vec_id", "embedding",
        nlist = 16, maxCell = 40, subBits = 4).select(col("id"), col("rk"))
      val b = e.filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"))
      val truth = b.as("a").join(b.as("b"), col("a.vec_id") < col("b.vec_id"))
        .filter(Vectors.cosine(col("a.embedding"), col("b.embedding")) >= 0.4)
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"))
      val caught = truth
        .join(g.select(col("id").as("i"), col("rk").as("rki")), "i")
        .join(g.select(col("id").as("j"), col("rk").as("rkj")), "j")
        .filter(col("rki") === col("rkj"))
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
    },
      s"""WITH $SemDedupGuardedSql
        |b AS (SELECT vec_id, ve FROM e WHERE vec_id < 200),
        |tp AS (SELECT x.vec_id AS i, y.vec_id AS j FROM b x JOIN b y
        |       ON x.vec_id < y.vec_id
        |       WHERE list_cosine_similarity(x.ve, y.ve) >= 0.4),
        |ct AS (SELECT count(*) AS n_caught FROM tp
        |       JOIN r ri ON ri.vec_id = tp.i
        |       JOIN r rj ON rj.vec_id = tp.j WHERE ri.rk = rj.rk)
        |SELECT (SELECT count(*) FROM tp) AS n_true, ct.n_caught FROM ct""".stripMargin),

    // #120: sparse TF-IDF cosine pairs via the inverted-index join —
    // pairs meet per shared term, the dot product only accumulates
    // over the intersection; bounded id range keeps the oracle O(n²)-
    // free too (DuckDB joins the same index)
    QueryDef("q_sparse_cosine", (s, dir) =>
      operators.Search.sparseCosinePairs(tp(s, dir, "documents"),
        "doc_id", "text", 40L),
      raw"""WITH t AS (SELECT doc_id,
        |    ${tokensSql("lower(text)")} AS tk
        |  FROM documents WHERE doc_id < 40),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |w AS (SELECT doc_id, term,
        |    CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS w
        |  FROM tf JOIN dfq USING (term)),
        |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
        |dots AS (SELECT a.doc_id AS i, b.doc_id AS j, sum(a.w * b.w) AS dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j, round(dot / (ni.nrm * nj.nrm), 9) AS cos_sim
        |FROM dots JOIN norms ni ON dots.i = ni.doc_id
        |  JOIN norms nj ON dots.j = nj.doc_id""".stripMargin),

    // #134: ANN recall@10 — per-query hit count of the LSH index
    // against the brute-force ground truth, the acceptance metric an
    // ANN deployment is gated on. Both sides are the already-oracled
    // pipelines; the overlap count is a tiny integer join.
    QueryDef("q_ann_recall", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id"))
      val ls = AnnLsh.annTopKExact(e, q, "vec_id", "embedding", 10)
        .select(col("q_id").as("lq"), col("n_id").as("ln"))
      bf.join(ls, bf("q_id") === col("lq") && bf("n_id") === col("ln"), "left")
        .groupBy(col("q_id")).agg(count(col("ln")).as("n_hit"))
    },
      s"""WITH bf AS ($AnnBruteSql),
        |ls AS ($AnnLshSql)
        |SELECT bf.q_id, count(ls.n_id) AS n_hit
        |FROM bf LEFT JOIN ls ON bf.q_id = ls.q_id AND bf.n_id = ls.n_id
        |GROUP BY bf.q_id""".stripMargin),

    // #134b: recall@10 of the IVF index vs brute force (the q_ann_recall
    // acceptance metric for the cell-probing index family)
    QueryDef("q_ann_recall_ivf", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id"))
      val iv = AnnIvf.annTopK(e, q, "vec_id", "embedding", 10,
          nlist = 16, nprobe = 4, iters = 0)
        .select(col("q_id").as("iq"), col("n_id").as("in_"))
      bf.join(iv, bf("q_id") === col("iq") && bf("n_id") === col("in_"), "left")
        .groupBy(col("q_id")).agg(count(col("in_")).as("n_hit"))
    },

      // recall@10 of the IVF index vs the brute-force ground truth —
      // same acceptance metric as q_ann_recall for the LSH index
      s"""WITH bf AS ($AnnBruteSql),
        |iv AS ($AnnIvfSql)
        |SELECT bf.q_id, count(iv.n_id) AS n_hit
        |FROM bf LEFT JOIN iv ON bf.q_id = iv.q_id AND bf.n_id = iv.n_id
        |GROUP BY bf.q_id""".stripMargin),

    // #134c: recall@10 of the COMPOSED IVF×PQ serve (cell-prune, then
    // ADC over only the probed cells' codes — the path a 100 TB
    // deployment runs: nprobe/nlist of m-byte codes per query, raw
    // vectors never read) vs the brute-force ground truth. Both
    // quantizers stride-init (iters = 0) so the whole compose replays
    // exactly in external SQL.
    QueryDef("q_ann_recall_ivfpq", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id"))
      val ip = AnnPq.annTopKIvfPq(e, q, "vec_id", "embedding", 10,
          nlist = 16, nprobe = 4)
        .select(col("q_id").as("cq"), col("n_id").as("cn"))
      bf.join(ip, bf("q_id") === col("cq") && bf("n_id") === col("cn"), "left")
        .groupBy(col("q_id")).agg(count(col("cn")).as("n_hit"))
    },

      // recall@10 of the composed IVF×PQ serve (probed cells only, ADC
      // scoring) vs the brute-force ground truth
      s"""WITH bf AS ($AnnBruteSql),
        |ip AS ($AnnIvfPqSql)
        |SELECT bf.q_id, count(ip.n_id) AS n_hit
        |FROM bf LEFT JOIN ip ON bf.q_id = ip.q_id AND bf.n_id = ip.n_id
        |GROUP BY bf.q_id""".stripMargin),

    // #301: V-measure (homogeneity / completeness, Rosenberg &
    // Hirschberg EMNLP 2007) of the IVF cells vs the documents' source
    // labels — the INFORMATION-theoretic external validation beside
    // q_rand_index's pair-counting ARI (ARI counts pair agreements;
    // h/c DIAGNOSE the failure mode: homogeneity falls when a cell
    // mixes classes, completeness falls when a class shatters across
    // cells — the pair a curation pipeline reads to decide whether to
    // split or merge cells). Same oracle-exact stride-init +
    // round(9)-argmax assignment and the same checkpointed
    // cells × sources contingency table as ARI; every ln term is
    // round(9) into a DECIMAL sum, h and c close round(6), and V is
    // the harmonic mean of the two ROUNDED values (engine-identical by
    // construction).
    QueryDef("q_v_measure", (s, dir) => {
      val ct = cellSourceTable(s, dir)
      def nd(c: Column) = c.cast("double")
      val ak = ct.groupBy(col("cid")).agg(sum(col("nij")).as("ak"))
      val bc = ct.groupBy(col("source")).agg(sum(col("nij")).as("bc"))
      val tot = ct.agg(sum(col("nij")).cast("long").as("nn"))
      val hck = ct.join(broadcast(ak), "cid").crossJoin(broadcast(tot))
        .select(round(nd(col("nij")) / nd(col("nn")) *
            log(nd(col("nij")) / nd(col("ak"))), 9)
          .cast("decimal(28,9)").as("th"))
        .agg(sum(col("th")).as("s_ck"))
      val hkc = ct.join(broadcast(bc), "source").crossJoin(broadcast(tot))
        .select(round(nd(col("nij")) / nd(col("nn")) *
            log(nd(col("nij")) / nd(col("bc"))), 9)
          .cast("decimal(28,9)").as("th"))
        .agg(sum(col("th")).as("s_kc"))
      val hc = bc.crossJoin(broadcast(tot))
        .select(round(nd(col("bc")) / nd(col("nn")) *
            log(nd(col("bc")) / nd(col("nn"))), 9)
          .cast("decimal(28,9)").as("th"))
        .agg(sum(col("th")).as("s_c"))
      val hk = ak.crossJoin(broadcast(tot))
        .select(round(nd(col("ak")) / nd(col("nn")) *
            log(nd(col("ak")) / nd(col("nn"))), 9)
          .cast("decimal(28,9)").as("th"))
        .agg(sum(col("th")).as("s_k"))
      // H(C|K) = −s_ck, H(C) = −s_c (sums are ≤ 0);
      // h = 1 − H(C|K)/H(C) = 1 − s_ck/s_c
      val rounded = hck.crossJoin(broadcast(hkc)).crossJoin(broadcast(hc))
        .crossJoin(broadcast(hk)).crossJoin(broadcast(tot))
        .select(col("nn"),
          round(lit(1.0) - nd(col("s_ck")) / nd(col("s_c")), 6)
            .as("homogeneity"),
          round(lit(1.0) - nd(col("s_kc")) / nd(col("s_k")), 6)
            .as("completeness"))
      rounded.select(col("nn"), col("homogeneity"), col("completeness"),
        when(col("homogeneity") + col("completeness") === lit(0.0),
          lit(0.0))
          .otherwise(round(lit(2.0) * col("homogeneity") *
            col("completeness") /
            (col("homogeneity") + col("completeness")), 6))
          .as("v_measure"))
    },

      // same stride-init + round(9)-argmax assignment and contingency
      // table as q_rand_index; ln terms round(9) into DECIMAL sums, h/c
      // close round(6), V is the harmonic mean of the ROUNDED h and c
      s"""WITH $IvfRoundedAssignSql
        |ct AS MATERIALIZED (SELECT a.cid, d.source, CAST(count(*) AS BIGINT) AS nij
        |  FROM asn a JOIN documents d ON d.doc_id = a.id GROUP BY 1, 2),
        |ak AS (SELECT cid, CAST(SUM(nij) AS BIGINT) AS ak FROM ct GROUP BY cid),
        |bc AS (SELECT source, CAST(SUM(nij) AS BIGINT) AS bc FROM ct GROUP BY source),
        |tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS nn FROM ct),
        |hck AS (SELECT SUM(CAST(ROUND(CAST(nij AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * ln(CAST(nij AS DOUBLE) / CAST(ak AS DOUBLE)), 9) AS DECIMAL(28,9))) AS s_ck
        |  FROM ct JOIN ak USING (cid) CROSS JOIN tot),
        |hkc AS (SELECT SUM(CAST(ROUND(CAST(nij AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * ln(CAST(nij AS DOUBLE) / CAST(bc AS DOUBLE)), 9) AS DECIMAL(28,9))) AS s_kc
        |  FROM ct JOIN bc USING (source) CROSS JOIN tot),
        |hcm AS (SELECT SUM(CAST(ROUND(CAST(bc AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * ln(CAST(bc AS DOUBLE) / CAST(nn AS DOUBLE)), 9) AS DECIMAL(28,9))) AS s_c
        |  FROM bc CROSS JOIN tot),
        |hkm AS (SELECT SUM(CAST(ROUND(CAST(ak AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * ln(CAST(ak AS DOUBLE) / CAST(nn AS DOUBLE)), 9) AS DECIMAL(28,9))) AS s_k
        |  FROM ak CROSS JOIN tot),
        |r AS (SELECT nn,
        |    ROUND(1.0 - CAST(s_ck AS DOUBLE) / CAST(s_c AS DOUBLE), 6) AS homogeneity,
        |    ROUND(1.0 - CAST(s_kc AS DOUBLE) / CAST(s_k AS DOUBLE), 6) AS completeness
        |  FROM hck CROSS JOIN hkc CROSS JOIN hcm CROSS JOIN hkm CROSS JOIN tot)
        |SELECT nn, homogeneity, completeness,
        |  CASE WHEN homogeneity + completeness = 0.0 THEN 0.0
        |    ELSE ROUND(2.0 * homogeneity * completeness
        |      / (homogeneity + completeness), 6) END AS v_measure
        |FROM r""".stripMargin),

    // #305: MRR@10 of the LSH index vs brute force — the FIRST-HIT
    // grade completing the index-quality quartet (recall = set
    // overlap, NDCG = graded positions, RBO = ranking agreement, MRR =
    // "where does the TRUE nearest neighbor land", the number a
    // retrieval serving SLO is usually written against): per query,
    // the brute-force rank-1 neighbor's position in the index's
    // top-10; rr = 1/rank round(9), 0.0 on a miss (never a silent
    // drop). Both sides reuse the exact-replay ANN scaffolds; work is
    // queries × 10 after the index probes.
    QueryDef("q_mrr", (s, dir) => {
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bf1 = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .filter(col("rn") === 1)
        .select(col("q_id"), col("n_id").as("true_top1"))
      val ls = AnnLsh.annTopKExact(e, q, "vec_id", "embedding", 10)
        .select(col("q_id").as("lq"), col("rn").as("rank"),
          col("n_id").as("ln"))
      bf1.join(ls, bf1("q_id") === col("lq") &&
          col("true_top1") === col("ln"), "left")
        .select(col("q_id"), col("true_top1"),
          coalesce(col("rank"), lit(0)).cast("long").as("rank"),
          coalesce(round(lit(1.0) / col("rank").cast("double"), 9),
            lit(0.0)).as("rr"))
        .orderBy(col("q_id"))
    },

      // brute-force rank-1 located in the LSH top-10; rank 0 = miss
      (s"""WITH bf AS ($AnnBruteSql),
        |lf AS ($AnnLshSql)
        |SELECT bf.q_id, bf.n_id AS true_top1,
        |  CAST(COALESCE(lf.rn, 0) AS BIGINT) AS rank,
        |  COALESCE(ROUND(1.0 / CAST(lf.rn AS DOUBLE), 9), 0.0) AS rr
        |FROM bf LEFT JOIN lf ON lf.q_id = bf.q_id AND lf.n_id = bf.n_id
        |WHERE bf.rn = 1 ORDER BY bf.q_id""").stripMargin),
  )
}
