package graft

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NativeExpressions, TextAnalysis, Vectors}
import graft.operators.{Ann, AnnIvf, AnnLsh, AnnPq, AsOfJoin, BoundedWindow, Dedup, DedupCluster, Fingerprint, Multimodal, RangeJoin, Sampling, Sessionize, Tfidf, TopK}
import graft.operators.BoundedWindow.boundedGlobal
import graft.sources.TimeWindow

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every oracle-checked capability has a `queries` entry and a DuckDB
  * `oracleSql` entry with IDENTICAL column names; ordered outputs carry
  * a total deterministic order (tie-break on a unique key).
  *
  * Cross-engine determinism rules (SURVEY.md §4):
  *  - money/double aggregates go through decimal(18,2) sums, round(2),
  *    cast double — exact on both engines, order-independent;
  *  - pure scalar double expressions share the exact expression tree
  *    with the oracle SQL (bit-identical IEEE evaluation), no rounding;
  *  - timestamps surface as epoch-second bigints;
  *  - ANN outputs integer ids + ranks, never similarity floats.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** loadParallel: for queries whose per-row compute (hashing,
    * shingling, vector math) dominates the scan — see Tables. */
  private def tp(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadParallel(s, dir, name)

  /** decimal(18,2) sum → round(2) → double: the order-independent
    * money-aggregate pattern. */
  private def dsum(c: Column): Column =
    round(sum(c.cast("decimal(18,2)")), 2).cast("double")

  /** sum of extendedprice*(1-discount) in exact decimal → double. */
  private def revenue(price: Column, discount: Column): Column =
    round(sum((price.cast("decimal(18,2)") *
      (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
        discount.cast("decimal(18,2)"))).cast("decimal(28,4)")), 2)
      .cast("double")

  private val RevenueSql =
    "CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))), 2) AS DOUBLE)"

  /** The oracle-side `partsupp` derivation — the EXACT arithmetic of
    * `Tables.partsupp` as a DuckDB CTE (the testdata ships no partsupp
    * parquet, so both engines derive it from lineitem's distinct
    * (partkey, suppkey) pairs; see Tables.partsupp's doc). Keys cast
    * to BIGINT before the multiplies so both engines compute in
    * 64-bit; supplycost is integer cents / 100.0 — one IEEE division,
    * the same double everywhere. MATERIALIZED: every consumer
    * references it at least twice (multi-ref CTE rule, SURVEY §4). */
  private val PartsuppCte =
    """partsupp AS MATERIALIZED (
      |  SELECT ps_partkey, ps_suppkey,
      |    CAST((ps_partkey * 37 + ps_suppkey * 17) % 9999 + 1 AS INT)
      |      AS ps_availqty,
      |    CAST((ps_partkey * 31 + ps_suppkey * 13) % 99900 + 100 AS DOUBLE)
      |      / 100.0 AS ps_supplycost
      |  FROM (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS ps_partkey,
      |               CAST(l_suppkey AS BIGINT) AS ps_suppkey FROM lineitem))"""
      .stripMargin

  /** Shared scaffold for the rank/CDF two-sample tests (q_ks_test,
    * q_mannwhitney): per-arm cumulative counts of events.value at
    * every POOLED 2-dp value — the quantized domain bounds the grid
    * (values × arms) regardless of corpus size, so the cumulative
    * window runs over a domain-sized table, never the events scan.
    * Returns (pair-joined grid rows [e1 < e2], arm totals ×2). */
  private def armCdfGrid(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cum, tot) = armCumGrid(s, dir)
    val j = cum.select(col("arm").as("e1"), col("v"),
        col("c").as("c1"), col("cum").as("cum1"))
      .join(cum.select(col("arm").as("e2"), col("v").as("v2"),
        col("c").as("c2"), col("cum").as("cum2")),
        col("v") === col("v2") && col("e1") < col("e2"))
    (j, tot.select(col("arm").as("e1"), col("n").as("n1")),
      tot.select(col("arm").as("e2"), col("n").as("n2")))
  }

  /** The per-arm cumulative histogram [[armCdfGrid]] pair-joins:
    * (arm, v, c, cum) on the FILLED 2-dp grid plus per-arm totals —
    * exposed separately for the single-distribution consumers
    * (q_calibration's pooled-rank bins). */
  /** Shared (arm, bin) calibration grid for q_calibration and
    * q_murphy: pooled midrank-CDF scores off [[armCumGrid]], integer
    * deciles, bin sizes/score-sums and per-arm positives — returns
    * (the joined frame with arm, bin, nb, pos, s2, N, plus the per-arm
    * totals). Everything after the events histogram is domain-sized. */
  /** Pooled midrank scores off [[armCumGrid]] — the shared confidence
    * construction of the calibration family (q_calibration, q_murphy,
    * q_brier): per distinct 2-dp value, pooled count cp, pooled
    * cumulative cumsum, and the integer doubled-midrank
    * m2 = 2·cumsum − cp + 1 (score = m2/2N), with the grand total N
    * riding every row. Returns (cum, tot, pooled). */
  private def pooledMidrank(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cum, tot) = armCumGrid(s, dir)
    val bigN = tot.agg(sum(col("n")).as("N"))
    val pooled = cum.groupBy(col("v"))
      .agg(sum(col("c")).as("cp"), sum(col("cum")).as("cumsum"))
      .crossJoin(broadcast(bigN))
      .withColumn("m2", lit(2L) * col("cumsum") - col("cp") + lit(1L))
    (cum, tot, pooled)
  }

  private def calibBinGrid(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (cum, tot, pooled0) = pooledMidrank(s, dir)
    val pooled = pooled0
      .withColumn("bin",
        least(expr("(10 * m2) div (2 * N)"), lit(9L)).cast("int"))
    val bins = pooled.groupBy(col("bin"), col("N"))
      .agg(sum(col("cp")).as("nb"),
        sum((col("cp").cast("decimal(19,0)") *
          col("m2").cast("decimal(19,0)")).cast("decimal(28,0)"))
          .as("s2"))
    // coalesce is belt-and-braces (r13 advice): the filled grid
    // guarantees a c = 0 row for every (arm, v), so an arm with zero
    // events in a bin already sums to 0 — but if the fill were ever
    // dropped, a NULL pos_b would silently vanish from a downstream
    // ECE aggregation instead of scoring acc = 0
    val pos = cum.join(pooled.select(col("v"), col("bin")), "v")
      .groupBy(col("arm"), col("bin"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("pos"))
    (pos.join(bins, "bin"), tot)
  }

  private def armCumGrid(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // r18 (guide §3.3, the q_data_mix precedent): `h` is the
    // events-scan + histogram subtree, and the scaffold consumes it
    // FOUR+ times (grid's two distincts, the filled left join, tot —
    // and armCdfGrid's self-join doubles the cum side). Without
    // materialization every consumer re-runs the corpus scan
    // (StageProbe: 4-6 full events passes per query across the 8
    // scaffold queries). The histogram is domain-sized (arms ×
    // distinct 2-dp values), so one eager localCheckpoint buys
    // one-scan semantics for the whole family; values unchanged.
    val h = t(s, dir, "events")
      .select(col("event_type").as("arm"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy(col("arm"), col("v")).agg(count(lit(1)).as("c"))
      .eagerCheckpoint()
    val grid = h.select(col("v")).distinct()
      .crossJoin(broadcast(h.select(col("arm")).distinct()))
    val filled = grid.join(h, Seq("arm", "v"), "left").na.fill(0, Seq("c"))
    val wc = Window.partitionBy(col("arm")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = filled.withColumn("cum", sum(col("c")).over(wc))
    val tot = h.groupBy(col("arm")).agg(sum(col("c")).as("n"))
    (cum, tot)
  }

  /** Oracle-side twin of [[armCdfGrid]] — shared CTE prefix for the
    * two-sample test oracles (pre-stripped; ends after the `j` CTE
    * with no trailing comma). */
  private val ArmCumGridSql =
    """WITH h AS (SELECT event_type AS arm, CAST(value AS DECIMAL(18,2)) AS v,
      |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
      |grid AS (SELECT arm, v FROM (SELECT DISTINCT arm FROM h)
      |  CROSS JOIN (SELECT DISTINCT v FROM h)),
      |f AS (SELECT grid.arm, grid.v, COALESCE(h.c, 0) AS c FROM grid
      |  LEFT JOIN h ON h.arm = grid.arm AND h.v = grid.v),
      |cum AS (SELECT arm, v, c, CAST(SUM(c) OVER (PARTITION BY arm ORDER BY v
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM f),
      |tot AS (SELECT arm, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY arm)
      |""".stripMargin

  private val ArmCdfGridSql =
    (ArmCumGridSql.stripSuffix("\n") +
    """,
      |j AS (SELECT a.arm AS e1, b.arm AS e2, ta.n AS n1, tb.n AS n2, a.v,
      |    a.c AS c1, a.cum AS cum1, b.c AS c2, b.cum AS cum2
      |  FROM cum a JOIN cum b ON a.v = b.v AND a.arm < b.arm
      |  JOIN tot ta ON ta.arm = a.arm JOIN tot tb ON tb.arm = b.arm)
      |""".stripMargin)

  /** Oracle twin of q_bradley_terry: the directed doubled-win table off
    * [[ArmCdfGridSql]], then the TEN MM iterations UNROLLED as CTE
    * pairs (d_t = per-arm denominator with round(9) DECIMAL-summed
    * terms, p_t = update + Σp=1 renormalize) — both engines replay the
    * identical fixed-step trajectory, so the hash compare pins the
    * whole optimization path, not just a converged fixpoint. */
  private val BradleyTerrySql: String = {
    val base = ArmCdfGridSql +
      """,
        |u AS (SELECT e1, e2, n1, n2,
        |    SUM(CAST(c1 AS DECIMAL(19,0)) *
        |      (CAST(cum2 AS DECIMAL(19,0)) * 2 - CAST(c2 AS DECIMAL(19,0)))) AS u2
        |  FROM j GROUP BY e1, e2, n1, n2),
        |pairs AS MATERIALIZED (
        |  SELECT e1 AS i, e2 AS jj, CAST(u2 AS DECIMAL(28,0)) AS w2,
        |    CAST(n1 * n2 AS DECIMAL(28,0)) AS nn FROM u
        |  UNION ALL
        |  SELECT e2, e1, CAST(CAST(n1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0)) * 2
        |      - u2 AS DECIMAL(28,0)),
        |    CAST(n1 * n2 AS DECIMAL(28,0)) FROM u),
        |wins AS MATERIALIZED (SELECT i, SUM(w2) AS w2tot FROM pairs GROUP BY i),
        |p0 AS (SELECT i, ROUND(1.0 / CAST(k AS DOUBLE), 9) AS p
        |  FROM (SELECT DISTINCT i FROM pairs)
        |  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS k
        |              FROM (SELECT DISTINCT i FROM pairs)))""".stripMargin
    val iters = (1 to 10).map { it =>
      s"""d$it AS (SELECT pairs.i,
         |    SUM(CAST(ROUND(2.0 * CAST(nn AS DOUBLE) / (pi.p + pj.p), 9)
         |      AS DECIMAL(28,9))) AS dd
         |  FROM pairs JOIN p${it - 1} pi ON pi.i = pairs.i
         |  JOIN p${it - 1} pj ON pj.i = pairs.jj GROUP BY pairs.i),
         |u$it AS (SELECT wins.i,
         |    ROUND(CAST(w2tot AS DOUBLE) / CAST(dd AS DOUBLE), 9) AS p
         |  FROM wins JOIN d$it ON d$it.i = wins.i),
         |p$it AS MATERIALIZED (SELECT i, ROUND(p / CAST(sp AS DOUBLE), 9) AS p
         |  FROM u$it CROSS JOIN
         |    (SELECT SUM(CAST(p AS DECIMAL(28,9))) AS sp FROM u$it))""".stripMargin
    }.mkString(",\n")
    base + ",\n" + iters + "\n" +
      """SELECT p10.i AS arm, CAST(w2tot AS BIGINT) AS wins2, p
        |FROM p10 JOIN wins ON wins.i = p10.i ORDER BY arm""".stripMargin
  }

  /** Oracle-side verified near-dup PAIRS at exact Jaccard ≥ 0.8 over
    * distinct 3-shingles — the inverted-index join replay of
    * `Dedup.minHashNearDups` (per-gram equi-join, |A∪B| = |A|+|B|−|A∩B|;
    * never all-pairs). Shared CTE prefix ending at `pairs(i, j)` with
    * i < j; declared RECURSIVE so consumers may append recursive CTEs
    * (q_leakage_split's component closure). Pre-stripped, no trailing
    * comma. */
  private val NearDupPairsSql =
    """WITH RECURSIVE t AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents),
      |sh AS MATERIALIZED (SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      |  FROM t WHERE len(tk) >= 3),
      |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM sh),
      |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
      |isect AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS MATERIALIZED (SELECT i, j FROM isect
      |  JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
      |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.8)
      |""".stripMargin

  /** [[NearDupPairsSql]] with the corpus windowed to doc_id < 5000 —
    * the q_chrf replay bound (r14 verdict item 3): per-doc signatures
    * make the windowed pair set identical to filtering the unwindowed
    * pairs, and the bound pins the whole oracle — pair discovery AND
    * char-gram scoring — at sf0.1 cost on any corpus (unwindowed it
    * measured 128 s at sf1 against the 180 s harness limit). */
  private val NearDupPairsSqlWindowed =
    NearDupPairsSql.replace("FROM documents)",
      "FROM documents WHERE doc_id < 5000)")

  /** [[NearDupPairsSql]] extended with the min-label connected-
    * components closure — `comp(id, mn)` maps every doc on a near-dup
    * edge to its component's min label (the DedupCluster.components
    * replay). Shared by q_dedup_cluster and q_leakage_split so the
    * tokenizer/Jaccard/closure logic lives in exactly one place. */
  private val NearDupComponentsSql =
    (NearDupPairsSql.stripSuffix("\n") +
    """,
      |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
      |reach(s, d) AS (SELECT a, b FROM edges
      |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.d = e.a),
      |comp AS (SELECT s AS id, min(d) AS mn FROM reach GROUP BY s)
      |""".stripMargin)

  /** Brute-force cosine top-10 ranks (q_id, rn, n_id) — shared by
    * q_ann_bruteforce and as the ground-truth side of q_ann_recall. */
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

  /** LSH-bucketed ANN top-10 ranks, deterministic md5-parity planes
    * over 1e-6-quantized vectors (same construction as the Spark side)
    * — shared by q_ann_lsh and the approximate side of q_ann_recall. */
  private val AnnLshSql =
    """WITH w AS (
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
      |  FROM dots GROUP BY vec_id, t),
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

  /** Flagship: the reference's hashtag top-10 re-expressed over
    * documents.text (tokens play the hashtags role). Runs on sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_top10_tokens")(spark, "/root/testdata/sf0.001")

  /** NOT IN with a nullable probe side (NULLIF), shared verbatim: rows
    * whose probe value is NULL are dropped by three-valued logic, which
    * only a null-aware anti join honors. */
  private val NotInNullAwareQuery =
    """SELECT o_orderpriority, COUNT(*) AS n
      |FROM orders
      |WHERE NULLIF(o_custkey, 997) NOT IN
      |  (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      |GROUP BY o_orderpriority""".stripMargin

  /** Sequential funnel, shared verbatim: per-user first 'view', first
    * 'click' strictly after it, first 'purchase' strictly after that.
    * Timestamps compare natively within each engine; only counts
    * surface. */
  private val FunnelQuery =
    """WITH a AS (
      |  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      |  FROM events GROUP BY user_id),
      |b AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_click
      |  FROM events e JOIN a ON e.user_id = a.user_id
      |  WHERE e.event_type = 'click' AND e.ts > a.t_view
      |  GROUP BY e.user_id),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_purchase
      |  FROM events e JOIN b ON e.user_id = b.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > b.t_click
      |  GROUP BY e.user_id)
      |SELECT
      |  (SELECT COUNT(*) FROM a WHERE t_view IS NOT NULL) AS n_view,
      |  (SELECT COUNT(*) FROM b) AS n_click,
      |  (SELECT COUNT(*) FROM c) AS n_purchase""".stripMargin

  /** TPC-H Q3 shape, shared verbatim between spark.sql and DuckDB —
    * the SQL-interface capability is "one ANSI text, two engines". */
  private val SqlInterfaceQuery =
    """SELECT l_orderkey,
      |  CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue,
      |  CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** IN-subquery, shared verbatim between spark.sql and DuckDB. */
  private val InSubqueryQuery =
    """SELECT o_orderkey FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'MACHINERY')
      |  AND o_totalprice > 400000""".stripMargin

  /** Grouping sets, shared verbatim between spark.sql and DuckDB. */
  private val GroupingSetsQuery =
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      |  COALESCE(l_linestatus, 'ALL') AS status,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  /** Correlated LATERAL subquery with ORDER BY + LIMIT (top-2 customers
    * per nation), shared verbatim: Spark decorrelates it into a
    * ranked-window join, DuckDB executes it natively — same rows. */
  private val LateralQuery =
    """SELECT n_name, c.c_custkey, c.c_acctbal
      |FROM nation, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer
      |  WHERE c_nationkey = n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c""".stripMargin

  /** Recursive CTE (Spark 4's UnionLoop), shared verbatim: walks each
    * customer's orders in date order carrying an exact decimal running
    * total; surfaces chain length + final total per customer. Recursion
    * depth = max orders per customer (~20), so the loop is bounded by a
    * per-key sequence length, not table size — each iteration is one
    * hash join on (custkey, position). The window formulation is the
    * flat-scale path (q_window_rank); this row exercises iterative
    * plans for genuinely recursive workloads (BOM/graph walks). The
    * custkey bound keeps the demo honest about the cost model: Spark
    * re-evaluates the static `ord` side on every loop iteration (no
    * cross-iteration materialization yet), so the walked set — not the
    * corpus — must bound each step. */
  private val RecursiveChainQuery =
    """WITH RECURSIVE ord AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders WHERE o_custkey < 300),
      |chain AS (
      |  SELECT o_custkey, rn, CAST(o_totalprice AS DECIMAL(18,2)) AS run_tot,
      |    1 AS depth
      |  FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.o_custkey, o.rn,
      |    CAST(c.run_tot + CAST(o.o_totalprice AS DECIMAL(18,2)) AS DECIMAL(18,2)),
      |    c.depth + 1
      |  FROM ord o JOIN chain c ON o.o_custkey = c.o_custkey AND o.rn = c.rn + 1
      |  WHERE o.rn <= 8)
      |SELECT o_custkey, max(depth) AS chain_len,
      |  CAST(max_by(run_tot, depth) AS DOUBLE) AS total
      |FROM chain GROUP BY o_custkey""".stripMargin

  /** Spearman rank correlation per group, shared verbatim. Ranks use
    * the tie-averaged convention held in INTEGERS: 2·avg_rank =
    * 2·rank() + ties − 1 (rank() is min-rank, ties the per-value group
    * size), so every moment sum is an exact decimal of integers —
    * order-independent on both engines — and only the final rho
    * expression touches doubles (round(9) absorbs FMA ULPs, the
    * q_stats_agg rule). Two window passes share one hash partitioning
    * on the group key (same exchange, two sorts). */
  private val SpearmanQuery =
    """WITH r AS (
      |  SELECT l_returnflag AS rf,
      |    CAST(2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
      |      + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
      |      AS DECIMAL(18,0)) AS rx,
      |    CAST(2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
      |      + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1
      |      AS DECIMAL(18,0)) AS ry
      |  FROM lineitem),
      |m AS (
      |  SELECT rf, CAST(COUNT(*) AS DOUBLE) AS nd,
      |    CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(rx * ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(rx * rx AS DECIMAL(38,0))) AS DOUBLE) AS sx2,
      |    CAST(SUM(CAST(ry * ry AS DECIMAL(38,0))) AS DOUBLE) AS sy2
      |  FROM r GROUP BY rf)
      |SELECT rf, ROUND((nd * sxy - sx * sy) /
      |  sqrt((nd * sx2 - sx * sx) * (nd * sy2 - sy * sy)), 9) AS spearman
      |FROM m""".stripMargin

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
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |st AS (SELECT greatest(count(*) // 16, 1) AS stride FROM e),
      |c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, ve AS ce
      |      FROM e, st WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),
      |a AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(ve, ce) DESC, cid) AS rr
      |    FROM e CROSS JOIN c) WHERE rr = 1),
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
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |st AS (SELECT greatest(count(*) // 16, 1) AS stride FROM e),
      |c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, ve AS ce
      |      FROM e, st WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),
      |a AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(ve, ce) DESC, cid) AS rr
      |    FROM e CROSS JOIN c) WHERE rr = 1),
      |p AS (
      |  SELECT q_id, cid FROM (
      |    SELECT e.vec_id AS q_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(ve, ce) DESC, cid) AS rr
      |    FROM e CROSS JOIN c WHERE e.vec_id < 5) WHERE rr <= 4),
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
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |st AS (SELECT greatest(count(*) // 16, 1) AS stride FROM e),
      |c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, ve AS ce
      |      FROM e, st WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),
      |a AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(ve, ce) DESC, cid) AS rr
      |    FROM e CROSS JOIN c) WHERE rr = 1),
      |p AS (
      |  SELECT q_id, cid FROM (
      |    SELECT e.vec_id AS q_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(ve, ce) DESC, cid) AS rr
      |    FROM e CROSS JOIN c WHERE e.vec_id < 5) WHERE rr <= 4),
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

  /** BPE-encode replay: the merge table is the LEARNED one — the same
    * 8-round learning CTE chain as q_bpe_merges (BpeLearnCtes) feeds
    * the encode stages, exactly as the Spark side runs learnMerges →
    * segment, so the oracle never hardcodes a model. Each merge is one
    * chained CTE stage; the leftmost-non-overlapping fold runs as
    * list_reduce with a space-joined string accumulator (symbols never
    * contain spaces — words are whitespace-split; the end-of-word
    * marker is chr(57344) = Bpe.Marker). Suffix checks use substr, not
    * LIKE, so merge symbols need no wildcard escaping. A round that
    * learned no merge (best_k empty) LEFT-JOINs to NULL and the stage
    * passes rows through unchanged — mirroring the Spark fold over a
    * shorter learned-merge list. The fold runs once per DISTINCT
    * (source, word) with an occurrence count riding the stages (r10:
    * the fold is pure per word, so Σ_occurrences len ≡ Σ_distinct
    * cnt·len — value-identical, 44× fewer fold rows at sf0.01), and
    * `m` is AS MATERIALIZED — it is referenced by all 8 stages, and
    * un-materialized each stage re-inlined the learned-merge union
    * (the r9 multi-reference CTE rule; measured 43 s → 13 s, the
    * remaining cost being the shared learning chain itself). */
  private val BpeEncodeSql: String = {
    val fold =
      """list_reduce(string_split(s, ' '), (acc, x) -> CASE
        |      WHEN x = m.r AND (acc = m.l OR (len(acc) > len(m.l)
        |        AND substr(acc, len(acc) - len(m.l) + 1) = m.l
        |        AND substr(acc, len(acc) - len(m.l), 1) = ' '))
        |      THEN CASE WHEN acc = m.l THEN m.l || m.r
        |           ELSE left(acc, len(acc) - len(m.l) - 1) || ' ' || m.l || m.r END
        |      ELSE acc || ' ' || x END)""".stripMargin
    val stages = (1 to 8).map { i =>
      s"""s$i AS (SELECT source, cnt,
         |    CASE WHEN m.l IS NULL THEN s ELSE $fold END AS s
         |  FROM s${i - 1} LEFT JOIN m ON m.rank = $i)""".stripMargin
    }.mkString(",\n")
    val learned = (1 to 8)
      .map(k => s"SELECT $k AS rank, l, r FROM best_$k")
      .mkString("\n    UNION ALL ")
    s"""WITH
      |$BpeLearnCtes,
      |m AS MATERIALIZED ($learned),
      |w AS (SELECT source, wd, count(*) AS cnt FROM (
      |    SELECT source,
      |      unnest(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '')) AS wd
      |    FROM documents) GROUP BY source, wd),
      |s0 AS (SELECT source, cnt,
      |    array_to_string(list_concat(
      |      regexp_extract_all(replace(wd, chr(57344), ''), '(?s).'),
      |      [chr(57344)]), ' ') AS s
      |  FROM w),
      |$stages
      |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_words,
      |  CAST(SUM(cnt * len(string_split(s, ' '))) AS BIGINT) AS n_pieces,
      |  round(CAST(SUM(cnt * len(string_split(s, ' '))) AS DOUBLE) /
      |    CAST(SUM(cnt) AS DOUBLE), 9) AS fertility
      |FROM s8 GROUP BY source""".stripMargin
  }

  /** Chi-square contingency cells, shared verbatim: integer observed
    * counts, marginals as window sums over the cell table, expected /
    * contribution as shared double expressions rounded to 9 (the
    * q_stats_agg rule). Per-cell rows — never a cross-cell double sum,
    * whose accumulation order would be engine-dependent. */
  private val Chi2Query =
    """WITH c AS (SELECT event_type, CAST(user_id % 4 AS INT) AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS o
      |  FROM events GROUP BY event_type, user_id % 4),
      |w AS (SELECT event_type, bucket, o,
      |    CAST(SUM(o) OVER (PARTITION BY event_type) AS DOUBLE) AS rt,
      |    CAST(SUM(o) OVER (PARTITION BY bucket) AS DOUBLE) AS ct,
      |    CAST(SUM(o) OVER (PARTITION BY 'bounded: 8-cell contingency table') AS DOUBLE) AS n
      |  FROM c)
      |SELECT event_type, bucket, o,
      |  ROUND(rt * ct / n, 9) AS expected,
      |  ROUND((CAST(o AS DOUBLE) - rt * ct / n) * (CAST(o AS DOUBLE) - rt * ct / n)
      |    / (rt * ct / n), 9) AS contrib
      |FROM w""".stripMargin

  /** Cramér's V over the q_chi2 contingency table, shared verbatim:
    * the EFFECT-SIZE summary beside the per-cell χ² contributions
    * (χ² grows with n, so "is the association big" needs
    * V = √(χ²/(n·(min(r,c)−1))) ∈ [0,1]). Cell contribs round(9) sum
    * in DECIMAL (order-free, exactly the q_chi2 values); the V tree is
    * one division and an IEEE-correctly-rounded sqrt, round(9). */
  private val CramersVQuery =
    """WITH ct AS (SELECT event_type, CAST(user_id % 4 AS INT) AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS o
      |  FROM events GROUP BY event_type, user_id % 4),
      |w AS (SELECT event_type, bucket, o,
      |    CAST(SUM(o) OVER (PARTITION BY event_type) AS DOUBLE) AS rt,
      |    CAST(SUM(o) OVER (PARTITION BY bucket) AS DOUBLE) AS cl,
      |    CAST(SUM(o) OVER (PARTITION BY 'bounded: 8-cell contingency table') AS DOUBLE) AS nt
      |  FROM ct),
      |agg AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
      |    CAST(COUNT(DISTINCT bucket) AS BIGINT) AS c,
      |    CAST(SUM(CAST(ROUND((CAST(o AS DOUBLE) - rt * cl / nt)
      |        * (CAST(o AS DOUBLE) - rt * cl / nt)
      |        / (rt * cl / nt), 9) AS DECIMAL(28,9))) AS DOUBLE) AS chi2
      |  FROM w)
      |SELECT n, r, c, ROUND(chi2, 9) AS chi2,
      |  ROUND(SQRT(chi2 / (CAST(n AS DOUBLE)
      |    * CAST(LEAST(r, c) - 1 AS DOUBLE))), 9) AS cramers_v
      |FROM agg""".stripMargin

  /** Pareto frontier per return flag, shared verbatim: the running-max
    * window formulation of the skyline — row survives iff no prior row
    * in (price asc, qty desc, key) order has qty ≥ its own. */
  private val ParetoQuery =
    """WITH s AS (SELECT l_returnflag AS rf, l_extendedprice AS price,
      |    l_quantity AS qty, l_orderkey, l_linenumber,
      |    max(l_quantity) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_quantity DESC, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_qty
      |  FROM lineitem)
      |SELECT rf, price, qty, l_orderkey, l_linenumber FROM s
      |WHERE best_qty IS NULL OR qty > best_qty""".stripMargin

  /** Gini coefficient per group via the rank formula, shared verbatim:
    * G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n with x ascending. Tie order
    * cannot change Σ(i·xᵢ) (equal x swap freely), the moment sums are
    * exact decimals of (rank × 2-dec price), and only the final G
    * expression touches doubles (round 9). One window pass + one agg
    * per group. */
  private val GiniQuery =
    """WITH r AS (SELECT l_returnflag AS rf,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x,
      |    CAST(row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      |      AS DECIMAL(18,0)) AS i
      |  FROM lineitem),
      |m AS (SELECT rf, CAST(COUNT(*) AS DOUBLE) AS nd,
      |    CAST(SUM(CAST(x AS DECIMAL(38,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(i * x AS DECIMAL(38,2))) AS DOUBLE) AS six
      |  FROM r GROUP BY rf)
      |SELECT rf, ROUND(2.0 * six / (nd * sx) - (nd + 1.0) / nd, 9) AS gini
      |FROM m""".stripMargin

  /** Morton interleave for q_zorder's oracle, generated from the same
    * 10 static mask-shift terms as the Spark expression — x-bit b lands
    * at 2b, y-bit b at 2b+1, pure integer arithmetic on both engines. */
  private val ZOrderOracle: String = {
    val terms = (0 until 10).map(b =>
      s"((x & ${1L << b}) << $b) + ((y & ${1L << b}) << ${b + 1})").mkString(" + ")
    s"""WITH m AS (SELECT o_orderkey,
      |    o_custkey % 1024 AS x,
      |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 1024 AS y
      |  FROM orders)
      |SELECT o_orderkey, CAST($terms AS BIGINT) AS zkey
      |FROM m ORDER BY zkey, o_orderkey LIMIT 100""".stripMargin
  }

  /** DuckDB replay of q_bpe_merges' 8 sequential BPE rounds, unrolled
    * (recursive CTEs can't aggregate over the recursive term, so each
    * round is a generated CTE chain — the ZOrderOracle idiom). Per
    * round: adjacent-pair counts from the symbol lists, argmax with the
    * (pc desc, l, r) tie-break, then the leftmost-non-overlapping merge
    * application as pure window SQL — raw match positions, runs of
    * consecutive matches kept at even offsets (gaps-and-islands; runs
    * only arise when l = r, the "aaa" case), matched starts emit l||r,
    * the position after a kept match is consumed. The ORIGINAL word `w`
    * is carried through every round as the window partition key and the
    * vocab GROUP BY — two DISTINCT words whose symbol lists coincide
    * after the marker strip (chr(57344) = Bpe.Marker, e.g.
    * 'pre\\ue000post' vs 'prepost') must stay separate rows, exactly as
    * the Spark learner keeps one row per word and SUMs their counts
    * into the pair table; keying on `syms` would collapse (or, worse,
    * interleave in one window partition) such pairs. Parity with the
    * batched Spark learner is exact — see Bpe.learnMerges'
    * prefix-rule proof. */
  private val BpeOracle: String = {
    val n = 8
    val finals = (1 to n).map(k =>
      s"""SELECT $k AS rank, l AS "left", r AS "right",
         |  CAST(pc AS BIGINT) AS pair_count FROM best_$k""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH
       |$BpeLearnCtes
       |$finals""".stripMargin
  }

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

  /** One unrolled BPE merge round (argmax pair + leftmost-non-
    * overlapping application) — shared by BpeOracle and BpeEncodeSql. */
  private def BpeRound(k: Int): String =
      s"""pairs_$k AS (
         |  SELECT v.syms[g.i] AS l, v.syms[g.i+1] AS r, SUM(cnt) AS pc
         |  FROM vocab_$k v, UNNEST(generate_series(1, len(v.syms)-1)) AS g(i)
         |  WHERE len(v.syms) >= 2
         |  GROUP BY 1, 2),
         |best_$k AS (
         |  SELECT l, r, pc FROM pairs_$k WHERE pc >= 2
         |  ORDER BY pc DESC, l, r LIMIT 1),
         |pos_$k AS (
         |  SELECT v.w, v.syms, v.cnt, g.i, v.syms[g.i] AS s, b.l, b.r,
         |    CASE WHEN g.i < len(v.syms) AND v.syms[g.i] = b.l
         |        AND v.syms[g.i+1] = b.r THEN 1 ELSE 0 END AS m
         |  FROM vocab_$k v LEFT JOIN best_$k b ON TRUE,
         |    UNNEST(generate_series(1, len(v.syms))) AS g(i)),
         |isl_$k AS (
         |  SELECT w, cnt, i, s, l, r, m,
         |    i - ROW_NUMBER() OVER (PARTITION BY w, m ORDER BY i) AS island
         |  FROM pos_$k),
         |kept_$k AS (
         |  SELECT w, cnt, i, s, l, r,
         |    CASE WHEN m = 1 AND
         |        (i - min(i) OVER (PARTITION BY w, m, island)) % 2 = 0
         |      THEN 1 ELSE 0 END AS kept
         |  FROM isl_$k),
         |emit_$k AS (
         |  SELECT w, cnt, i, s, l, r, kept,
         |    COALESCE(lag(kept) OVER (PARTITION BY w ORDER BY i), 0) AS consumed
         |  FROM kept_$k),
         |vocab_${k + 1} AS (
         |  SELECT w, cnt, list(CASE WHEN kept = 1 THEN l || r ELSE s END
         |    ORDER BY i) AS syms
         |  FROM emit_$k WHERE consumed = 0
         |  GROUP BY w, cnt)""".stripMargin

  /** The BPE learning CTE chain shared by BpeOracle (q_bpe_merges) and
    * BpeEncodeSql (q_bpe_encode): seed vocab from CODE-POINT symbol
    * lists (regexp_extract_all('(?s).') — RE2 `.` consumes one rune,
    * matching the Java-regex split on the Spark side; string_split('')
    * would split grapheme clusters here but UTF-16 units there), then
    * `n` unrolled merge rounds. */
  private def BpeLearnCtes: String = {
    val n = 8
    s"""vocab_1 AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    list_append(regexp_extract_all(replace(w, chr(57344), ''), '(?s).'),
       |      chr(57344)) AS syms
       |  FROM (SELECT t.w FROM documents,
       |    UNNEST(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
       |      x -> len(x) > 0)) AS t(w))
       |  GROUP BY w),
       |${(1 to n).map(BpeRound).mkString(",\n")}""".stripMargin
  }

  // ---------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ===== §2.1 reference surface =====

    // #3-5: explode → count → top-k (reference App.java:98-101)
    "q_top10_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(TextAnalysis.tokens(col("text")).as("toks"))
      TopK.topKeys(docs, "toks", 10)
    }),

    // #3: array explode → flat rows
    "q_token_explode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      TopK.explodeArray(docs, "toks", "token")
    }),

    // #4: full hash-agg count per key (no limit)
    "q_hashtag_count" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(TextAnalysis.tokens(col("text")).as("toks"))
      TopK.countByKey(TopK.explodeArray(docs, "toks", "token"), "token")
    }),

    // #6: global sort (deterministic: unique tie-break) + limit
    "q_sort" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(100)),

    // #1: time-window scan; predicate pushes to the parquet scan
    "q_time_window_scan" -> ((s, dir) => {
      val w = TimeWindow.day(2024, 1, 15)
      t(s, dir, "events")
        .filter(w.predicate(col("ts")))
        .select("event_id", "user_id", "event_type")
    }),

    // ===== §2.2 core relational =====

    // #10: filter + projection pushdown (verify via .explain: PushedFilters)
    "q_filter_pushdown" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 48 &&
          col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),

    // #11: multi-key aggregation (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          revenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    // #12: broadcast dim join
    "q_join_broadcast" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_acctbal"))),

    // #13: star join — fact shuffles on keys, dims broadcast
    "q_star_join" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("rev"),
          count(lit(1)).as("n_items"))),

    // #14: left outer join
    "q_left_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("order_cnt"))),

    // #15: semi join (EXISTS)
    "q_semi_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"))),

    // #16: anti join (NOT EXISTS) — filtered right side so the result
    // is non-trivial (every customer has SOME order in this data)
    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")),

    // #17: distinct
    "q_distinct" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()),

    // #18: union all then re-aggregate
    "q_union" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_custkey").as("key"))
        .unionAll(t(s, dir, "customer").select(col("c_custkey").as("key")))
        .groupBy(col("key")).agg(count(lit(1)).as("cnt"))),

    // #19: window functions: row_number + lag on one window, rank on another
    "q_window_rank" -> ((s, dir) => {
      val byDate = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val byPrice = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(byDate).as("rn"),
        lag(col("o_totalprice"), 1).over(byDate).as("prev_price"),
        rank().over(byPrice).as("price_rank"))
    }),

    // #20: rollup grouping sets
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"))),

    // #19b: ntile + moving aggregate over an explicit rows frame
    "q_ntile_frames" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val frame = w.rowsBetween(-3, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).over(frame), 2)
          .cast("double").as("mov_sum"),
        count(lit(1)).over(frame).as("mov_n"))
    }),

    // #19c: first/last value over an unbounded frame
    "q_first_last" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        last(col("o_orderkey")).over(w).as("last_ok"))
    }),

    // #20b: cube grouping sets (all 4 combinations)
    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("sum_price"))),

    // #20c: explicit grouping sets via SQL (shared ANSI text)
    "q_grouping_sets" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(GroupingSetsQuery)
    }),

    // #22b: exact salted two-stage count-distinct (skew pattern)
    "q_skew_count_distinct" -> ((s, dir) =>
      graft.operators.SkewAgg.countDistinctSalted(
        t(s, dir, "lineitem"), "l_returnflag", "l_partkey", 16, "n_part")),

    // #21: exact interpolated percentiles (quarter fractions of
    // integer-valued quantities → exactly representable doubles)
    "q_percentile" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"))),

    // #22: exact count-distinct (HLL approx variant exercised in ScalaTest)
    "q_count_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_part"),
          countDistinct(col("l_suppkey")).as("n_supp"),
          count(lit(1)).as("n_rows"))),

    // #23: JSON extraction from events.props
    "q_json_extract" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sum(k).as("sum_k"), count(when(k >= 50, 1)).as("n_high"))
    }),

    // #24: event-time hour bucketing
    "q_time_bucket" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))),

    // #25: pivot event_type → columns (explicit value list keeps the
    // plan a single pass; coalesce because pivot emits null for absent
    // combos where conditional agg emits 0)
    "q_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events")
        .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_s"))
        .pivot("event_type", types).agg(count(lit(1)))
      p.select(col("day_s") +: types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    }),

    // #25b: string functions + LIKE pushdown
    "q_string_funcs" -> ((s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").like("%a%"))
        .select(col("p_partkey"),
          upper(substring(col("p_name"), 1, 8)).as("pfx"),
          length(col("p_name")).as("n"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("bt"),
          lpad(col("p_size").cast("string"), 4, "0").as("sz"))),

    // #25c: date/time arithmetic
    "q_date_arith" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        datediff(lit("1998-01-01").cast("date"), col("o_orderdate")).as("days_to_98"),
        date_add(col("o_orderdate"), 30).as("due_date"))),

    // #25d: array functions over the token column
    "q_array_funcs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(array_distinct(col("tk"))).as("n_uniq"),
          array_contains(col("tk"), "spark").as("has_spark"),
          size(slice(col("tk"), 1, 5)).as("first5"),
          // try_element_at: NULL on an empty token array (ANSI
          // element_at throws), matching DuckDB's tk[1] out-of-bounds
          try_element_at(col("tk"), lit(1)).as("first_tok"))),

    // #27b: IN subquery (shared ANSI text)
    "q_in_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(InSubqueryQuery)
    }),

    // #26: conditional aggregation / CASE WHEN
    "q_case_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          round(sum(when(col("o_totalprice") > 100000,
            col("o_totalprice").cast("decimal(18,2)"))
            .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)"))), 2)
            .cast("double").as("high_rev"))),

    // #27: correlated scalar subquery (per-nation average)
    "q_scalar_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey FROM customer c
          |WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
          |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin)
    }),

    // #28: gap-based sessionization (30-minute gap)
    "q_sessionize" -> ((s, dir) =>
      Sessionize.sessions(t(s, dir, "events"), "user_id", "ts", "event_id", 1800.0)),

    // #29: top-N per group (deterministic tie-break on unique key)
    "q_topn_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    }),

    // #30: SQL interface — same ANSI text runs on Spark and DuckDB
    "q_sql_interface" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(SqlInterfaceQuery)
    }),

    // ===== §2.3 LLM training-data ops (oracle-checked subset) =====

    // #31: exact dedup on normalized-text hash, keep-first
    "q_dedup_exact" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(regexp_replace(trim(lower(col("text"))), "[ \\t\\n\\x0B\\f\\r]+", " ")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dups"))
        .select("keep_id", "dups")),

    // #36: brute-force cosine top-k (ids + ranks only, never floats)
    "q_ann_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select("q_id", "rn", "n_id")
    }),

    // #39: language ID heuristic (engine-equivalence check)
    "q_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))),

    // #40: quality scoring — identical expression tree to the oracle SQL
    "q_quality_score" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))),

    // #41: token counting, whitespace + BPE-ish regex
    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_ws"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe"))),

    // #32: MinHash-LSH near-dups, exact-Jaccard verified (oracle:
    // LSH miss probability ≈ 4e-8 at the planted pairs' jaccard ≥ 0.9)
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minHashNearDups(tp(s, dir, "documents"), "doc_id", "text", 0.8)),

    // #33: SimHash near-dups via pigeonhole chunk join. md5-prefix
    // token hash so the oracle can rebuild the signatures and verify
    // the pair set with an all-pairs hamming scan — the chunk join is
    // exact (any pair within radius 7 agrees on one of 8 chunks), so
    // the two formulations must match row-for-row.
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simHashNearDupsMd5(tp(s, dir, "documents"), "doc_id", "text", 7)
        .select("i", "j", "ham")),

    // #34: exact n-gram Jaccard verify pass over a bounded id range
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 40)),

    // #177: exact duplicated-span coverage (Lee et al. ACL'22 substring
    // dedup) — rolling 10-token fingerprints, corpus-wide occurrence
    // count, per-doc merged span coverage; shuffles carry 8-byte
    // hashes, never text
    "q_substring_dedup" -> ((s, dir) =>
      Dedup.duplicatedSpans(tp(s, dir, "documents"), "doc_id", "text", 10)),

    // #35: embedding cosine near-dup, LSH-bucketed. md5-parity ±1
    // planes over 1e-6-quantized vectors make the bucket bits exact
    // integer arithmetic — the oracle rebuilds the same buckets, so
    // the candidate set (and thus the verified pair set) is identical.
    "q_dedup_embedding" -> ((s, dir) =>
      AnnLsh.cosineNearDupsExact(tp(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
        .select("i", "j")),

    // #37: LSH-bucketed ANN, deterministic md5-parity planes (recall vs
    // brute force additionally asserted in ScalaTest)
    "q_ann_lsh" -> ((s, dir) => {
      val e = tp(s, dir, "embeddings")
      AnnLsh.annTopKExact(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select("q_id", "rn", "n_id")
    }),

    // #38: IVF ANN with deterministic stride-init centroids, zero Lloyd
    // passes (no float averaging → oracle-reproducible); the k-means
    // refinement path is covered by ScalaTest recall assertions
    "q_ann_ivf" -> ((s, dir) => {
      val e = tp(s, dir, "embeddings")
      AnnIvf.annTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
        nlist = 16, nprobe = 4, iters = 0)
        .select("q_id", "rn", "n_id")
    }),

    // #279: simplified silhouette per IVF/k-means cell — the
    // clustering-QUALITY gate beside the q_ann_* recall gates (recall
    // grades the INDEX; silhouette grades whether the cells are
    // clusters at all — the number a SemDeDup/curation pipeline checks
    // before trusting cell-local decisions). Centroid-based O(n·k)
    // variant; sims round(9) before the argmax (the assign tie rule).
    "q_silhouette" -> ((s, dir) =>
      operators.AnnIvf.silhouette(tp(s, dir, "embeddings"),
        "vec_id", "embedding", 16)),

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
    "q_rand_index" -> ((s, dir) => {
      val embs = tp(s, dir, "embeddings")
      val cents = operators.AnnIvf.fit(embs, "vec_id", "embedding", 16,
        iters = 0)
      val assigned = operators.AnnIvf
        .assign(embs, cents, "vec_id", "embedding", simRound = Some(9))
        .select(col("id"), col("cid"))
      val gold = t(s, dir, "documents")
        .select(col("doc_id").as("id"), col("source"))
      // the contingency table feeds THREE aggregations (pair sums per
      // cell, per class, and overall); checkpoint it once — it is
      // cells × sources rows — so the corpus-scanning assignment
      // subtree runs once, not three times (measured: AQE declined to
      // reuse the exchange across the branches; 6 parquet scans
      // executed without this)
      val ct = assigned.join(gold, "id")
        .groupBy(col("cid"), col("source")).agg(count(lit(1)).as("nij"))
        .eagerCheckpoint()
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
    }),

    // #280: Flesch reading ease per document (Flesch 1948) — the NAMED
    // readability grade beside q_quality_score's ad-hoc ratio blend
    // (a curation pipeline reports "reading level" in a unit reviewers
    // recognize, not a house blend): 206.835 − 1.015·(words/sentences)
    // − 84.6·(syllables/words), syllables approximated as vowel-group
    // runs ([aeiouy]+, floored at 1 per word) — the standard cheap
    // heuristic. Counts are exact integers (emitted for the hash
    // check); the grade is one shared IEEE tree round(6). Pure
    // projection — no shuffle at any scale.
    "q_readability" -> ((s, dir) => {
      val toks = graft.functions.TextAnalysis.tokens(lower(col("text")))
      val syl = aggregate(
        transform(toks, w =>
          greatest(size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))),
            lit(1))),
        lit(0L), (acc, v) => acc + v)
      val sents = filter(split(col("text"), "[.!?]+"),
        x => length(trim(x)) > lit(0))
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("bigint").as("n_words"),
          size(sents).cast("bigint").as("n_sentences"),
          syl.cast("bigint").as("n_syllables"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") /
              greatest(col("n_sentences"), lit(1L)).cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double") /
              greatest(col("n_words"), lit(1L)).cast("double")), 6)
            .as("flesch"))
    }),

    // #181: product-quantization ANN (8×8-dim subspaces, 16-entry
    // stride-init codebooks): maximum-inner-product search where the
    // corpus is touched only as (id, subspace, code) bytes and scoring
    // is a broadcast LUT join + decimal-exact ADC sum — the memory-
    // side 100 TB scale path complementing IVF's compute-side pruning
    "q_ann_pq" -> ((s, dir) => {
      val e = tp(s, dir, "embeddings")
      AnnPq.annTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
    }),

    // #181b: recall@10 of the PQ index vs brute force — the
    // q_ann_recall acceptance metric for the quantized index
    "q_ann_recall_pq" -> ((s, dir) => {
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id"))
      val pq = AnnPq.annTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id").as("pq"), col("n_id").as("pn"))
      bf.join(pq, bf("q_id") === col("pq") && bf("n_id") === col("pn"), "left")
        .groupBy(col("q_id")).agg(count(col("pn")).as("n_hit"))
    }),

    // #180: distributed spherical k-means over embeddings (stride
    // init, ONE oracle-exact Lloyd pass — decimal(28,12) per-dim sums
    // make the float averaging order-independent and replayable in
    // SQL, unlike plain avg). Output: per-cluster size + vec_id
    // checksum — integers, the strongest schema-stable cluster
    // assignment witness. The multi-iteration double-avg path stays
    // covered by AnnIvf ScalaTest recall assertions.
    "q_kmeans" -> ((s, dir) => {
      val e = tp(s, dir, "embeddings")
      val centroids = AnnIvf.fitExact(e, "vec_id", "embedding", 8, 1)
      // simRound=9: the argmax-cosine assignment is tie-safe across
      // engines (round-then-argmax, low-cid tie-break) — a raw-double
      // near-tie between two centroids would otherwise flip membership
      // on whichever engine's float tree lands a ULP apart
      AnnIvf.assign(e, centroids, "vec_id", "embedding", simRound = Some(9))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("id")).as("id_checksum"))
    }),

    // #42: winnowing fingerprints, md5-prefix k-gram hash so the oracle
    // can replay the winnow (grams → sliding min → distinct count)
    "q_fingerprint" -> ((s, dir) =>
      Fingerprint.fingerprintMd5Df(tp(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), size(col("fps")).as("n_fp"))),

    // #43: multimodal lake-table shape — binary payload + typed meta
    "q_multimodal_meta" -> ((s, dir) =>
      Multimodal.fromDocuments(t(s, dir, "documents"))
        .select(col("mediaId").as("media_id"), col("kind"),
          length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("checksum"),
          col("meta.widthPx").as("width_px"),
          col("meta.durationMs").as("duration_ms"))),

    // ===== §2.2 continued: set ops, join family, exact stats =====

    // #59: EXCEPT / INTERSECT set operators — customers who ordered in
    // 1995 but not 1996, and in both (Spark except/intersect = shuffle
    // dedup set ops; distinct semantics match ANSI)
    "q_set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def custs(yr: Int) = o.filter(year(col("o_orderdate")) === yr)
        .select(col("o_custkey"))
      custs(1995).except(custs(1996)).withColumn("grp", lit("only_1995"))
        .unionByName(custs(1995).intersect(custs(1996))
          .withColumn("grp", lit("both")))
        .groupBy(col("grp")).agg(count(lit(1)).as("n"))
    }),

    // #60: full outer join — both null sides materialize (customers
    // without big orders; big orders outside the BUILDING segment)
    "q_full_outer_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy()
        .agg(count(lit(1)).as("n_rows"),
          count(col("c_custkey")).as("n_left"),
          count(col("o_orderkey")).as("n_right"),
          sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("n_left_only"),
          sum(when(col("c_custkey").isNull, 1).otherwise(0)).as("n_right_only"))
    }),

    // #61: cross join (dim x dim lattice)
    "q_cross_join" -> ((s, dir) => {
      val r = t(s, dir, "region").select(col("r_name"))
      val n = t(s, dir, "nation").select(col("n_name"))
      r.crossJoin(n).groupBy(col("r_name")).agg(count(lit(1)).as("n"))
    }),

    // #62: exact sample variance / correlation from decimal sums — the
    // naive per-partition float accumulation is order-dependent, so
    // both engines compute the moment sums in exact decimal and share
    // one double expression tree (SURVEY §4 determinism rule)
    "q_stats_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val d28 = "decimal(28,4)"
      val g = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("nd"),
          sum(col("l_quantity").cast("decimal(18,2)").cast(d28)).cast("double").as("sx"),
          sum((col("l_quantity").cast("decimal(18,2)") *
            col("l_quantity").cast("decimal(18,2)")).cast(d28)).cast("double").as("sx2"),
          sum(col("l_extendedprice").cast("decimal(18,2)").cast(d28)).cast("double").as("sy"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            col("l_extendedprice").cast("decimal(18,2)")).cast(d28)).cast("double").as("sy2"),
          sum((col("l_quantity").cast("decimal(18,2)") *
            col("l_extendedprice").cast("decimal(18,2)")).cast(d28)).cast("double").as("sxy"))
      // round(9): DuckDB's compiled arithmetic may contract a*b - c*d
      // into FMA, shifting the last ULP vs the JVM (observed at
      // sf0.001); 9 decimals is far above ULP noise and far below any
      // statistical meaning
      g.select(col("l_returnflag"),
        round((col("nd") * col("sx2") - col("sx") * col("sx")) /
          (col("nd") * (col("nd") - lit(1.0))), 9).as("var_qty"),
        round((col("nd") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("nd") * col("sx2") - col("sx") * col("sx")) *
            (col("nd") * col("sy2") - col("sy") * col("sy"))), 9).as("corr_qty_price"))
    }),

    // #194: grouped OLS TREND FIT (price ~ quantity per return flag) —
    // distributed linear regression from the same exact decimal moment
    // algebra as q_stats_agg: one partial-aggregated pass collects
    // (n, Σx, Σy, Σxy, Σx²) decimal-exact, the closed-form slope /
    // intercept are a few double ops on the group row, round(9) soaks
    // the FMA-contraction ULP. No solver iterations, no second scan —
    // the 100 TB cost is one map-side-combined agg.
    "q_trend_fit" -> ((s, dir) => {
      val d28 = "decimal(28,4)"
      def dx(c: Column) = c.cast("decimal(18,2)")
      val g = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dx(col("l_quantity")).cast(d28)).cast("double").as("sx"),
          sum(dx(col("l_extendedprice")).cast(d28)).cast("double").as("sy"),
          sum((dx(col("l_quantity")) * dx(col("l_extendedprice"))).cast(d28))
            .cast("double").as("sxy"),
          sum((dx(col("l_quantity")) * dx(col("l_quantity"))).cast(d28))
            .cast("double").as("sx2"))
      val nd = col("n").cast("double")
      val den = nd * col("sx2") - col("sx") * col("sx")
      g.select(col("l_returnflag"), col("n"),
          round((nd * col("sxy") - col("sx") * col("sy")) / den, 9).as("slope"),
          round((col("sy") * col("sx2") - col("sx") * col("sxy")) / den, 9)
            .as("intercept"))
        .orderBy(col("l_returnflag"))
    }),

    // #197: pairwise Welch t-test across experiment arms (A/B-testing
    // statistic): one decimal-exact moment pass per arm (n, Σv, Σv²),
    // then the t statistic and Welch–Satterthwaite df are closed-form
    // double ops on the 5-row arm table self-joined into 10 pairs —
    // the corpus is scanned once, the pair math touches only
    // arm-count-sized rows. round(9)/round(6) soak FMA ULP.
    "q_welch_ttest" -> ((s, dir) => {
      val d28 = "decimal(28,4)"
      val g = t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)").cast(d28))
            .cast("double").as("sx"),
          sum((col("value").cast("decimal(18,2)") *
            col("value").cast("decimal(18,2)")).cast(d28))
            .cast("double").as("sx2"))
      val a = g.select(col("event_type").as("e1"), col("n").as("n1"),
        col("sx").as("sxa"), col("sx2").as("sxa2"))
      val b = g.select(col("event_type").as("e2"), col("n").as("n2"),
        col("sx").as("sxb"), col("sx2").as("sxb2"))
      def nd(c: Column) = c.cast("double")
      val v1 = (nd(col("n1")) * col("sxa2") - col("sxa") * col("sxa")) /
        (nd(col("n1")) * (nd(col("n1")) - lit(1.0)))
      val v2 = (nd(col("n2")) * col("sxb2") - col("sxb") * col("sxb")) /
        (nd(col("n2")) * (nd(col("n2")) - lit(1.0)))
      val se1 = v1 / nd(col("n1"))
      val se2 = v2 / nd(col("n2"))
      a.join(broadcast(b), col("e1") < col("e2"))
        .select(col("e1"), col("e2"), col("n1"), col("n2"),
          round((col("sxa") / nd(col("n1")) - col("sxb") / nd(col("n2"))) /
            sqrt(se1 + se2), 9).as("t_stat"),
          round((se1 + se2) * (se1 + se2) /
            (se1 * se1 / (nd(col("n1")) - lit(1.0)) +
              se2 * se2 / (nd(col("n2")) - lit(1.0))), 6).as("df"))
        .orderBy(col("e1"), col("e2"))
    }),

    // #199: two-sample Kolmogorov–Smirnov across all arm pairs.
    // D = max_x |F1(x) − F2(x)| needs the empirical CDFs at pooled
    // x — but never a global sort of events: quantizing to the
    // 2-dp value domain bounds the histogram regardless of corpus
    // size, the cumulative runs per-arm over that domain-sized
    // grid, and the max comparison is INTEGER-exact
    // (|cum1·n2 − cum2·n1| in decimal(38,0), divided once at the
    // end) so no float-accumulation order can flip the argmax.
    "q_ks_test" -> ((s, dir) => {
      val (j, totA, totB) = armCdfGrid(s, dir)
      def d19(c: Column) = c.cast("decimal(19,0)")
      j.join(broadcast(totA), "e1").join(broadcast(totB), "e2")
        .groupBy(col("e1"), col("e2"), col("n1"), col("n2"))
        .agg(max(abs(d19(col("cum1")) * d19(col("n2")) -
          d19(col("cum2")) * d19(col("n1")))).as("md"))
        .select(col("e1"), col("e2"), col("n1"), col("n2"),
          round(col("md").cast("double") /
            (col("n1").cast("double") * col("n2").cast("double")), 9)
            .as("d_stat"))
        .orderBy(col("e1"), col("e2"))
    }),

    // #273: Wasserstein-1 (earth-mover) distance across all arm pairs —
    // the MAGNITUDE-weighted drift metric beside q_ks_test's max
    // deviation (KS sees only the worst point; W1 integrates how much
    // mass moved how far, the number a mixture rebalance acts on). On
    // the same 2-dp pooled grid: W1 = Σ_v |F1−F2|·Δv with the CDF
    // difference kept INTEGER (|cum1·n2 − cum2·n1|) and Δv an exact
    // 2-dp decimal, so the sum is decimal(38,2)-exact and order-free;
    // one division at the end. The Δv lead window is partitioned by
    // arm pair over the domain-sized grid — never the events scan.
    "q_wasserstein" -> ((s, dir) => {
      val (j, totA, totB) = armCdfGrid(s, dir)
      def d19(c: Column) = c.cast("decimal(19,0)")
      val wv = Window.partitionBy(col("e1"), col("e2")).orderBy(col("v"))
      j.join(broadcast(totA), "e1").join(broadcast(totB), "e2")
        .withColumn("dv", lead(col("v"), 1).over(wv) - col("v"))
        .filter(col("dv").isNotNull)
        .groupBy(col("e1"), col("e2"), col("n1"), col("n2"))
        // 24+13+1 = 38: full-precision product — a (9,2) dv would
        // null-on-overflow (Spark) vs error (DuckDB) past a 1e7 gap
        .agg(sum(abs(d19(col("cum1")) * d19(col("n2")) -
            d19(col("cum2")) * d19(col("n1"))).cast("decimal(24,0)") *
          col("dv").cast("decimal(13,2)")).as("num"))
        .select(col("e1"), col("e2"), col("n1"), col("n2"),
          round(col("num").cast("double") /
            (col("n1").cast("double") * col("n2").cast("double")), 9)
            .as("w1"))
        .orderBy(col("e1"), col("e2"))
    }),

    // #276: calibration reliability table + ECE contributions — the
    // IS-the-score-a-probability audit beside q_auc's ranking power
    // (a score can rank perfectly yet be badly calibrated; ECE is the
    // number a downstream thresholder cares about). Score = pooled
    // midrank CDF of `value` (m2 = 2·cumlt + c + 1, an INTEGER per
    // 2-dp grid value); outcome = one-vs-rest arm membership (the
    // q_auc pairing). Equal-width bins are an integer floor division
    // 10·m2 div 2N; per-bin conf/acc/|acc−conf| contributions stay
    // integer/decimal until the closing divisions, so the table is
    // bit-replayable. Everything after the histogram is domain-sized.
    // #289: Brier score per arm (Brier 1950 — the PROPER scoring rule
    // beside q_calibration's reliability table: ECE can be gamed by a
    // constant base-rate predictor, the Brier score penalizes both
    // miscalibration AND lack of resolution in one number): same
    // pooled midrank-CDF confidence (m2/2N per distinct 2-dp value,
    // integers off the filled grid) and one-vs-rest arm outcome;
    // Brier_a = (1/N)·Σ_v [c_va·(conf_v−1)² + (c_v−c_va)·conf_v²] —
    // the per-(arm, value) term is ONE fixed double tree round(9)
    // into a DECIMAL sum (order-free), one closing division. Work is
    // grid-sized (arms × distinct values), one events shuffle.
    "q_brier" -> ((s, dir) => {
      // the shared pooled-midrank helper; grand total renamed nt —
      // Spark's resolver is case-insensitive, so the helper's N would
      // collide with tot's per-arm n downstream
      val (cum, tot, pooled0) = pooledMidrank(s, dir)
      val pooled = pooled0.withColumnRenamed("N", "nt")
      val conf = col("m2").cast("double") /
        (lit(2.0) * col("nt").cast("double"))
      val terms = cum
        .join(pooled.select(col("v"), col("cp"), col("m2"), col("nt")), "v")
        .select(col("arm"), col("nt"),
          round(col("c").cast("double") * (conf - lit(1.0)) * (conf - lit(1.0))
            + (col("cp") - col("c")).cast("double") * conf * conf, 9)
            .cast("decimal(28,9)").as("term"))
      terms.groupBy(col("arm"), col("nt"))
        .agg(sum(col("term")).as("sterm"))
        .join(tot, "arm")
        .select(col("arm"), col("n"),
          round(col("sterm").cast("double") / col("nt").cast("double"), 9)
            .as("brier"))
        .orderBy(col("arm"))
    }),

    // #290: Murphy decomposition of the binned Brier score per arm
    // (Murphy 1973 — the WHY behind q_brier's single number:
    // reliability REL = Σ n_b(conf_b−acc_b)²/N is miscalibration you
    // can recalibrate away, resolution RES = Σ n_b(acc_b−base)²/N is
    // the discrimination the score actually carries, uncertainty
    // UNC = base(1−base) is the irreducible floor; binned_brier =
    // REL − RES + UNC holds as an identity over the same 10 bins).
    // Reuses q_calibration's (arm, bin) grid verbatim — per-bin terms
    // one double tree round(9) each into DECIMAL sums, three closing
    // divisions; everything after the events histogram is bin-sized.
    "q_murphy" -> ((s, dir) => {
      val (grid, tot) = calibBinGrid(s, dir)
      def nd(c: Column) = c.cast("double")
      // rename the grand total before tot joins in: Spark's resolver
      // is case-insensitive, so N would collide with the per-arm n
      val j = grid.withColumnRenamed("N", "nt").join(tot, "arm")
      val conf = nd(col("s2")) /
        (lit(2.0) * nd(col("nt")) * nd(col("nb")))
      val acc = nd(col("pos")) / nd(col("nb"))
      val base = nd(col("n")) / nd(col("nt"))
      val terms = j.select(col("arm"), col("n"), col("nt"),
        round(nd(col("nb")) * (conf - acc) * (conf - acc), 9)
          .cast("decimal(28,9)").as("rel_t"),
        round(nd(col("nb")) * (acc - base) * (acc - base), 9)
          .cast("decimal(28,9)").as("res_t"))
      terms.groupBy(col("arm"), col("n"), col("nt"))
        .agg(sum(col("rel_t")).as("srel"), sum(col("res_t")).as("sres"))
        .select(col("arm"), col("n"),
          round(nd(col("srel")) / nd(col("nt")), 9).as("rel"),
          round(nd(col("sres")) / nd(col("nt")), 9).as("res"),
          round(base * (lit(1.0) - base), 9).as("unc"))
        .select(col("arm"), col("n"), col("rel"), col("res"), col("unc"),
          round(col("rel") - col("res") + col("unc"), 9)
            .as("brier_binned"))
        .orderBy(col("arm"))
    }),

    "q_calibration" -> ((s, dir) => {
      calibBinGrid(s, dir)._1
        .select(col("arm"), col("bin"),
          col("nb").as("n_b"), col("pos").as("pos_b"),
          round(col("pos").cast("double") / col("nb").cast("double"), 9)
            .as("acc"),
          round(col("s2").cast("double") /
            (lit(2.0) * col("N").cast("double") * col("nb").cast("double")), 9)
            .as("conf"),
          // decimal BEFORE the multiply: pos·2·N in long wraps silently
          // past N ~ 2^31 (non-ANSI), while the oracle's BIGINT multiply
          // would error — the q_wasserstein d19-per-factor pattern
          round(abs(col("pos").cast("decimal(19,0)") * lit(2) *
              col("N").cast("decimal(19,0)") - col("s2")).cast("double") /
            (lit(2.0) * col("N").cast("double") * col("N").cast("double")), 9)
            .as("ece_term"))
        .orderBy(col("arm"), col("bin"))
    }),

    // #200: Mann–Whitney U (rank-sum) with tie correction, same
    // pooled-CDF grid as q_ks_test — ranks are never materialized:
    // 2·U1 = Σ_v c1(v)·(2·cum2(v) − c2(v)) and the tie term
    // Σ(t³−t) both accumulate in decimal(38,0) off per-value
    // counts, so the only doubles are the closed-form z at the end.
    "q_mannwhitney" -> ((s, dir) => {
      val (j, totA, totB) = armCdfGrid(s, dir)
      def d19(c: Column) = c.cast("decimal(19,0)")
      def d13(c: Column) = c.cast("decimal(13,0)")
      val t = d13(col("c1") + col("c2"))
      val g = j.join(broadcast(totA), "e1").join(broadcast(totB), "e2")
        .groupBy(col("e1"), col("e2"), col("n1"), col("n2"))
        .agg(sum(d19(col("c1")) *
            (d19(col("cum2")) * lit(2) - d19(col("c2")))).as("u2"),
          sum(t * t * t - t).as("ties"))
      def nd(c: Column) = c.cast("double")
      val bigN = nd(col("n1")) + nd(col("n2"))
      val u = nd(col("u2")) / lit(2.0)
      val sigma = sqrt(nd(col("n1")) * nd(col("n2")) / lit(12.0) *
        ((bigN + lit(1.0)) - nd(col("ties")) / (bigN * (bigN - lit(1.0)))))
      g.select(col("e1"), col("e2"), col("n1"), col("n2"), u.as("u_stat"),
          round((u - nd(col("n1")) * nd(col("n2")) / lit(2.0)) / sigma, 9)
            .as("z_stat"))
        .orderBy(col("e1"), col("e2"))
    }),

    // #291: Cohen's d / Hedges' g across all arm pairs — the
    // PARAMETRIC effect size beside q_welch_ttest's significance
    // (a p-value says "a difference exists", d says "how many pooled
    // standard deviations wide"; Hedges' J = 1 − 3/(4N−9) debiases
    // small samples). The arm moments (n, Σv, Σv²) ride ONE
    // decimal-exact aggregation per arm — 2-dp values make both sums
    // exact and order-free — and everything after is an arms²-sized
    // self-join of fixed double trees, round(9).
    "q_cohens_d" -> ((s, dir) => {
      val m = t(s, dir, "events")
        .select(col("event_type").as("arm"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum((col("v") * col("v")).cast("decimal(28,4)")).as("svv"))
      def nd(c: Column) = c.cast("double")
      val a = m.select(col("arm").as("e1"), col("n").as("n1"),
        col("sv").as("sv1"), col("svv").as("svv1"))
      val b = m.select(col("arm").as("e2"), col("n").as("n2"),
        col("sv").as("sv2"), col("svv").as("svv2"))
      def ss(svv: String, sv: String, n: String) = // Σ(v−m)² identity
        nd(col(svv)) - nd(col(sv)) * nd(col(sv)) / nd(col(n))
      val d = (nd(col("sv1")) / nd(col("n1")) -
          nd(col("sv2")) / nd(col("n2"))) /
        sqrt((ss("svv1", "sv1", "n1") + ss("svv2", "sv2", "n2")) /
          (nd(col("n1")) + nd(col("n2")) - lit(2.0)))
      val jf = lit(1.0) - lit(3.0) /
        (lit(4.0) * (nd(col("n1")) + nd(col("n2"))) - lit(9.0))
      a.join(b, col("e1") < col("e2"))
        .select(col("e1"), col("e2"), col("n1"), col("n2"),
          round(d, 9).as("cohens_d"), round(jf * d, 9).as("hedges_g"))
        .orderBy(col("e1"), col("e2"))
    }),

    // #292: Cliff's delta across all arm pairs — the ORDINAL effect
    // size beside q_mannwhitney's rank-sum significance and #291's
    // parametric d: δ = P(x1 > x2) − P(x1 < x2) = 2U/(n1·n2) − 1,
    // read off the SAME decimal-exact doubled rank-sum
    // 2U = Σ_v c1·(2·cum2 − c2) the U test accumulates — scale-free,
    // outlier-immune, no normality assumption. One closing double
    // tree round(9); grid-sized work throughout.
    "q_cliffs_delta" -> ((s, dir) => {
      val (j, totA, totB) = armCdfGrid(s, dir)
      def d19(c: Column) = c.cast("decimal(19,0)")
      def nd(c: Column) = c.cast("double")
      j.join(broadcast(totA), "e1").join(broadcast(totB), "e2")
        .groupBy(col("e1"), col("e2"), col("n1"), col("n2"))
        .agg(sum(d19(col("c1")) *
          (d19(col("cum2")) * lit(2) - d19(col("c2")))).as("u2"))
        .select(col("e1"), col("e2"), col("n1"), col("n2"),
          round(nd(col("u2")) / (nd(col("n1")) * nd(col("n2"))) - lit(1.0),
            9).as("cliffs_delta"))
        .orderBy(col("e1"), col("e2"))
    }),

    // #201: Poisson-bootstrap 95% CI for the per-arm mean — the
    // at-scale bootstrap (Chamandy et al., Google 2012): resampling
    // n rows WITH replacement ≈ giving each row an independent
    // Poisson(1) weight, so B replicates ride ONE pass as B
    // conditional aggregates of (w·v, w) — no per-replicate scan, no
    // driver-side resample. The weight is drawn by inverse-CDF on a
    // deterministic 60-bit md5 uniform against PRE-SCALED INTEGER
    // thresholds floor(F(k)·2^60) — weight assignment never touches a
    // float, so both engines replay the identical resample. Replicate
    // means are decimal-exact sums; the CI bounds are discrete order
    // statistics (ranks 5/196 of B=200), not interpolated quantiles.
    "q_bootstrap_ci" -> ((s, dir) => {
      val B = 200
      val thr = Seq(424136118829305329L, 848272237658610659L,
        1060340297073263324L, 1131029650211480879L, 1148701988496035267L,
        1152236456152946145L, 1152825534095764625L, 1152909688087595836L,
        1152920207336574738L)
      // tp, not t: the B=200 explode + md5 draws run ABOVE the scan,
      // and the testdata's single-row-group parquet would pin all 20M
      // hashed rows to one task (measured 27 s vs ~2 s rebalanced)
      val ev = tp(s, dir, "events")
        .select(col("event_type").as("arm"), col("event_id"),
          col("value").cast("decimal(18,2)").as("v"))
      // fused native md5-60bit: the B×n draw is THE hot path here
      // (20M hashes at sf0.1); value-identical to the
      // conv(substring(md5)) composition the oracle replays
      // (NativeExprSpec), minus the hex-string round trip.
      // The hash is STAGED as its own projection (r18, guide §7.2
      // "duplicated subtrees"): inlining it into the 9-branch CASE
      // makes Catalyst materialize NINE copies of the md5 per row
      // (conditional branches are exempt from codegen subexpression
      // elimination — the before-plan shows graft_md5_60 9×), and
      // CollapseProject will not re-inline a non-cheap alias consumed
      // more than once, so the staged column is hashed exactly once.
      // Measured: the draw stage's task time dropped ~6× (see
      // OPTIMIZATION_r18.md); values identical, thresholds unchanged.
      val h = col("_h")
      val w = thr.tail.zipWithIndex.foldLeft(when(h < lit(thr.head), 0)) {
        case (acc, (tk, i)) => acc.when(h < lit(tk), i + 1)
      }.otherwise(9)
      val rep = ev.withColumn("r", explode(sequence(lit(0), lit(B - 1))))
        .withColumn("_h", NativeExpressions.md5Prefix60(concat(lit("boot:"),
          col("event_id"), lit(":"), col("r"))))
        .withColumn("w", w).drop("_h")
        .groupBy(col("arm"), col("r"))
        .agg(sum((col("v") * col("w").cast("decimal(2,0)"))
            .cast("decimal(28,4)")).as("sv"),
          sum(col("w")).as("sw"))
        .select(col("arm"), col("r"),
          round(col("sv").cast("double") / col("sw").cast("double"), 9)
            .as("m"))
      val wr = Window.partitionBy(col("arm")).orderBy(col("m"), col("r"))
      val stats = ev.groupBy(col("arm")).agg(count(lit(1)).as("n"),
        round(sum(col("v").cast("decimal(28,4)")).cast("double") /
          count(lit(1)).cast("double"), 9).as("mean"))
      rep.withColumn("rn", row_number().over(wr))
        .filter(col("rn") === 5 || col("rn") === 196)
        .groupBy(col("arm"))
        .agg(min(when(col("rn") === 5, col("m"))).as("ci_lo"),
          max(when(col("rn") === 196, col("m"))).as("ci_hi"))
        .join(stats, "arm")
        .select(col("arm"), col("n"), col("mean"),
          col("ci_lo"), col("ci_hi"))
    }),

    // #208: one-vs-rest ranking AUC per arm — "how well does `value`
    // rank arm membership" (offline classifier-eval shape). Ranks are
    // never materialized: AUC = U/(n1·n0) with the tie-midrank U
    // accumulated as 2U = Σ_v c1(v)·(2·cumlt0(v) + c0(v)) over the
    // same 2-dp-quantized pooled value grid as q_ks_test — the
    // cumulative windows run per-arm over the domain-sized grid (and
    // the pooled strictly-below count is recovered as Σ_arms cumlt_a,
    // so NO unpartitioned window anywhere); everything is integer /
    // decimal until the single final division, so both engines agree
    // bit-for-bit at round(9).
    "q_auc" -> ((s, dir) => {
      // r18 (guide §3.3): h feeds grid ×2, filled and tot — checkpoint
      // the domain-sized histogram so the events scan runs once
      // (PlanAudit: 7 scans → 1; the armCumGrid fix, locally)
      val h = t(s, dir, "events")
        .select(col("event_type").as("arm"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("arm"), col("v")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val grid = h.select(col("v")).distinct()
        .crossJoin(broadcast(h.select(col("arm")).distinct()))
      val filled = grid.join(h, Seq("arm", "v"), "left").na.fill(0, Seq("c"))
      val wlt = Window.partitionBy(col("arm")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cl = filled.withColumn("cumlt",
        coalesce(sum(col("c")).over(wlt), lit(0L)))
      val vv = cl.groupBy(col("v")).agg(sum(col("c")).as("tc"),
        sum(col("cumlt")).as("cumlt_tot"))
      def d18(c: Column) = c.cast("decimal(18,0)")
      val per = cl.join(vv, "v")
        .groupBy(col("arm"))
        .agg(sum(d18(col("c")) *
            (d18(col("cumlt_tot") - col("cumlt")) * lit(2) +
              d18(col("tc") - col("c")))).as("u2"),
          sum(col("c")).cast("long").as("n_pos"))
      val tot = h.agg(sum(col("c")).cast("long").as("nn"))
      per.crossJoin(broadcast(tot))
        .select(col("arm"), col("n_pos"),
          (col("nn") - col("n_pos")).as("n_neg"),
          round(col("u2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") *
              (col("nn") - col("n_pos")).cast("double")), 9).as("auc"))
        .orderBy(col("arm"))
    }),

    // #209: decile gains/lift table for `value` scoring 'purchase'
    // (the campaign-targeting companion of q_auc): events are split
    // into 10 equal-count score bands WITHOUT a global sort — the
    // band of a value is floor(10·cumlt(v)/N) off the quantized-value
    // histogram's strictly-below cumulative (ties share one band by
    // construction, so the assignment is deterministic and
    // engine-identical); per band, positive rate and lift vs the base
    // rate are exact-integer ratios rounded once. Scans events once;
    // every shuffle after the first agg is value-domain-sized.
    "q_lift" -> ((s, dir) => {
      // r18 (guide §3.3): h feeds the cumulative window and tot —
      // checkpoint the price-domain histogram, one events scan
      val h = t(s, dir, "events")
        .select(col("value").cast("decimal(18,2)").as("v"),
          when(col("event_type") === "purchase", lit(1L))
            .otherwise(lit(0L)).as("p"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"), sum(col("p")).as("cp"))
        .eagerCheckpoint()
      val wlt = boundedGlobal("2-dec value histogram, |distinct prices| rows")
        .orderBy(col("v").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val cl = h.withColumn("cumlt",
        coalesce(sum(col("c")).over(wlt), lit(0L)))
      val tot = h.agg(sum(col("c")).cast("long").as("nn"),
        sum(col("cp")).cast("long").as("np"))
      cl.crossJoin(broadcast(tot))
        .withColumn("band",
          least(lit(9L), floor(col("cumlt") * lit(10) / col("nn"))))
        .groupBy(col("band"), col("nn"), col("np"))
        .agg(sum(col("c")).cast("long").as("n"),
          sum(col("cp")).cast("long").as("n_pos"))
        .select(col("band"), col("n"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 9)
            .as("rate"),
          round((col("n_pos").cast("double") * col("nn").cast("double")) /
            (col("n").cast("double") * col("np").cast("double")), 9)
            .as("lift"))
        .orderBy(col("band"))
    }),

    // #210: quantile normalization across sources (Bolstad et al.
    // 2003, the batch-effect-correction classic; here: aligning
    // per-source doc-length distributions before mixing) — each
    // (source, n_chars) value maps to the POOLED distribution's value
    // at the same midrank fraction. Per-source CDFs ride the filled
    // domain grid (source-partitioned windows only; the pooled
    // inclusive cumulative is recovered as Σ_sources cum_src, no
    // unpartitioned window); the target pooled rank is an integer
    // ceil-div (never a float); and the rank→value lookup is the
    // width-64 binned interval join (q_neg_sampling's shape — no
    // broadcast nested loop). The oracle runs the literal BETWEEN
    // range join, proving the binned rewrite. Output: the
    // domain-sized (source, n_chars → norm) mapping table; applying
    // it to docs is one broadcast equi-join.
    "q_quantile_norm" -> ((s, dir) => {
      // r18 (guide §3.3): `h` feeds grid (×2), filled, nSrc and tot —
      // five corpus scans without materialization (StageProbe showed
      // six 32-task jobs of 4-13 s task time each). The histogram is
      // domain-sized (sources × distinct n_chars); checkpoint once.
      val h = tp(s, dir, "documents")
        .select(col("source").as("src"), col("n_chars").as("x"))
        .groupBy(col("src"), col("x")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val grid = h.select(col("x")).distinct()
        .crossJoin(broadcast(h.select(col("src")).distinct()))
      val filled = grid.join(h, Seq("src", "x"), "left").na.fill(0, Seq("c"))
      val wlt = Window.partitionBy(col("src")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cc = filled
        .withColumn("cumlt", coalesce(sum(col("c")).over(wlt), lit(0L)))
        .withColumn("cum", col("cumlt") + col("c"))
      val pooled = cc.groupBy(col("x"))
        .agg(sum(col("c")).as("cp"), sum(col("cum")).as("cum_p"))
      val iv = pooled.select(col("x").as("nx"),
        (col("cum_p") - col("cp") + 1).as("lo"), col("cum_p").as("hi"))
      val bins = iv.withColumn("bin",
        explode(sequence(shiftright(col("lo") - 1, 6),
          shiftright(col("hi") - 1, 6))))
      val nSrc = h.groupBy(col("src")).agg(sum(col("c")).as("nsrc"))
      val tot = h.agg(sum(col("c")).cast("long").as("nn"))
      // decimal(38,0) cross-multiply: the pooled-rank numerator is
      // O(N²) and would silently overflow int64 near ~2e9 pooled rows;
      // decimal keeps the ceil-div midrank exact at any scale (the
      // q_auc/q_changepoint rule), and `div` on decimals yields the
      // exact integral quotient as a long
      val kk = cc.filter(col("c") > 0)
        .join(broadcast(nSrc), "src").crossJoin(broadcast(tot))
        .withColumn("num",
          (col("cumlt") * 2 + col("c") + 1).cast("decimal(38,0)") *
            col("nn").cast("decimal(38,0)"))
        .withColumn("den", (col("nsrc") * 2).cast("decimal(38,0)"))
        .withColumn("k", expr("(num + den - 1) div den"))
        .withColumn("bin", shiftright(col("k") - 1, 6))
      kk.join(bins, Seq("bin"))
        .filter(col("k") >= col("lo") && col("k") <= col("hi"))
        .select(col("src").as("source"), col("x").as("n_chars"),
          col("nx").as("norm"))
        .orderBy(col("source"), col("n_chars"))
    }),

    // #211: single-changepoint detection per series (AMOC via the
    // CUSUM mean-shift estimator): the changepoint is
    // argmax_d |cs_d·N − S·cn_d| — the cumulative-sum deviation from
    // the series' own linear trend, CROSS-MULTIPLIED so the argmax
    // compares exact decimals (a per-day division would put a float
    // argmax one ULP from flipping between engines; the repo's KS/MWU
    // trick applied to time). One (arm → day) shuffle to daily
    // decimal sums, day-domain-sized cumulative windows, rank-1 pick
    // with earliest-day tie-break; the deviation is reported as a
    // double only in the output (exact: |dev| < 2^53).
    "q_changepoint" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type").as("arm"), to_date(col("ts")).as("day"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("arm"), col("day"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sd"))
      val wc = Window.partitionBy(col("arm")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = daily
        .withColumn("cn", sum(col("n")).over(wc))
        .withColumn("cs", sum(col("sd")).over(wc))
      val tot = daily.groupBy(col("arm"))
        .agg(sum(col("n")).as("nn"), sum(col("sd")).as("ss"),
          max(col("day")).as("last_day"))
      val dev = cum.join(broadcast(tot), "arm")
        .filter(col("day") < col("last_day"))
        .withColumn("dev", abs(col("cs") * col("nn") - col("ss") * col("cn")))
      val wr = Window.partitionBy(col("arm"))
        .orderBy(col("dev").desc, col("day").asc)
      dev.withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
        .select(col("arm"), col("day").as("cp_day"),
          col("dev").cast("double").as("dev"))
        .orderBy(col("arm"))
    }),

    // #63: arg-min/arg-max (max_by/min_by) with struct tie-break
    "q_arg_minmax" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("max_order"),
          min_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("min_order"))
        .filter(col("o_custkey") < 50)),

    // #64: string aggregation to a deterministic ordered list
    "q_string_agg" -> ((s, dir) =>
      t(s, dir, "nation").join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))),

    // #30q: unpivot (melt) measures to rows — the inverse of q_pivot
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(dsum(col("val")).as("total"), count(lit(1)).as("n"))),

    // #30r: null-safe equality (<=>) join on a nullable key
    "q_null_safe" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
        .withColumn("k", nullif(col("o_orderstatus"), lit("P")))
      val d = Seq((Option("F"), "finished"), (Option("O"), "open"),
        (Option.empty[String], "pending")).toDF("k2", "label")
      o.join(broadcast(d), col("k") <=> col("k2"))
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
    }),

    // #30p: percent_rank / cume_dist / nth_value over a total per-group
    // order (rank ratios are exact int divisions — engine-identical)
    "q_window_extras" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
    }),

    // #65: salted shuffle join — row-identical to the plain join (the
    // oracle IS the unsalted join), hot keys spread over 4 reducers
    "q_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.SkewAgg.saltedJoin(li, o, "l_orderkey", "o_orderkey",
          buckets = 4, saltSource = col("l_linenumber"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
    }),

    // #66: exactly-k-per-stratum deterministic sample (eval-set cut)
    "q_sample_topk_stratum" -> ((s, dir) =>
      Sampling.topKPerStratum(t(s, dir, "documents"), "doc_id", "source", 5)
        .select(col("source"), col("doc_id"))),

    // #178: Efraimidis–Spirakis weighted k-sample per source, weight =
    // n_chars — the deterministic weighted counterpart of
    // q_sample_topk_stratum (source-mixing by importance weight);
    // output is (source, rank, id) ints — the transcendental key only
    // orders, it is never emitted
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"),
          "doc_id", "source", "n_chars", 5)
        .select(col("source"), col("rnk"), col("doc_id"))),

    // #70: repetition filter (Gopher/C4-style): duplicate-token ratio
    // per doc — 1 - distinct/total, exact int division both engines.
    // greatest(.,1) guards 0/0 for empty docs: Spark's NULL vs DuckDB's
    // NaN would otherwise diverge on whether the doc passes the filter.
    "q_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .select(col("doc_id"),
          (lit(1.0) - size(array_distinct(col("tk"))).cast("double") /
            greatest(size(col("tk")), lit(1)).cast("double")).as("dup_ratio"))
        .filter(col("dup_ratio") > 0.5)),

    // #71: benchmark decontamination — drop training docs sharing any
    // word 5-gram with the benchmark set (docs 0-9 stand in); the
    // shingle semi-join is the standard contamination check, and it
    // shuffles on the shingle hash, never doc x doc
    "q_contamination" -> ((s, dir) => {
      val docs = tp(s, dir, "documents") // shingling is per-row compute
      val trainSh = Dedup.shingleDf(docs.filter(col("doc_id") >= 10),
        "doc_id", "text", 5).select(col("id"), explode(col("sh")).as("g"))
      // holdout set is tiny by construction — its distinct shingles
      // broadcast, so the corpus side never shuffles
      val benchSh = Dedup.shingleDf(docs.filter(col("doc_id") < 10),
        "doc_id", "text", 5).select(explode(col("sh")).as("g")).distinct()
      trainSh.join(broadcast(benchSh), "g").select(col("id").as("doc_id")).distinct()
    }),

    // ===== §2.6 time-series joins, clustering, curation =====

    // #52: as-of join — each click matched to the user's latest view at
    // or before it (union + one window pass, no join; see AsOfJoin)
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      AsOfJoin.asOf(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"),
        "user_id", "ts", "ts", "event_id", "view_id")
        .select(col("event_id").as("click_id"), col("view_id"))
    }),

    // #53: interval×point range join via coarse binning (equi-shuffle
    // on bin id + exact range filter; never a nested-loop join)
    "q_range_join" -> ((s, dir) => {
      val iv = t(s, dir, "orders").filter(col("o_orderkey") % 1000 === 0)
      RangeJoin.pointInInterval(iv, t(s, dir, "lineitem"),
        "o_orderdate", 7, "l_shipdate")
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
    }),

    // #54: near-dup clustering — connected components over the
    // MinHash-LSH pair list; every doc labeled with its component min id
    "q_dedup_cluster" -> ((s, dir) => {
      val docs = tp(s, dir, "documents")
      val edges = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      DedupCluster.components(docs, "doc_id", edges)
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),

    // #55: deterministic content-hash sampling (reproducible split,
    // engine/run/cluster-size independent; pure pushed-down filter)
    "q_sample_hash" -> ((s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), "text", "1999")
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))),

    // #55b: stratified per-source rates (drop/downsample/keep strata)
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedHashSample(t(s, dir, "documents"), "text", "source",
        Map("src0" -> "ffff", "src1" -> "8000", "src2" -> "1999"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))),

    // #56: df-weighted term relevance (TF-IDF family), top-3 per doc
    "q_tfidf" -> ((s, dir) =>
      Tfidf.topTerms(tp(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", 3)),

    // #57: PII redaction pass (emails/phones -> typed placeholders) on
    // a synthesized contact line (corpus text carries no PII)
    "q_pii_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("contact", concat(lit("user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .select(col("doc_id"),
          graft.functions.TextAnalysis.redactPii(col("contact")).as("redacted"))),

    // #58: corpus bigram counts (raw occurrences, the LM-counts shape);
    // shingling via the one-pass native expression (§2.5 row 51f)
    "q_bigrams" -> ((s, dir) =>
      tp(s, dir, "documents") // corpus-wide tokenize+shingle is per-row compute
        .select(explode(graft.functions.NativeExpressions
          .wordNGrams(lower(col("text")), 2, distinct = false)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc).limit(50)),

    // #73: sequence packing — docs concatenated per source shard in
    // doc_id order, cut into 512-token bins (packed-sample training
    // layout); one shuffle + one window pass per shard
    "q_pack_sequences" -> ((s, dir) => {
      val d = tp(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).as("nt"))
      operators.Packing.binStats(d, "source", "doc_id", "nt", 512)
        .withColumn("tok_sum", col("tok_sum").cast("long"))
    }),

    // #74: deterministic training-order shuffle — md5-keyed global
    // order; top-100 prefix goes through TakeOrderedAndProject, the
    // row_number runs on 100 rows only (never a full global sort)
    "q_shuffle_order" -> ((s, dir) => {
      val h = md5(concat(lit("seed42:"), col("doc_id").cast("string")))
      t(s, dir, "documents").select(col("doc_id"), h.as("h"))
        .orderBy(col("h"), col("doc_id")).limit(100)
        .select(col("doc_id"),
          row_number().over(boundedGlobal("top-100 prefix after limit")
            .orderBy(col("h"), col("doc_id"))).as("rnk"))
    }),

    // #75: doc-length histogram (64-char buckets, integer-exact)
    "q_len_histogram" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(expr("n_chars div 64").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_c"),
          max(col("n_chars")).as("max_c"))),

    // #76: most-frequent token per source (deterministic mode-per-group:
    // count + row_number with count-desc/token-asc tie-break)
    "q_vocab_top_per_source" -> ((s, dir) => {
      val counts = tp(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("cnt"))
      counts.select(col("source"), col("token"), col("cnt"),
          row_number().over(Window.partitionBy("source")
            .orderBy(col("cnt").desc, col("token").asc)).as("rn"))
        .filter(col("rn") === 1).drop("rn")
    }),

    // #77: skewness/kurtosis from exact decimal moment sums (order-
    // independent; derived doubles share the oracle's expression tree,
    // round(9) absorbs FMA-contraction ULPs — q_stats_agg pattern)
    "q_skew_kurt" -> ((s, dir) => {
      val x = col("l_quantity").cast("decimal(9,2)")
      val x2 = (x * x).cast("decimal(18,4)")
      val g = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("nd"),
          sum(x.cast("decimal(28,4)")).cast("double").as("sx"),
          sum(x2.cast("decimal(28,4)")).cast("double").as("sx2"),
          sum((x2 * x).cast("decimal(28,6)")).cast("double").as("sx3"),
          sum((x2 * x2).cast("decimal(38,8)")).cast("double").as("sx4"))
      val m = col("sx") / col("nd")
      val v = col("sx2") / col("nd") - m * m
      g.select(col("l_returnflag"),
        round((col("sx3") / col("nd") - lit(3.0) * m * (col("sx2") / col("nd")) +
          lit(2.0) * m * m * m) / (v * sqrt(v)), 9).as("skew_qty"),
        round((col("sx4") / col("nd") - lit(4.0) * m * (col("sx3") / col("nd")) +
          lit(6.0) * m * m * (col("sx2") / col("nd")) -
          lit(3.0) * m * m * m * m) / (v * v) - lit(3.0), 9).as("kurt_qty"))
    }),

    // #78: character trigram counts (charset/script profiling shape);
    // n >= 3 guard BEFORE sequence() — a start>stop sequence would step
    // backwards, not return empty
    "q_char_ngrams" -> ((s, dir) =>
      tp(s, dir, "documents").filter(col("doc_id") < 100)
        .select(lower(col("text")).as("tx"))
        .select(col("tx"), length(col("tx")).as("n"))
        .filter(col("n") >= 3)
        .select(explode(transform(sequence(lit(1), col("n") - 2),
          i => col("tx").substr(i, lit(3)))).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram").asc).limit(50)),

    // #79: ratio-to-total window — each event's share of its user's
    // exact decimal total (one window pass, no self-join)
    "q_ratio_window" -> ((s, dir) => {
      val usum = sum(col("value").cast("decimal(18,2)"))
        .over(Window.partitionBy("user_id")).cast("double")
      t(s, dir, "events").filter(col("user_id") < 3)
        .select(col("user_id"), col("event_id"),
          round(col("value").cast("decimal(18,2)").cast("double") / usum, 9)
            .as("share"))
    }),

    // #90: token co-occurrence within a 5-token sliding window (PMI
    // numerator counts): pairs ordered (lesser, greater) so A-B and B-A
    // collapse; pair strings are built BEFORE the explode so the
    // generate emits flat strings, and counts top-20. O(n·w) pairs per
    // doc, never doc×doc.
    "q_cooccur" -> ((s, dir) => {
      val d = tp(s, dir, "documents").filter(col("doc_id") < 200)
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .select(col("tk"), size(col("tk")).as("n"))
        .filter(col("n") >= 2)
      d.select(explode(flatten(transform(sequence(lit(1), col("n") - 1),
          i => transform(sequence(i + 1, least(i + 4, col("n"))),
            j => concat_ws(" ",
              least(element_at(col("tk"), i), element_at(col("tk"), j)),
              greatest(element_at(col("tk"), i), element_at(col("tk"), j))))))
        ).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc).limit(20)
    }),

    // #89: corpus vocabulary overlap — distinct-token set sizes and
    // intersection between two sources (integer-exact set similarity;
    // one shuffle on token, presence flags instead of a self-join)
    "q_vocab_overlap" -> ((s, dir) => {
      val d = tp(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      d.groupBy(col("token"))
        .agg(max(when(col("source") === "src0", 1).otherwise(0)).as("a"),
          max(when(col("source") === "src1", 1).otherwise(0)).as("b"))
        .agg(sum(col("a")).cast("long").as("n_a"),
          sum(col("b")).cast("long").as("n_b"),
          sum(col("a") * col("b")).cast("long").as("n_common"))
    }),

    // #195: ALL-PAIRS source vocabulary overlap via the KMV theta-style
    // sketch (functions.KmvSketch) — q_vocab_overlap answers one pair
    // exactly by shuffling every (token, source-bit) row; this answers
    // all 190 pairs from one pass that ships ≤ k longs per source per
    // partition. The sketch is the k smallest DISTINCT md5-60bit token
    // hashes — a deterministic bottom-k sample of the hash space, so
    // unlike HLL it supports INTERSECTION: for the merged pair sketch,
    // est|A∪B| = (k−1)·2⁶⁰/θ and est|A∩B| = (matches below θ / k) ·
    // est|A∪B|. Every value is engine-replayable (the oracle rebuilds
    // the identical sketches in SQL); accuracy ~1/√k is pinned against
    // the exact overlap in KmvSpec.
    "q_kmv_overlap" -> ((s, dir) => {
      val k = 256
      val kM = lit(255.0) * lit(1152921504606846976L).cast("double") // (k−1)·2⁶⁰
      val tok = tp(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .select(col("source"),
          NativeExpressions.md5Prefix60(col("token")).as("h"))
      val sk = tok.groupBy(col("source"))
        .agg(graft.functions.KmvSketch.kmv(col("h"), k).as("mins"))
      val a = sk.select(col("source").as("s1"), col("mins").as("m1"))
      val b = sk.select(col("source").as("s2"), col("mins").as("m2"))
      val u = a.join(broadcast(b), col("s1") < col("s2"))
        .withColumn("uk",
          slice(array_sort(array_distinct(concat(col("m1"), col("m2")))), 1, k))
      val ku = size(col("uk"))
      val kth = element_at(col("uk"), ku)
      val mm = size(filter(array_intersect(col("m1"), col("m2")), x => x <= kth))
      val estU = when(ku < k, ku.cast("double"))
        .otherwise(kM / kth.cast("double"))
      u.select(col("s1"), col("s2"),
          size(col("m1")).cast("long").as("n1"),
          size(col("m2")).cast("long").as("n2"),
          ku.cast("long").as("ku"), mm.cast("long").as("m"),
          round(estU, 2).as("est_union"),
          round(mm.cast("double") / ku.cast("double") * estU, 2).as("est_inter"))
        .orderBy(col("s1"), col("s2"))
    }),

    // #202: Count-Min point-frequency estimates (functions.CmsSketch) —
    // the sketch-family member that answers "how often does THIS token
    // occur": one corpus pass ships the fixed 4×4096 counter matrix
    // (128 KiB) regardless of corpus size or vocabulary, vs the full
    // (token → count) shuffle of the exact path; every top-20 token's
    // estimate is then d array lookups, and CMS is one-sided (est ≥
    // exact, overshoot bounded by bucket collisions). The d row-hashes
    // are bit slices of ONE md5-60bit hash, so the oracle rebuilds the
    // identical bucket sums in SQL and the whole sketch is
    // merge-tree-independent — deterministic, value-for-value checkable.
    "q_cms_counts" -> ((s, dir) => {
      val d = 4; val wth = 4096
      val tok = tp(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .select(col("token"),
          NativeExpressions.md5Prefix60(col("token")).as("h"))
      val sketch = tok.agg(graft.functions.CmsSketch.cms(col("h"), d, wth).as("sk"))
      val top = tok.groupBy(col("token"), col("h"))
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token").asc).limit(20)
      val est = (0 until d).map { i =>
        element_at(col("sk"),
          (shiftright(col("h"), i * 12).bitwiseAND(lit(wth - 1)) +
            lit(i * wth) + lit(1)).cast("int"))
      }.reduce(least(_, _))
      top.crossJoin(broadcast(sketch))
        .select(col("token"), col("exact_n"), est.as("est_n"))
    }),

    // #242: mergeable QUANTILE sketch (§2.5 family) — the deterministic
    // bottom-k-by-hash value sample (functions.QuantileSample): per
    // event arm, p50/p90 from a 256-value uniform sample beside the
    // exact bounded-histogram percentiles (the q_cms_counts est-vs-
    // exact contract, carried to order statistics). Each partition
    // ships ≤ k (hash, value) pairs per arm — no per-group data sort;
    // sample determinism (bottom-k of a content hash is a set
    // function) is what lets the SAMPLED quantiles be oracle-checked
    // value-for-value, not just bounds-tested.
    "q_quantile_sketch" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val h = NativeExpressions.md5Prefix60(concat(lit("qs:"), col("event_id")))
      val sk = ev.groupBy(col("event_type"))
        .agg(graft.functions.QuantileSample
          .quantileSample(h, col("value"), 256).as("smp"))
        .select(col("event_type"),
          size(col("smp")).cast("long").as("n_sample"),
          element_at(col("smp"),
            ceil(size(col("smp")) * 0.5).cast("int")).as("sp50"),
          element_at(col("smp"),
            ceil(size(col("smp")) * 0.9).cast("int")).as("sp90"))
      val hist = ev.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("tot",
          sum(col("c")).over(Window.partitionBy(col("event_type"))))
      def cut(p: Int): Column =
        min(when(col("cum") * 100 >= col("tot") * p, col("value")))
      val exact = cum.groupBy(col("event_type"))
        .agg(cut(50).as("ep50"), cut(90).as("ep90"))
      sk.join(exact, "event_type").orderBy(col("event_type"))
    }),

    // #243: per-dimension embedding statistics (feature-drift monitor —
    // the vector-pipeline health check a 100 TB embedding store runs
    // per ingest batch): mean and population std per dimension from
    // ONE posexplode + hash agg with decimal-exact moment sums; the
    // only float steps are the two shared closed-form trees, round(9).
    "q_vector_stats" -> ((s, dir) =>
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
        .orderBy(col("dim"))),

    // #244: token-budget CURRICULUM staging (easy→hard training order,
    // Bengio et al. 2009 shape): docs ordered by a difficulty proxy
    // (length, tie doc_id), packed into stages of 50k tokens each via
    // the DISTRIBUTED exclusive prefix-sum of token counts
    // (GroupRank.prefixSum — range repartition + offset stamp, no
    // single-partition window over the corpus); stage = cum // budget
    // (4k tokens/stage ⇒ a few stages at the test corpus size).
    // The same construction stages by any integer difficulty score.
    "q_curriculum" -> ((s, dir) => {
      val budget = 4000L
      val docs = tp(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("g", lit(1))
      graft.operators.GroupRank
        .prefixSum(docs, Seq("g"), Seq("n_chars", "doc_id"), Some("n_tok"), "cum")
        .withColumn("stage", expr(s"cum div ${budget}L"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy(col("stage"))
    }),

    // #245: Johnson–Lindenstrauss random projection (Achlioptas 2003
    // ±1 variant) — the cheap dimensionality reduction ahead of ANN /
    // clustering at 100 TB: 64-dim embeddings → 16 components via a
    // DETERMINISTIC Rademacher matrix (sign from the md5-60bit hash of
    // (component, dim), so the projection replays on any engine with
    // no shipped matrix). Inputs are 1e-6-quantized (the
    // q_dedup_embedding rule) and the ±sums run in exact decimal — the
    // projection is integer-exact arithmetic end to end, one fan-out
    // projection + hash agg, no shuffle of the raw vectors.
    "q_random_projection" -> ((s, dir) =>
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
        .orderBy(col("vec_id"), col("j"))),

    // #252: maximal-marginal-relevance diversity re-rank (Carbonell &
    // Goldstein SIGIR'98) — after the index returns 20 candidates per
    // query, greedily pick 10 maximizing λ·rel − (1−λ)·max-sim-to-
    // selected: the dedup-aware retrieval that keeps a training batch
    // from being 10 copies of the same neighborhood. Greedy loop runs
    // on queries×20 rows only; round(9) sims + low-id tie-breaks make
    // the whole greedy TRAJECTORY engine-replayable (oracle = 10
    // unrolled CTE stages).
    "q_mmr" -> ((s, dir) => {
      val e = tp(s, dir, "embeddings")
      Ann.mmrTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nCand = 20)
        .orderBy(col("q_id"), col("pick"))
    }),

    // #253: continuous (interpolated) percentile per group — the
    // PERCENTILE_CONT semantics beside q_percentile_disc's discrete
    // ones, still from the bounded value-domain histogram (no
    // per-group sort of data): pos = q·(n−1) held as INTEGER
    // hundredths, neighbors by cumulative-count rank, one shared
    // lo + (hi−lo)·frac tree round(9).
    "q_percentile_cont" -> ((s, dir) => {
      val hist = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity").cast("double").as("v"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("tot",
          sum(col("c")).over(Window.partitionBy(col("l_returnflag"))))
      def pct(p: Int): Column = {
        val pos = lit(p.toLong) * (col("tot") - 1) // integer hundredths
        val loRank = expr(s"($p * (tot - 1)) div 100 + 1")
        val frac = (pos % 100).cast("double") / 100.0
        val lo = min(when(col("cum") >= loRank, col("v")))
        val hi = coalesce(min(when(col("cum") >= loRank + 1, col("v"))), lo)
        round(lo + (hi - lo) * max(frac), 9)
      }
      cum.groupBy(col("l_returnflag"))
        .agg(pct(50).as("p50"), pct(90).as("p90"))
        .orderBy(col("l_returnflag"))
    }),

    // #254: difference-in-differences estimator — the quasi-
    // experimental lift read when randomization isn't available:
    // hash-assigned arms × a fixed pre/post cutoff, decimal-exact cell
    // means, DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre)
    // as one shared closed-form tree round(9). One events scan to a
    // 4-cell table.
    "q_did" -> ((s, dir) => {
      val cells = t(s, dir, "events")
        .withColumn("arm",
          NativeExpressions.md5Prefix60(concat(lit("did:"), col("user_id"))) % 2)
        .withColumn("period",
          when(col("ts") < lit("2024-01-15").cast("timestamp"), 0).otherwise(1))
        .groupBy(col("arm"), col("period"))
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double") /
          count(lit(1)), 9).as("m"))
      def cell(a: Int, p: Int): Column =
        max(when(col("arm") === a && col("period") === p, col("m")))
      cells.agg(cell(0, 0).as("ctrl_pre"), cell(0, 1).as("ctrl_post"),
          cell(1, 0).as("treat_pre"), cell(1, 1).as("treat_post"))
        .select(col("ctrl_pre"), col("ctrl_post"),
          col("treat_pre"), col("treat_post"),
          round((col("treat_post") - col("treat_pre")) -
            (col("ctrl_post") - col("ctrl_pre")), 9).as("did"))
    }),

    // #248: OHLC candles per (event_type, day) — the market-data /
    // metrics rollup: open/close via min_by/max_by on (ts, event_id)
    // so the whole candle is ONE hash agg over the events scan (no
    // per-group window sort); high/low/volume ride the same agg.
    "q_ohlc" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("volume"))
        .orderBy(col("event_type"), col("day"))),

    // #249: time-weighted average value per user (the monitoring /
    // position-exposure average where sample spacing is uneven): each
    // value is weighted by its holding interval to the NEXT event —
    // one (user → ts, event_id) window pass for the lead timestamp,
    // decimal-exact value×µs products, one shared final division
    // rounded 9. Single-event users (zero total duration) drop.
    "q_twa" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").cast("decimal(18,2)").as("v"),
          unix_micros(col("ts")).as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum((col("v") * (col("next_us") - col("us"))
            .cast("decimal(20,0)")).cast("decimal(38,2)")).as("wsum"),
          sum(col("next_us") - col("us")).as("dur"))
        .filter(col("dur") > 0)
        .select(col("user_id"), col("n_intervals"),
          round(col("wsum").cast("double") / col("dur").cast("double"), 9)
            .as("twa"))
        .orderBy(col("user_id"))
    }),

    // #250: NDCG@10 of the LSH index against the brute-force ranking —
    // the GRADED companion of q_ann_recall (recall counts hits; NDCG
    // scores their positions): relevance = 11 − true rank, per-term
    // rel/log2(pos+1) rounded 9 THEN summed in exact decimal (order-
    // free, a 1-ULP log2 wobble cannot move the sum), one shared
    // final division.
    "q_ndcg" -> ((s, dir) => {
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
    }),

    // #270: k-anonymity release (generalize-then-suppress) — the
    // privacy gate beside q_pii_redact (row-level masking) and
    // q_dp_counts (noisy release): quasi-identifier classes
    // (nation, segment) publish only at size ≥ k = 10; failing
    // classes generalize segment → '*' (one ladder step), what still
    // fails is suppressed into a single ('*','*') bucket, so every
    // published row is k-anonymous and nothing is silently dropped
    // (the suppressed mass stays countable). Three hash-aggs, each
    // over the class table — nothing data-sized after the first.
    "q_k_anonymity" -> ((s, dir) => {
      val k = 10L
      // r18 (guide §3.3): g0 feeds keep0 and the generalization ladder —
      // checkpoint the class table once (3 customer scans → 1)
      val g0 = t(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"))
        .groupBy(col("nation"), col("segment")).agg(count(lit(1)).as("n"))
        .eagerCheckpoint()
      val keep0 = g0.filter(col("n") >= k)
        .select(col("nation").cast("string").as("nation_out"),
          col("segment").as("segment_out"), col("n"), lit(0).as("level"))
      val g1 = g0.filter(col("n") < k)
        .groupBy(col("nation")).agg(sum(col("n")).as("n"))
      val keep1 = g1.filter(col("n") >= k)
        .select(col("nation").cast("string").as("nation_out"),
          lit("*").as("segment_out"), col("n"), lit(1).as("level"))
      val rest = g1.filter(col("n") < k)
        .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
        .filter(col("n") > 0)
        .select(lit("*").as("nation_out"), lit("*").as("segment_out"),
          col("n"), lit(2).as("level"))
      keep0.unionAll(keep1).unionAll(rest)
        .orderBy(col("level"), col("nation_out"), col("segment_out"))
    }),

    // #269: CUSUM change-point on daily revenue — the batch twin of
    // the streaming CUSUM detector (64k): argmax_t |Σ_{≤t}(x − x̄)|.
    // The mean is a RATIONAL, so the deviation scales exactly:
    // n·S_t = n·cumsum_t − t·total is decimal-EXACT — the argmax
    // compares exact decimals (no float tree at all), tie-break
    // earliest day; only the reported magnitude divides out n,
    // round(9). Day-table-sized after the rollup.
    "q_change_point" -> ((s, dir) => {
      val d = t(s, dir, "orders")
        .groupBy(unix_date(col("o_orderdate").cast("date")).cast("long").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val wc = boundedGlobal("day table, one row per day").orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wr = boundedGlobal("day table, one row per day").orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = d
        .withColumn("t", count(lit(1)).over(wr))
        .withColumn("cs", sum(col("rev")).over(wc))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("nn"),
          sum(col("rev")).as("tot"))))
        .select(col("day"), col("nn"),
          abs(col("cs") * col("nn") - col("tot") * col("t")).as("devn"))
      cum.orderBy(col("devn").desc, col("day").asc).limit(1)
        .select(col("day").as("change_day"),
          round(col("devn").cast("double") / col("nn").cast("double"), 9)
            .as("max_dev"))
    }),

    // #260: sliding-window text chunking (the RAG / context-window
    // preprocessing step): 64-token windows at stride 48 (16-token
    // overlap) per doc via operators.Chunking — a stateless pure
    // projection, so the identical plan serves structured streaming
    // unchanged (StreamingSpec asserts batch ≡ stream); chunk
    // fingerprints are md5-60bit so chunk-level dedup joins move
    // 8-byte keys, never chunk text.
    "q_chunk_text" -> ((s, dir) =>
      operators.Chunking.slidingChunks(tp(s, dir, "documents"),
          "doc_id", "text", window = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // #261: Heaps' law fit — vocab growth V ~ k·N^β across sources
    // (each source is one (tokens, distinct-tokens) sample point; β
    // near 0.5 is natural text, near 1 means unbounded novelty — the
    // dedup/synthetic-data health check beside the Zipf slope). The
    // zipfFit regression idiom: per-point log2 coordinates, per-term
    // round(9) decimal moment sums, one closed-form IEEE tree round(6).
    "q_heaps" -> ((s, dir) => {
      val pts = tp(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
      val x = log2(col("n").cast("double"))
      val y = log2(col("v").cast("double"))
      def dsum9(c: Column): Column =
        sum(round(c, 9).cast("decimal(28,9)")).cast("double")
      val m = pts.agg(count(lit(1)).cast("double").as("np"),
        dsum9(x).as("sx"), dsum9(y).as("sy"),
        dsum9(x * y).as("sxy"), dsum9(x * x).as("sxx"))
      m.select(m("np").cast("long").as("n_sources"),
        round((m("np") * m("sxy") - m("sx") * m("sy")) /
          (m("np") * m("sxx") - m("sx") * m("sx")), 6).as("beta"),
        round((m("sy") - (m("np") * m("sxy") - m("sx") * m("sy")) /
          (m("np") * m("sxx") - m("sx") * m("sx")) * m("sx")) / m("np"), 6)
          .as("intercept"))
    }),

    // #264: Kendall τ-b between doc length and token count over a
    // bounded id range — the tie-aware rank-correlation beside
    // q_spearman (whose ρ needs distinct ranks to be comparable;
    // τ-b's tie corrections don't): C/D/tie counts from the all-pairs
    // join (id-bounded ⇒ pairs bounded; at scale the same counts come
    // from a merge-sort inversion pass), every count an exact integer,
    // τ-b one shared sqrt/division tree round(9) — IEEE sqrt is
    // correctly rounded on every engine, unlike pow/log.
    "q_kendall" -> ((s, dir) => {
      val d = tp(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          col("n_chars").cast("long").as("x"),
          size(TextAnalysis.tokens(lower(col("text")))).cast("long").as("y"))
      val pairs = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select((col("a.x") - col("b.x")).as("dx"),
          (col("a.y") - col("b.y")).as("dy"))
      val cnt = pairs.agg(
        count(lit(1)).as("n0"),
        count_if(col("dx") * col("dy") > 0).as("c"),
        count_if(col("dx") * col("dy") < 0).as("d"),
        count_if(col("dx") === 0).as("n1"),
        count_if(col("dy") === 0).as("n2"))
      cnt.select(col("n0").as("n_pairs"), col("c").as("concordant"),
        col("d").as("discordant"),
        round((col("c") - col("d")).cast("double") /
          sqrt((col("n0") - col("n1")).cast("double") *
            (col("n0") - col("n2")).cast("double")), 9).as("tau_b"))
    }),

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
    "q_rbo" -> ((s, dir) => {
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
    }),

    // #256: cross-source 5-gram overlap matrix — the training-data
    // hygiene read BEFORE mixing sources (shared boilerplate, syndicated
    // text, cross-source contamination): per source pair, shared
    // distinct gram count + exact Jaccard. Grams hash to the md5-60bit
    // identity before the distinct and the self-join, so shuffles carry
    // 8-byte keys, never gram text (the substring-dedup rule); the
    // matrix is |sources|²-bounded. Zero-overlap pairs don't emit (the
    // matrix is sparse by construction on both engines).
    "q_source_overlap" -> ((s, dir) => {
      // r18 (guide §3.3): sg feeds the size rollup and both self-join
      // sides — checkpoint the distinct (source, hash) table once
      // (3 shingle-explode corpus passes → 1)
      val sg = Dedup.shingleDf(tp(s, dir, "documents"), "source", "text", 5)
        .select(col("id").as("source"), explode(col("sh")).as("g"))
        .select(col("source"),
          NativeExpressions.md5Prefix60(concat(lit("so:"), col("g"))).as("gh"))
        .distinct()
        .eagerCheckpoint()
      val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
      sg.as("a").join(sg.as("b"),
          col("a.gh") === col("b.gh") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.select(col("source").as("source_a"),
          col("n").as("na"))), "source_a")
        .join(broadcast(sizes.select(col("source").as("source_b"),
          col("n").as("nb"))), "source_b")
        .select(col("source_a"), col("source_b"), col("n_shared"),
          round(col("n_shared").cast("double") /
            (col("na") + col("nb") - col("n_shared")).cast("double"), 9)
            .as("jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // #258: vocabulary coverage curve — what fraction of all token
    // OCCURRENCES the top-k vocab covers (the OOV-rate-vs-vocab-size
    // read that sizes a tokenizer): ranks come from GroupRank's
    // DISTRIBUTED two-pass rank over the vocab table (no single-task
    // window over a 100M-row vocab), coverage is one conditional agg —
    // exact integer sums, two shared divisions round(9).
    "q_vocab_coverage" -> ((s, dir) => {
      val vocab = tp(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .withColumn("g", lit(1)).withColumn("neg", -col("cnt"))
      operators.GroupRank.rowNumber(vocab, Seq("g"), Seq("neg", "token"), "rnk")
        .agg(count(lit(1)).as("vocab_size"),
          sum(col("cnt")).cast("decimal(38,0)").as("tot"),
          sum(when(col("rnk") <= 100, col("cnt")).otherwise(0L))
            .cast("decimal(38,0)").as("s100"),
          sum(when(col("rnk") <= 1000, col("cnt")).otherwise(0L))
            .cast("decimal(38,0)").as("s1000"))
        .select(col("vocab_size"),
          round(col("s100").cast("double") / col("tot").cast("double"), 9)
            .as("cov_100"),
          round(col("s1000").cast("double") / col("tot").cast("double"), 9)
            .as("cov_1000"))
    }),

    // #259: Simpson diversity (repeat-concentration λ, unbiased form)
    // of each source's token distribution — the lexical-diversity
    // mixture read beside entropy/TTR: λ = Σ n_t(n_t−1) / (N(N−1)),
    // the probability two tokens drawn without replacement coincide.
    // Integer numerator and denominator (decimal(38,0) sums), one
    // shared division round(9); one token-keyed agg per source.
    "q_simpson" -> ((s, dir) => {
      val tc = tp(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      tc.groupBy(col("source"))
        .agg(sum(col("c")).cast("decimal(38,0)").as("nt"),
          count(lit(1)).as("vocab"),
          sum((col("c") * (col("c") - 1)).cast("decimal(38,0)")).as("num"))
        .filter(col("nt") > 1)
        .select(col("source"), col("nt").cast("long").as("n_tokens"),
          col("vocab"),
          round(col("num").cast("double") /
            (col("nt") * (col("nt") - lit(1))).cast("double"), 9).as("simpson"))
        .orderBy(col("source"))
    }),

    // #251: per-doc script-mix profile (mixed-script spam detection /
    // language routing): character counts per explicit Unicode range
    // class — ASCII letters, digits, CJK, Cyrillic — as length deltas
    // of class-strip regexes. Integer counts, literal-range classes
    // identical in Java and RE2, one projection scan.
    "q_script_mix" -> ((s, dir) => {
      def n(c: Column, cls: String): Column =
        (length(c) - length(regexp_replace(c, cls, ""))).cast("long")
      t(s, dir, "documents").select(col("doc_id"),
        n(col("text"), "[A-Za-z]").as("n_latin"),
        n(col("text"), "[0-9]").as("n_digit"),
        n(col("text"), "[一-鿿]").as("n_cjk"),
        n(col("text"), "[Ѐ-ӿ]").as("n_cyrillic"))
    }),

    // #246: median-of-means robust mean (the heavy-tail-robust
    // estimator; Nemirovsky–Yudin shape): b=16 deterministic hash
    // buckets per arm, decimal-exact bucket means, exact DISCRETE
    // median of the bucket means (element_at of the sorted bucket-mean
    // array — 16 rows per arm, engine-stable). Beside it the plain
    // mean, so the report shows what the outliers moved. Scale: one
    // hash agg to 16×arms rows; the median never touches data-sized
    // state.
    "q_mom_mean" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val bkt = NativeExpressions.md5Prefix60(
        concat(lit("mom:"), col("event_id"))) % 16
      val bm = ev.groupBy(col("event_type"), bkt.as("b"))
        .agg(round(sum(col("value").cast("decimal(18,2)"))
          .cast("double") / count(lit(1)), 9).as("m"),
          count(lit(1)).as("c"),
          sum(col("value").cast("decimal(18,2)")).as("sv"))
      bm.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_buckets"),
          element_at(array_sort(collect_list(col("m"))),
            ceil(count(lit(1)) * 0.5).cast("int")).as("mom_mean"),
          round(sum(col("sv")).cast("double") /
            sum(col("c")), 9).as("plain_mean"))
        .orderBy(col("event_type"))
    }),

    // #247: sample-ratio-mismatch (SRM) guardrail — the experiment
    // health check that must pass before any metric read (Fabijan et
    // al. 2019): users assigned to two arms by content hash, observed
    // split vs 50/50 expected as a chi-square stat (integer counts,
    // one shared closed-form tree, round 9) and the α=0.05 flag.
    "q_srm" -> ((s, dir) => {
      val users = t(s, dir, "events").select(col("user_id")).distinct()
        .withColumn("arm",
          NativeExpressions.md5Prefix60(concat(lit("srm:"), col("user_id"))) % 2)
      users.agg(
        count_if(col("arm") === 0).as("n_a"),
        count_if(col("arm") === 1).as("n_b"))
        .select(col("n_a"), col("n_b"),
          round((col("n_a") - col("n_b")).cast("double") *
            (col("n_a") - col("n_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double"), 9).as("chi2"),
          ((col("n_a") - col("n_b")).cast("double") *
            (col("n_a") - col("n_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double") > 3.841).as("srm_flag"))
    }),

    // #203: sorted-neighborhood dedup (Hernández–Stolfo SIGMOD'95) —
    // the record-linkage BLOCKING family's order-based member, next to
    // the hash-based blockers (LSH bands, simhash blocks, prefix
    // filter): sort by a blocking key, compare only rows within w
    // positions ⇒ exactly n·w candidates however skewed the key
    // distribution (hash blocks can degenerate; a window cannot). The
    // global order comes from DenseId's two-pass offset rank (NO
    // single-partition window), candidates from a same-or-adjacent
    // bucket equi-join on rank/w, and the Jaccard verify compares
    // integers (2·|∩| ≥ |∪|) — float-free end to end.
    "q_snm_dedup" -> ((s, dir) => {
      val wWin = 10
      val docs = tp(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(trim(lower(col("text"))), "[ \\t\\n\\x0B\\f\\r]+", " ").as("norm"))
        .withColumn("bkey", substring(col("norm"), 1, 16))
      val ranked = graft.operators.DenseId
        .assign(docs, Seq("bkey", "doc_id"), "rnk")
        .withColumn("tk", array_distinct(TextAnalysis.tokens(col("norm"))))
        .withColumn("b", (col("rnk") / wWin).cast("long"))
      val a = ranked.select(col("doc_id").as("id1"), col("tk").as("t1"),
        col("rnk").as("r1"), col("b"))
      val bdf = ranked.select(col("doc_id").as("id2"), col("tk").as("t2"),
        col("rnk").as("r2"),
        explode(array(col("b"), col("b") - 1)).as("b"))
      val inter = size(array_intersect(col("t1"), col("t2")))
      val uni = size(col("t1")) + size(col("t2")) - inter
      a.join(bdf, "b")
        .filter(col("r2") > col("r1") && col("r2") - col("r1") <= wWin)
        .select(col("id1"), col("id2"), inter.cast("long").as("inter"),
          uni.cast("long").as("uni"))
        .filter(col("inter") * 2 >= col("uni"))
    }),

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
    "q_neg_sampling" -> ((s, dir) => {
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
    }),

    // #205: Benford first-digit audit (fraud / synthetic-data smell
    // test on monetary columns): leading digit comes from the STRING
    // of exact integer cents — integer→string is engine-identical,
    // where log10-of-double digit extraction would wobble at powers of
    // ten; Benford probabilities are pre-computed double literals (not
    // engine log10 calls), and the χ² contributions are one fixed IEEE
    // tree over (count, N, p). One hash-agg over orders; 9-row output.
    "q_benford" -> ((s, dir) => {
      val probs = Seq(0.3010299956639812, 0.17609125905568124,
        0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
        0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
        0.04575749056067514)
      val cents = (col("o_totalprice").cast("decimal(18,2)") * lit(100))
        .cast("long")
      val d = t(s, dir, "orders")
        .select(substring(cents.cast("string"), 1, 1).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = d.agg(sum(col("n")).as("nn"))
      val p = probs.zipWithIndex.tail.foldLeft(
        when(col("digit") === "1", lit(probs.head))) {
        case (acc, (pr, i)) => acc.when(col("digit") === (i + 1).toString, lit(pr))
      }.otherwise(lit(0.0))
      val exp = col("nn").cast("double") * p
      d.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"), round(exp, 6).as("expected"),
          round((col("n").cast("double") - exp) * (col("n").cast("double") - exp)
            / exp, 9).as("chi2"))
        .orderBy(col("digit"))
    }),

    // #206: Jensen–Shannon divergence between all source pairs —
    // the SYMMETRIC drift metric next to q_kl_sources (KL is
    // asymmetric and blows up on one-sided tokens; JS is bounded
    // [0,1]). One-sided vocabulary never joins: over SHARED tokens
    // JS = ½Σ(p·log2(p/m)+q·log2(q/m)), and each side's absent-token
    // mass enters in closed form as ½(1−Σ_sh p)+½(1−Σ_sh q) — so the
    // pair join is inner on token, vocab-bounded shuffles only.
    // Per-term doubles round(9) then sum in DECIMAL (order-free),
    // final round(6) — the klFromCorpus float discipline.
    "q_js_div" -> ((s, dir) => {
      val tk = tp(s, dir, "documents").select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      // r18 (guide §3.3): cst feeds ns and j, and j self-joins —
      // checkpoint the vocab-sized counts once (4 tokenize passes → 1)
      val cst = tk.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val ns = cst.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val j = cst.join(broadcast(ns), "source")
        .select(col("source"), col("token"),
          (col("c").cast("double") / col("n").cast("double")).as("p"))
      val m = (col("pa") + col("pb")) / lit(2.0)
      j.select(col("source").as("s1"), col("token"), col("p").as("pa"))
        .join(j.select(col("source").as("s2"), col("token").as("t2"),
          col("p").as("pb")),
          col("token") === col("t2") && col("s1") < col("s2"))
        .select(col("s1"), col("s2"),
          round(col("pa") * log2(col("pa") / m) +
            col("pb") * log2(col("pb") / m), 9)
            .cast("decimal(28,9)").as("term"),
          round(col("pa"), 9).cast("decimal(28,9)").as("pa9"),
          round(col("pb"), 9).cast("decimal(28,9)").as("pb9"))
        .groupBy(col("s1"), col("s2"))
        .agg(sum(col("term")).as("ts"), sum(col("pa9")).as("sp"),
          sum(col("pb9")).as("sq"))
        .select(col("s1"), col("s2"),
          round(lit(0.5) * col("ts").cast("double") +
            lit(0.5) * (lit(1.0) - col("sp").cast("double")) +
            lit(0.5) * (lit(1.0) - col("sq").cast("double")), 6).as("js"))
        .orderBy(col("s1"), col("s2"))
    }),

    // #87: chunk-level exact dedup — 32-token chunks hashed (md5 of the
    // space-joined slice), repeated chunks counted across the corpus;
    // the paragraph-dedup shape of C4-style cleaning. Shuffle carries
    // 16-byte hashes, never chunk text.
    "q_chunk_dedup" -> ((s, dir) => {
      val d = tp(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"), size(col("tk")).as("nt"))
        .filter(col("nt") >= 32)
      d.select(explode(transform(sequence(lit(0), expr("nt div 32") - 1),
          i => md5(concat_ws(" ", slice(col("tk"), i * 32 + 1, lit(32)))))).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
        .filter(col("n_copies") >= 2)
        .agg(count(lit(1)).as("dup_chunks"),
          coalesce(sum(col("n_copies")), lit(0L)).as("copies_total"))
    }),

    // #88: sequential conversion funnel (view -> click -> purchase with
    // strictly increasing times per user): three chained aggregations,
    // one ANSI text on both engines; each stage is one shuffle on user
    "q_funnel" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(FunnelQuery)
    }),

    // #86: Misra-Gries frequent-items native aggregate. k=64 exceeds
    // event_type's cardinality, so no counter ever evicts and the
    // mergeable sketch's lower bounds ARE the exact counts — which is
    // what makes this oracle-checkable; the approximation regime is
    // pinned down by FreqItemsSpec instead
    "q_freq_sketch" -> ((s, dir) =>
      t(s, dir, "events")
        .agg(graft.functions.FreqItems.freqItems(col("event_type"), 64).as("fi"))
        .select(explode(col("fi")).as("e"))
        .select(col("e.item").as("item"), col("e.lb").as("cnt"))),

    // #85: one-pass table profiling (null + exact distinct counts per
    // column; Expand-based multi-NDV — swap to HLL per column at scale)
    "q_profile" -> ((s, dir) =>
      operators.TableProfile.profile(t(s, dir, "orders"),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"))),

    // #82: time-range window frame — trailing 1-hour sum per user
    // (RANGE frame keyed on epoch seconds: tie-order independent,
    // exact decimal sum; one shuffle + one sort, same as any
    // per-user windowing)
    "q_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3599L, Window.currentRow)
      t(s, dir, "events").filter(col("user_id") < 3)
        .select(col("user_id"), col("event_id"),
          round(sum(col("value").cast("decimal(18,2)")).over(w), 2)
            .cast("double").as("trail_sum"))
    }),

    // #83: regex extraction over text (regexp_extract_all → explode →
    // count; the scan stays the only full-data pass)
    "q_regex_extract" -> ((s, dir) =>
      tp(s, dir, "documents")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]{5,}"), lit(0))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w").asc).limit(20)),

    // #84: null-aware NOT IN anti join — NULLIF makes the probe side
    // nullable, exercising SQL's three-valued NOT IN semantics (Spark
    // plans a null-aware anti join, not a plain one); shared ANSI text
    "q_notin_nullaware" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(NotInNullAwareQuery)
    }),

    // #81: grouped top-k via the custom Catalyst operator (partial
    // per-partition heaps → shuffle survivors only → final merge;
    // row-identical to the window row_number plan that shuffles
    // everything — see plans.GroupTopK)
    "q_group_topk" -> ((s, dir) =>
      plans.GroupTopK.topKPerGroup(
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        3, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))),

    // #80: fixed-size token chunking (context windows for embedding/
    // indexing): chunk ids from an integer sequence — no array slicing,
    // so the shuffle never carries token arrays
    "q_token_chunks" -> ((s, dir) =>
      tp(s, dir, "documents")
        .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).as("nt"))
        .filter(col("nt") > 0)
        .select(col("doc_id"), col("nt"),
          explode(sequence(lit(0), expr("(nt + 31) div 32") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(32), col("nt") - col("chunk_idx") * 32).as("chunk_tok"))),

    // ===== round 3: lateral/recursive SQL, exact cosine pairs, =====
    // ===== corpus-statistics scoring, cluster-size histogram   =====

    // #91: correlated LATERAL subquery with ORDER BY+LIMIT — Spark
    // decorrelates into a broadcast join + per-nation rank, no
    // per-row re-execution; shared ANSI text
    "q_lateral" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(LateralQuery)
    }),

    // #92: recursive CTE (UnionLoop): per-customer order chains with an
    // exact decimal running total; shared ANSI text
    "q_recursive_cte" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      // r18: Spark's UnionLoop re-plans and re-executes the STATIC
      // `ord` side (scan + filter + rank window) on every recursion
      // step — 8 iterations × the whole subtree, and at sf0.1 the
      // driver replanning dominated (StageProbe: 51 jobs, wall 3.9 s
      // vs 1.9 s of job time). Materialize `ord` once
      // (localCheckpoint: walked-set-sized by the custkey bound) and
      // recurse against the materialized table — each step is then a
      // frontier × LogicalRDD hash join with a constant-size plan.
      // Guide §3.3 (materialize to truncate re-planned subtrees);
      // result-identical: the recursion text is unchanged, `ord` is
      // the same table either way (oracle replays the one-CTE form).
      val ord = s.sql(
        """SELECT o_custkey, o_orderkey, o_totalprice,
          |  row_number() OVER (PARTITION BY o_custkey
          |                     ORDER BY o_orderdate, o_orderkey) AS rn
          |FROM orders WHERE o_custkey < 300""".stripMargin)
        .localCheckpoint()
      ord.createOrReplaceTempView("ord_mat")
      s.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT o_custkey, rn, CAST(o_totalprice AS DECIMAL(18,2)) AS run_tot,
          |    1 AS depth
          |  FROM ord_mat WHERE rn = 1
          |  UNION ALL
          |  SELECT o.o_custkey, o.rn,
          |    CAST(c.run_tot + CAST(o.o_totalprice AS DECIMAL(18,2)) AS DECIMAL(18,2)),
          |    c.depth + 1
          |  FROM ord_mat o JOIN chain c ON o.o_custkey = c.o_custkey AND o.rn = c.rn + 1
          |  WHERE o.rn <= 8)
          |SELECT o_custkey, max(depth) AS chain_len,
          |  CAST(max_by(run_tot, depth) AS DOUBLE) AS total
          |FROM chain GROUP BY o_custkey""".stripMargin)
    }),

    // #93: exact all-pairs cosine threshold join over a bounded id
    // range — the ground-truth contract the LSH variant (#35/q_dedup_
    // embedding) approximates, oracle-checked end to end. The id bound
    // keeps the O(n²) explicit and constant-size; the unbounded scale
    // path is the LSH bucketing. Margin audit: nearest cosines to the
    // 0.4 threshold are ±1e-4 away (sf0.01 and sf0.1), ~8 orders above
    // any float-vs-double summation divergence, so the >= cut is
    // engine-stable with no rounding needed; output is integer ids only.
    "q_cosine_pairs" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val a = e.select(col("vec_id").as("i"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("j"), col("embedding").as("eb"))
      a.join(b, col("i") < col("j"))
        .filter(Vectors.cosine(col("ea"), col("eb")) >= 0.4)
        .select(col("i"), col("j"))
    }),

    // #94: character-entropy quality signal (Shannon bits/char per doc
    // from exact char counts): one explode + two shuffles, counts stay
    // integer until the final per-doc log. round(6), NOT the house
    // round(9): log2 is not correctly-rounded, so Java vs libm can
    // differ in the last ulps — error ~1e-12 against a 5e-7 rounding
    // boundary leaves ~1e-6/doc boundary risk, vs ~1e-3 at round(9).
    "q_entropy" -> ((s, dir) =>
      operators.TextStats.charEntropy(tp(s, dir, "documents"), "doc_id", "text")),

    // #95: corpus-unigram surprisal per doc (mean -log2 p(token), the
    // cheap LM-quality proxy): global token counts are a vocab-sized
    // table joined back to the exploded corpus — vocab ≪ corpus, so
    // the join broadcasts/AQE-shuffles on token, never doc×doc.
    // round(6): see q_entropy.
    "q_unigram_logprob" -> ((s, dir) =>
      operators.TextStats.unigramSurprisal(tp(s, dir, "documents"), "doc_id", "text")),

    // #96: PMI collocations from the 5-token co-occurrence window
    // (q_cooccur's counts promoted to scores): pair and unigram counts
    // are integer-exact; the single log2 per surviving pair is rounded
    // to 6 (see q_entropy) and the ordering uses the rounded value, so
    // rank is engine-stable. cnt >= 5 floors the variance.
    "q_pmi" -> ((s, dir) =>
      operators.TextStats.pmiPairs(
        tp(s, dir, "documents").filter(col("doc_id") < 200), "text")),

    // #97: near-dup cluster-size histogram — the curation dashboard
    // number (how much of the corpus is duplicated, at what group
    // sizes). Same component labels as q_dedup_cluster, then two tiny
    // integer aggregations.
    "q_cluster_sizes" -> ((s, dir) => {
      val docs = tp(s, dir, "documents")
      val edges = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      DedupCluster.components(docs, "doc_id", edges)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    }),

    // #98: frequency-ranked vocabulary (dense token ids, deterministic
    // tie-break) — the global rank runs over the DISTINCT-token table,
    // never the corpus; see operators.Vocab
    "q_vocab_ids" -> ((s, dir) =>
      operators.Vocab.build(tp(s, dir, "documents"), "text", 2L)
        .filter(col("tok_id") <= 100)),

    // #99: document encoding to vocab-id sequences (OOV → 0; the
    // tokenize→ids step feeding sequence packing). Output as a CSV
    // string: integer-exact and engine-comparable, while the library
    // API (Vocab.encode) returns the real array<long> column.
    "q_encode_docs" -> ((s, dir) => {
      val docs = tp(s, dir, "documents")
      val vocab = operators.Vocab.build(docs, "text", 2L)
        .filter(col("tok_id") <= 1000)
      operators.Vocab.encode(docs.filter(col("doc_id") < 100), "doc_id", "text",
        broadcast(vocab))
        .select(col("doc_id"),
          array_join(col("ids").cast("array<string>"), ",").as("ids_csv"))
    }),

    // #220: codec round-trip — decode(encode(docs)) must equal the
    // normalized source text with OOV tokens masked as <unk>. The
    // Spark side runs the REAL encode→decode pair (ids materialize in
    // between); the oracle computes the expected text directly from
    // the vocab membership — so a hash match proves the round-trip
    // identity, not just that two copies of one formula agree.
    "q_decode_docs" -> ((s, dir) => {
      val docs = tp(s, dir, "documents")
      // r18 (guide §3.3): the vocab feeds both encode and decode —
      // checkpoint the 1000-row table so build's corpus pass runs once
      val vocab = operators.Vocab.build(docs, "text", 2L)
        .filter(col("tok_id") <= 1000)
        .eagerCheckpoint()
      val enc = operators.Vocab.encode(docs.filter(col("doc_id") < 100),
        "doc_id", "text", broadcast(vocab))
      operators.Vocab.decode(enc, "doc_id", "ids", broadcast(vocab))
    }),

    // #100: event inter-arrival histogram (per-user gap distribution,
    // minutes capped at 60) — one window pass on (user, time), integer
    // seconds throughout
    "q_interarrival" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("es", unix_timestamp(col("ts")))
        .withColumn("gap", col("es") - lag(col("es"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(least(expr("gap div 60"), lit(60L)).as("gap_min"))
        .agg(count(lit(1)).as("n"))
    }),

    // #101: cross-source 3-gram overlap (corpus-diversity / provenance
    // matrix): distinct grams per source as presence flags on one
    // shuffle — n-gram-level vocab_overlap generalized to all source
    // pairs, integer-exact
    "q_source_ngrams" -> ((s, dir) => {
      val g = tp(s, dir, "documents")
        .select(col("source"), explode(graft.functions.NativeExpressions
          .wordNGrams(lower(col("text")), 3, distinct = false)).as("gram"))
      def f(src: String) = max(when(col("source") === src, 1).otherwise(0))
      g.groupBy(col("gram"))
        .agg(f("src0").as("s0"), f("src1").as("s1"), f("src2").as("s2"))
        .agg(sum(col("s0")).cast("long").as("n0"),
          sum(col("s1")).cast("long").as("n1"),
          sum(col("s2")).cast("long").as("n2"),
          sum(col("s0") * col("s1")).cast("long").as("c01"),
          sum(col("s0") * col("s2")).cast("long").as("c02"),
          sum(col("s1") * col("s2")).cast("long").as("c12"))
    }),

    // #102: canonical-doc selection per near-dup cluster — keep-BEST
    // (longest, tie → min id) rather than CurationPipeline's keep-first;
    // the per-cluster argmax is one max_by, no self-join. Bounded id
    // range keeps the all-pairs oracle tractable at any sf.
    "q_canonical_docs" -> ((s, dir) => {
      val docs = tp(s, dir, "documents").filter(col("doc_id") < 300)
      val edges = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      DedupCluster.components(docs, "doc_id", edges)
        .join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
        .groupBy(col("cluster_id"))
        .agg(max_by(col("id"), struct(col("n_chars"), -col("id"))).as("keep_id"),
          count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
    }),

    // #104: hopping (sliding) windows in batch — Spark's window() with
    // a slide emits every covering slot per event (W/S assignments, here
    // 2), then a plain hash agg; win_start surfaces as epoch seconds
    "q_hopping_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"))),

    // #105: native session_window aggregation in BATCH (the streaming
    // gap-close operator reused on static data) — same shape as
    // q_sessionize but via the built-in, with its [start, start+gap)
    // overlap semantics (new session at diff >= gap, vs sessionize's >)
    "q_session_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("sess_start"),
          col("n_events"))),

    // #106: Levenshtein fuzzy matching over a bounded candidate set —
    // the title/name near-match shape (edit distance ≤ 3, excluding
    // exact equals); integer-exact on both engines
    "q_levenshtein" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey"), col("p_name"))
      val a = p.select(col("p_partkey").as("i"), col("p_name").as("na"))
      val b = p.select(col("p_partkey").as("j"), col("p_name").as("nb"))
      a.join(b, col("i") < col("j"))
        .select(col("i"), col("j"), levenshtein(col("na"), col("nb")).as("dist"))
        .filter(col("dist").between(1, 3))
    }),

    // #107: directional shingle containment |A∩B|/|A| — quote / subset-
    // document detection; candidates from a per-shingle equi-join,
    // integer counts, one exact division
    "q_containment" -> ((s, dir) =>
      Dedup.containmentPairs(tp(s, dir, "documents"), "doc_id", "text", 3, 0.5)
        .select(col("i"), col("j"), col("shared"), col("containment"))),

    // #108: vocabulary-growth curve (Heaps-law shape) — distinct tokens
    // in the first N docs via first-occurrence doc per token: one
    // corpus shuffle, thresholds join on the vocab-sized table
    "q_vocab_growth" -> ((s, dir) =>
      operators.Vocab.vocabGrowth(tp(s, dir, "documents"), "doc_id", "text",
        Seq(50L, 100L, 200L, 300L, 400L, 500L))),

    // #109: OOV-rate per source vs the top-20 frequency vocab — the
    // tokenizer-coverage metric; integer counts, one exact division
    "q_oov_rate" -> ((s, dir) => {
      val docs = tp(s, dir, "documents")
      val vocab = operators.Vocab.build(docs, "text", 1L)
        .filter(col("tok_id") <= 20)
      operators.Vocab.oovRate(docs, "text", "source", vocab)
    }),

    // #110: temperature-weighted source mixing (α=0.5 pretraining-
    // mixture draw) — per-stratum md5 rates from exact decimal weight
    // sums, reproducible on any engine/cluster size; see
    // Sampling.temperatureMix
    "q_source_mix" -> ((s, dir) =>
      operators.Sampling.temperatureMix(t(s, dir, "documents"), "text",
        "source", TextAnalysis.tokenCount(col("text")), 0.3)
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))),

    // #111: text normalization pass — NFC (native codegen'd
    // expression; Spark has no builtin) → lower → whitespace collapse
    // → trim; the corpus is ASCII, so a composed/decomposed suffix is
    // synthesized to force real normalization work. Output is the
    // md5 + length of the normal form: engine-comparable, and exactly
    // what a dedup stage downstream would key on.
    "q_text_norm" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(lower(graft.functions.NativeExpressions.nfc(
            concat(col("text"), lit("  CAFÉ  niño\t")))),
            "[ \\t\\n\\x0B\\f\\r]+", " ")).as("norm"))
        .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
          length(col("norm")).as("n_chars_norm"))),

    // #112: per-source KL divergence from the corpus unigram blend —
    // source-drift / mixture diagnostic; vocab-sized shuffles only
    "q_kl_sources" -> ((s, dir) =>
      operators.TextStats.klFromCorpus(tp(s, dir, "documents"), "text", "source")),

    // #113: Zipf fit (slope/intercept of log-freq vs log-rank) from
    // exact decimal regression moments; rank window on the vocab table
    "q_zipf" -> ((s, dir) =>
      operators.TextStats.zipfFit(tp(s, dir, "documents"), "text", 500)),

    // #288: Good–Turing adjusted counts off the count-of-counts table
    // (Good 1953 — the UNSEEN-mass smoothing beside q_kneser_ney's
    // discounting and q_heaps' vocab growth: r* = (r+1)·N_{r+1}/N_r
    // reallocates mass toward unseen events; N_1/N is the classic
    // missing-mass estimate, readable off the r=1 row). BIGRAM counts,
    // not unigrams — the synthetic vocab is small enough that every
    // unigram count clears 20, but the bigram table carries the real
    // hapax tail GT exists for. The corpus collapses twice —
    // bigram-vocab-sized then count-of-counts-sized — and the COC
    // table checkpoints once (it feeds its own shifted self, the head,
    // and the total); the head is the 20 SMALLEST distinct counts by
    // TakeOrdered, so the low-count regime is captured wherever it
    // sits. A zero N_{r+1} emits r* = 0, the raw GT gap the regression
    // variants exist to fill — honest, not imputed. One integer
    // product and one division per row, round(9).
    "q_good_turing" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(lower(col("text")))
      val vocab = tp(s, dir, "documents")
        .select(toks.as("tk")).filter(size(col("tk")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("tk")) - lit(1)),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + lit(1))))).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("r"))
      val coc = vocab.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
        .eagerCheckpoint()
      val nxt = coc.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
      val tot = coc.agg(sum(col("r") * col("n_r")).as("n_grams"))
      coc.orderBy(col("r")).limit(20)
        .join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_r"),
          coalesce(col("n_r1"), lit(0L)).as("n_r1"), col("n_grams"),
          round(((col("r") + 1) * coalesce(col("n_r1"), lit(0L)))
            .cast("double") / col("n_r").cast("double"), 9).as("r_star"))
    }),

    // #285: Hill tail-index estimator over the token frequency
    // distribution (Hill 1975) — the MLE power-law exponent beside
    // q_zipf's log-log least-squares fit: the regression grades the
    // whole curve, Hill grades the TAIL, the regime that decides vocab
    // truncation and heavy-hitter budgets. Top k = 100 counts by
    // (count desc, token asc) — a vocab-sized agg then a TakeOrdered
    // 101-row head, no global sort; 1/α̂ = mean ln(c_i/c_{k+1}) with
    // ln terms round(9) summed in DECIMAL (order-free), α̂ one
    // division round(6) (the transcendental rule).
    "q_hill_tail" -> ((s, dir) => {
      // the 101-row head feeds both the numerator rows and the c_{k+1}
      // tail row; checkpoint it so the vocab agg + TakeOrdered run once
      val head = tp(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(101)
        .eagerCheckpoint()
      val w = boundedGlobal("101-row Hill head")
        .orderBy(col("c").desc, col("tok"))
      val ranked = head.withColumn("r", row_number().over(w))
      val tail = ranked.filter(col("r") === 101).select(col("c").as("ck1"))
      val sd = col("s").cast("double")
      ranked.filter(col("r") <= 100).crossJoin(broadcast(tail))
        .agg(count(lit(1)).as("k"), max(col("ck1")).as("c_k1"),
          sum(round(log(col("c").cast("double") / col("ck1").cast("double")),
            9).cast("decimal(28,9)")).as("s"))
        .select(col("k"), col("c_k1"),
          round(sd / lit(100.0), 9).as("inv_alpha"),
          when(sd === lit(0.0), lit(0.0))
            .otherwise(round(lit(100.0) / sd, 6)).as("alpha"))
    }),

    // #114: mean bigram surprisal per doc (−log2 p(w_i|w_{i−1}) from
    // exact corpus bigram/prefix counts); counts from the full corpus,
    // scored docs bounded
    "q_bigram_logprob" -> ((s, dir) =>
      operators.TextStats.bigramSurprisal(tp(s, dir, "documents"),
        "doc_id", "text", col("doc_id") < 300)),

    // #193: CCNet-style PERPLEXITY BAND FILTER — the LM quality gate a
    // production corpus runs: score every doc's bigram surprisal
    // (boilerplate scores low, word salad high), keep the middle
    // [p20, p80] band, account kept/scored per source. The thresholds
    // are EXACT order statistics computed on the value HISTOGRAM of the
    // round(6)-quantized scores (bounded domain, q_percentile_disc's
    // argument) — integer cumulative-count comparisons, engine-stable;
    // the corpus never globally sorts and the two cutpoints broadcast
    // back as one row.
    "q_ppl_filter" -> ((s, dir) => {
      val d = tp(s, dir, "documents")
      // r18 (guide §3.3): `sur` feeds the threshold histogram AND the
      // final per-source account — doc-sized, so checkpoint once
      // instead of running the whole bigram-scoring subtree twice.
      val sur = operators.TextStats.bigramSurprisal(d, "doc_id", "text")
        .eagerCheckpoint()
      val hist = sur.groupBy(col("surprisal")).agg(count(lit(1)).as("c"))
      val w = boundedGlobal("round(6)-quantized surprisal histogram")
        .orderBy(col("surprisal"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("c")).over(w))
      val tot = hist.agg(sum(col("c")).as("tot"))
      val cuts = cum.crossJoin(broadcast(tot))
        .agg(min(when(col("cum") * 5 >= col("tot"), col("surprisal"))).as("lo"),
          min(when(col("cum") * 5 >= col("tot") * 4, col("surprisal"))).as("hi"))
      sur.join(d.select(col("doc_id"), col("source")), "doc_id")
        .crossJoin(broadcast(cuts))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_scored"),
          count_if(col("surprisal") >= col("lo") &&
            col("surprisal") <= col("hi")).as("n_kept"))
        .orderBy(col("source"))
    }),

    // #115: BPE merge learning, batched driver loop (parity-preserving
    // symbol-disjoint prefix batches — Bpe.learnMerges). Oracle: the 8
    // rounds replayed in DuckDB as an unrolled CTE chain (BpeOracle);
    // BpeSpec additionally pins the semantics on a hand-computed corpus
    // and asserts batched ≡ sequential. Integer pair counts,
    // lexicographic tie-break — byte-identical merge table every run.
    "q_bpe_merges" -> ((s, dir) =>
      operators.Bpe.learnMerges(tp(s, dir, "documents"), "text", 8)),

    // #182: BPE ENCODE — the inference half of the tokenizer
    // (Bpe.segment), driven by the LEARNED merge table: learnMerges on
    // the corpus (the q_bpe_merges path — 8 rows, driver-collected
    // exactly like a shipped tokenizer artifact) feeds segment's
    // rank-ordered fold, and the oracle re-derives the same table from
    // its own learning CTE chain, so multi-char merge interactions are
    // exercised on whatever the corpus actually learns. Leftmost-non-
    // overlapping fold per word, broadcast-side model, pure per-row
    // projection, no shuffle until the final per-source agg. Output =
    // the tokenizer's fertility.
    "q_bpe_encode" -> ((s, dir) => {
      val docs = tp(s, dir, "documents")
      val merges = operators.Bpe.learnMerges(docs, "text", 8)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // r18 (guide §1.2 step 1 — don't compute what you can count):
      // segment's rank-ordered merge fold is a chain of higher-order
      // `aggregate` lambdas (interpreted per array element, not
      // whole-stage codegen), and running it once per token INSTANCE
      // re-folded every repeated word (5M instances at sf0.1; the 10×
      // soak re-folded 50M). Segment each DISTINCT word once and join
      // the piece count back to the (source, word) count table —
      // n_words = Σc and n_pieces = Σ size(pieces)·c are the identical
      // integers, and the fold now runs on the Zipf-bounded vocab, so
      // 10× corpus ≈ constant segment cost. Oracle-identical.
      val wc = docs
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val segd = operators.Bpe.segment(
          wc.select(col("w")).distinct(), "w", merges)
        .select(col("w"), size(col("pieces")).cast("long").as("np"))
      wc.join(segd, "w")
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_words"),
          sum(col("np") * col("c")).as("n_pieces"))
        .select(col("source"), col("n_words"), col("n_pieces"),
          round(col("n_pieces").cast("double") /
            col("n_words").cast("double"), 9).as("fertility"))
    }),

    // #118: inverted index build (term → df + sorted posting list) —
    // the lexical-search complement of the ANN family; one tokenize
    // scan, one term-keyed hash agg (AQE splits stopword-class terms)
    "q_postings" -> ((s, dir) =>
      operators.Search.postings(tp(s, dir, "documents"), "doc_id", "text")),

    // #119: BM25 ranked retrieval — query-term filter BEFORE tf/df
    // aggregation (scored relation is |query|×df, never corpus-sized);
    // round(9) score + doc_id tie-break = engine-stable ranks
    "q_bm25" -> ((s, dir) =>
      operators.Search.bm25(tp(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join", "window"))),

    // #169: hybrid retrieval with reciprocal-rank fusion — dense
    // (exact cosine) + sparse (3-gram Jaccard) arms, each GroupTopK-
    // pruned to top-20, fused by 1/(60+rank) and re-ranked. Integer
    // arm ranks (0 = not retrieved) keep the output engine-exact; the
    // RRF score sums exactly two IEEE doubles, never an accumulation.
    "q_rrf_hybrid" -> ((s, dir) =>
      operators.Search.rrfHybrid(tp(s, dir, "documents"),
        t(s, dir, "embeddings"), "doc_id", "text", "vec_id", "embedding",
        nQueries = 5)),

    // #175: tokenizer fertility per source — tokens-per-word and
    // bytes-per-token, the compression diagnostics that decide whether
    // a tokenizer (or a source's text) is wasting context budget.
    // Integer sums, two single divisions, round(9).
    "q_fertility" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_ws"),
          sum(TextAnalysis.bpeishTokenCount(col("text")).cast("long")).as("n_bpe"),
          sum(octet_length(col("text")).cast("long")).as("n_bytes"))
        .select(col("source"), col("n_ws"), col("n_bpe"), col("n_bytes"),
          round(col("n_bpe").cast("double") / col("n_ws").cast("double"), 9)
            .as("fertility"),
          round(col("n_bytes").cast("double") / col("n_bpe").cast("double"), 9)
            .as("bytes_per_token"))),

    // #176: n-gram novelty per doc — the fraction of a doc's distinct
    // 3-grams first seen in THIS doc (scanning in doc_id order): the
    // freshness curve that exposes boilerplate-heavy tails during
    // corpus growth. Gram first-occurrence is one min-aggregation on
    // the exploded shingle table; all counts integer.
    "q_ngram_novelty" -> ((s, dir) => {
      val sh = Dedup.shingleDf(tp(s, dir, "documents"), "doc_id", "text", 3)
      val ex = sh.select(col("id"), explode(col("sh")).as("g"))
      val firstDoc = ex.groupBy(col("g")).agg(min(col("id")).as("first_id"))
      ex.join(firstDoc, "g")
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_id") === col("id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams").cast("double"), 9)
            .as("novelty"))
    }),

    // #174: cross-source duplication matrix — which provenance pairs
    // share near-dups (scraped-twice feeds, mirror sites, license
    // laundering): near-dup pairs labeled by their docs' sources,
    // rolled up per unordered source pair. Pair discovery is the
    // LSH-bucketed join; the rollup shuffles source-pair strings only.
    "q_dup_matrix" -> ((s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"), col("text"),
        col("source"))
      val pairs = Dedup.minHashNearDups(d, "doc_id", "text", 0.8)
        .select("i", "j")
      val src = d.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("i"), col("source").as("si")), "i")
        .join(src.select(col("doc_id").as("j"), col("source").as("sj")), "j")
        .groupBy(least(col("si"), col("sj")).as("src_a"),
          greatest(col("si"), col("sj")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // #173: the end-to-end curation FUNNEL — survivor counts after
    // exact dedup → near-dup components → decontamination → quality
    // gates → hash sampling, the per-run accounting report; corpus =
    // doc_id >= 10 curated against the doc_id < 10 "benchmark" (the
    // q_contamination split). All-integer output; the near-dup stage's
    // LSH == the oracle's exact-jaccard pairs (the q_dedup_cluster
    // equivalence).
    "q_curation_funnel" -> ((s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"), col("text"))
      operators.CurationPipeline.funnel(
        d.filter(col("doc_id") >= 10), "doc_id", "text",
        d.filter(col("doc_id") < 10),
        operators.CurationPipeline.Config(sampleHex4 = Some("8000")))
    }),

    // #172: hard-negative mining for contrastive training — per query
    // the top-10 corpus vectors in the cosine band [0.3, 0.8): similar
    // enough to teach, below the false-negative (near-dup) ceiling;
    // band filter BEFORE the GroupTopK heaps
    "q_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      operators.Ann.hardNegatives(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", 10, 0.3, 0.8)
    }),

    // #171: SemDeDup — semantic dedup WITHIN quantizer cells (the
    // web-scale embedding-dedup shape: equi-join on cell id, pairs
    // bounded by cell size, cross-cell pairs deliberately skipped);
    // keep-the-earliest per epsilon-neighborhood, integer output.
    // Cells above 40 vectors split on 4 md5-parity hyperplane sign
    // bits (the skew guard: Σ cell² stays bounded on a distribution
    // that dumps the corpus into one coarse cell)
    "q_semdedup" -> ((s, dir) =>
      operators.SemDedup.kept(t(s, dir, "embeddings"), "vec_id", "embedding",
        nlist = 16, theta = 0.4, maxCell = 40, subBits = 4)),

    // #171b: the quantizer's price, measured — of the exact cosine≥0.4
    // pairs on the bounded id range (ground truth = the q_cosine_pairs
    // shape), how many does the guarded cell join actually examine?
    // n_caught/n_true is SemDeDup's pair recall under the DEPLOYED
    // config (nlist=16, maxCell=40, subBits=4), cross-cell misses and
    // skew-split misses included
    "q_semdedup_recall" -> ((s, dir) => {
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
    }),

    // #170: DSIR importance weights (hashed-unigram log-likelihood
    // ratio vs a target slice — src0 plays the "high-quality domain");
    // integer bucket counts, md5-mod bucket ids, per-doc mean through
    // round(6)
    "q_dsir_weights" -> ((s, dir) =>
      operators.Sampling.importanceWeights(tp(s, dir, "documents"),
        "doc_id", "text", col("source") === "src0")),

    // #283: UniMax epoch-capped data-mixing allocation (Chung et al.
    // 2023) — the sampling-budget planner beside q_dsir_weights'
    // per-doc importance scores: given per-source token counts, a
    // training budget B = ⌊total/2⌋ and an epoch cap c = 2, water-fill
    // ascending — each source takes min(c·n_s, the equal share of what
    // remains). Closed form in ONE bounded window over the
    // source-sized table (the corpus is scanned once for the counts):
    // by monotonicity the capped sources are exactly the prefix, so
    // the FIRST rank whose cap exceeds its fair share
    // (B − c·prefix)/(S − r + 1) fixes that share for every uncapped
    // source. Counts stay integer through the flag comparison (the
    // fair share is one exact-integer subtraction and one division);
    // epochs = alloc/n one division round(9).
    "q_data_mix" -> ((s, dir) => {
      // the token-count agg feeds FOUR consumers (rank window, total,
      // and both again inside the star row); checkpoint the
      // source-sized table once so the corpus-scanning subtree runs
      // once, not four times (the q_rand_index contingency precedent)
      val per = tp(s, dir, "documents")
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("bigint").as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
        .eagerCheckpoint()
      val w = boundedGlobal("source-sized mixing table")
        .orderBy(col("n_tokens"), col("source"))
      val ranked = per
        .withColumn("r", row_number().over(w).cast("bigint"))
        .withColumn("pfx", coalesce(sum(col("n_tokens") * 2)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val tot = per.agg(sum(col("n_tokens")).as("tot"),
        count(lit(1)).as("s_cnt"))
      val j = ranked.crossJoin(broadcast(tot))
        .withColumn("budget", floor(col("tot") / lit(2)).cast("bigint"))
        .withColumn("fair", (col("budget") - col("pfx")).cast("double") /
          (col("s_cnt") - col("r") + lit(1L)).cast("double"))
        .withColumn("flag", (col("n_tokens") * 2).cast("double") > col("fair"))
      // the first flagged rank's fair share IS the uncapped share —
      // min over a 2-field struct picks (r*, fair_{r*}) in one agg
      val star = j.agg(
        min(when(col("flag"), struct(col("r"), col("fair")))).as("sf"))
      val alloc = when(col("sf").isNotNull && col("r") >= col("sf.r"),
        col("sf.fair")).otherwise((col("n_tokens") * 2).cast("double"))
      j.crossJoin(broadcast(star))
        .select(col("source"), col("n_tokens"),
          (col("sf").isNotNull && col("r") >= col("sf.r")).as("uncapped"),
          round(alloc, 6).as("alloc_tokens"),
          round(alloc / greatest(col("n_tokens"), lit(1L)).cast("double"), 9)
            .as("epochs"))
    }),

    // #120: sparse TF-IDF cosine pairs via the inverted-index join —
    // pairs meet per shared term, the dot product only accumulates
    // over the intersection; bounded id range keeps the oracle O(n²)-
    // free too (DuckDB joins the same index)
    "q_sparse_cosine" -> ((s, dir) =>
      operators.Search.sparseCosinePairs(tp(s, dir, "documents"),
        "doc_id", "text", 40L)),

    // #121: content-defined chunk dedup — boundaries from token-hash
    // content (insertion-shift-robust, unlike fixed 32-token
    // q_chunk_dedup); md5-prefix boundary hash reproduces in the
    // oracle, shuffle carries chunk hashes only
    "q_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcDupChunks(tp(s, dir, "documents"), "doc_id", "text", 8)),

    // #122: interval×interval overlap join via the same coarse-binning
    // equi-shuffle as q_range_join — the later-start-bin filter makes
    // each overlapping pair survive exactly once, no dedup shuffle
    "q_interval_join" -> ((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey").as("a_key"), col("o_orderdate").as("a_start"))
      val b = t(s, dir, "orders").filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("b_key"), col("o_orderdate").as("b_start"))
      RangeJoin.intervalOverlap(a, "a_start", 14, b, "b_start", 14)
        .filter(col("a_key") =!= col("b_key"))
        .groupBy(col("a_key"))
        .agg(count(lit(1)).as("n_overlaps"), min(col("b_key")).as("first_b"))
    }),

    // #123: MinHash estimate accuracy — estimated (signature-agreement)
    // vs exact Jaccard per pair, both integer ratios; the number a
    // pipeline thresholds on when it skips the exact verify pass
    "q_minhash_est" -> ((s, dir) =>
      Dedup.minHashEstimatePairs(tp(s, dir, "documents"), "doc_id", "text",
        3, 16, 40L)
        .filter(col("est_jaccard") > 0 || col("jaccard") >= 0.5)),

    // #124: deterministic k-fold split (content-stable fold per doc,
    // pure projection) — fold balance per source as the check
    "q_folds" -> ((s, dir) =>
      operators.Sampling.kFold(t(s, dir, "documents"), "doc_id", 5)
        .groupBy(col("fold"), col("source")).agg(count(lit(1)).as("n"))),

    // #271: LEAKAGE-SAFE k-fold split — fold assignment keyed on the
    // near-dup CLUSTER id, not the doc id, so a near-dup pair can never
    // straddle train/test (the Lee et al. ACL'22 eval-leakage failure:
    // doc-keyed folds put one copy of a duplicated doc in train and its
    // twin in test, inflating eval). Composition of the existing scale
    // shapes: LSH pairs -> min-label components -> kFold on cluster_id;
    // DedupSpec asserts the no-straddle invariant on every verified
    // near-dup edge.
    "q_leakage_split" -> ((s, dir) => {
      val docs = tp(s, dir, "documents")
      val edges = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      operators.Sampling.kFold(
          DedupCluster.components(docs, "doc_id", edges), "cluster_id", 5)
        .select(col("id").as("doc_id"), col("fold"))
    }),

    // #272: rendezvous (HRW) sharding — stable shard assignment whose
    // reshard movement is provably minimal (1/(k+1) of keys on k->k+1,
    // vs ~k/(k+1) for hash-mod; DedupSpec measures both). Shard-size
    // balance rollup as the oracle check.
    "q_rendezvous" -> ((s, dir) =>
      operators.Sampling.rendezvousShard(t(s, dir, "documents"), "doc_id", 10)
        .groupBy(col("shard")).agg(count(lit(1)).as("n"))),

    // #274: ROUGE-1/2 similarity report over the verified near-dup
    // pairs (Lin 2004's clipped n-gram overlap — the graded HOW-similar
    // companion of the binary pair verdict; the same scores grade
    // summarization/eval output against references). Multiset gram
    // counts, Σ min(ci, cj) per pair, and F1 via 2PR/(P+R) = 2·ov/
    // (li+lj) — every score ONE integer division, round(9). Work is
    // linear in the pair report (keyed equi-joins only, never n²).
    "q_rouge" -> ((s, dir) => {
      val docs = tp(s, dir, "documents")
      val pairs = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      operators.TextStats.rougePairs(docs, pairs, "doc_id", "text")
    }),

    // #278: smoothed log-BLEU over the verified pairs — the PRECISION
    // eval metric beside q_rouge's recall/F (BLEU asks "how much of
    // the candidate is in the reference", with a brevity penalty so a
    // short high-precision candidate can't game it; +1 smoothing per
    // Lin & Och '04 keeps missing higher orders finite). Same pair
    // set, same linear-in-report shape.
    "q_bleu" -> ((s, dir) => {
      val docs = tp(s, dir, "documents")
      val pairs = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      operators.TextStats.bleuPairs(docs, pairs, "doc_id", "text")
    }),

    // #282: chrF₂ character n-gram F-score over the verified pairs —
    // the TOKENIZATION-FREE third leg of the eval trio (Popović 2015)
    // beside q_rouge's word recall/F and q_bleu's word precision:
    // morphology-rich or unsegmented text scores on shared character
    // spans a word metric misses entirely. Same pair set, same
    // linear-in-report shape. The QUERY is id-windowed to doc_id <
    // 5000 (the q_ngram_jaccard precedent, r14 verdict item 3): at the
    // gate corpora every doc id is < 5000 so the bound is inactive and
    // the full semantics are oracle-checked, while at sf1+ it pins the
    // whole replay — pair discovery AND char-4-gram scoring — at
    // sf0.1 cost (the unwindowed oracle measured 128 s at sf1 against
    // the 180 s harness limit; the ORACLE, not the operator, was the
    // scale bottleneck, and one more corpus step flips it to a red
    // timeout). Restricting the corpus BEFORE the LSH is
    // result-identical to filtering pairs after: signatures and band
    // keys are per-doc, so the candidate buckets among the windowed
    // ids don't depend on the excluded docs. q_rouge/q_bleu keep the
    // unbounded window, so the full-report pair family stays
    // oracle-exercised.
    "q_chrf" -> ((s, dir) => {
      val docs = tp(s, dir, "documents").filter(col("doc_id") < 5000)
      val pairs = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      operators.TextStats.chrfPairs(docs, pairs, "doc_id", "text")
    }),

    // #275: n-gram novelty of the eval fold vs the train folds — the
    // memorization-MAGNITUDE gate beside q_contamination's binary
    // 5-gram hit (an eval doc whose grams are all in train measures
    // recall, not generalization; Lee et al. ACL'22 measure exactly
    // this leak). Distinct 5-grams cross the shuffle as md5-60bit
    // longs; train-set join is a hash equi-join on the 8-byte key.
    "q_fold_novelty" -> ((s, dir) =>
      operators.TextStats.ngramNovelty(tp(s, dir, "documents"),
        "doc_id", "text", 5, 5, 0)),

    // #126: EWMA smoothing over the event stream (truncated to 5 taps)
    // — decay c = 0.5 is a binary power, so every tap product is EXACT
    // in IEEE double and the fixed expression tree is bit-identical on
    // any engine; one window pass per user, no state
    "q_ewma" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val taps = (0 to 4).map(k =>
        (if (k == 0) col("value") else lag(col("value"), k).over(w)) *
          lit(math.pow(0.5, k)))
      t(s, dir, "events").filter(col("user_id") < 50)
        .withColumn("rn", row_number().over(w))
        .withColumn("ewma",
          round(taps.reduce(_ + _) / lit(1.9375), 9))
        .filter(col("rn") >= 5)
        .select(col("event_id"), col("ewma"))
    }),

    // #277: Holt linear-trend one-step forecast (double exponential
    // smoothing, the TREND companion of q_ewma's level-only taps —
    // EWMA lags a trending series forever; Holt extrapolates it).
    // α = β = 1/2 unrolled over a 6-lag window with the standard init
    // l₀ = x₀, b₀ = x₁−x₀ gives ŷ_{t+1} = Σ cᵏ·x_{t−k} with EXACT
    // dyadic coefficients (ᵏ0..5 = 3/4, 7/16, 11/64, −1/256, −1/128,
    // −89/256; they sum to 1 and the trend vector sums to 0, so a
    // constant series forecasts itself and a linear one extrapolates
    // exactly). The whole tap chain runs in DECIMAL — 2-dp values ×
    // ≤8-dp exact coefficients, products and sums exact at scale 10 —
    // because the double-tree q_ewma trick FAILS here: dyadic sums
    // land exactly on the round(9) half-way grid, where Spark
    // (HALF_UP) and DuckDB disagree (measured: 25/3141 rows off by
    // 1e-9). The exact decimal casts to the identical double on both
    // engines, no rounding step at all. One window pass per user.
    "q_holt" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val coef = Seq("0.75", "0.4375", "0.171875",
        "-0.00390625", "-0.0078125", "-0.34765625")
      val taps = coef.zipWithIndex.map { case (c, k) =>
        (if (k == 0) col("value") else lag(col("value"), k).over(w))
          .cast("decimal(18,2)") * lit(new java.math.BigDecimal(c)) }
      t(s, dir, "events").filter(col("user_id") < 50)
        .withColumn("rn", row_number().over(w))
        .withColumn("forecast", taps.reduce(_ + _).cast("double"))
        .filter(col("rn") >= 6)
        .select(col("event_id"), col("forecast"))
    }),

    // #127: z-score outlier detection per event_type — mean/sd from
    // exact decimal moment sums (order-independent, q_stats_agg
    // pattern), broadcast back; the outlier predicate is a narrow
    // filter, no second corpus shuffle
    "q_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val x = col("value").cast("decimal(18,6)")
      val g = e.groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).cast("double").as("nd"),
          sum(x.cast("decimal(28,6)")).cast("double").as("sx"),
          sum((x * x).cast("decimal(38,12)")).cast("double").as("sx2"))
        .select(col("et"), (col("sx") / col("nd")).as("mean"),
          sqrt((col("nd") * col("sx2") - col("sx") * col("sx")) /
            (col("nd") * (col("nd") - lit(1.0)))).as("sd"))
        .filter(col("sd") > 0)
      e.join(broadcast(g), e("event_type") === g("et"))
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("mean")) / col("sd"), 6).as("z"))
        .filter(abs(col("z")) >= 2.5)
    }),

    // #125: PageRank centrality over the token-bigram graph (the link-
    // centrality quality signal crawl corpora weight docs by) — three
    // decimal-exact iterations, each one src-keyed join + dst-keyed agg
    "q_pagerank" -> ((s, dir) => {
      val tk = tp(s, dir, "documents")
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      val edges = tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst"))
      operators.PageRank.ranks(edges, 3)
    }),

    // #183: hop-bounded BFS from a seed term over the token-bigram
    // graph — frontier expansion (join + anti-join per hop, node-sized
    // tables only), the reachability / link-distance primitive next to
    // PageRank; oracle replays it as a depth-bounded recursive CTE
    "q_bfs" -> ((s, dir) => {
      val tk = tp(s, dir, "documents")
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      val edges = tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst"))
      val seeds = s.range(1).select(lit("spark").as("node"))
      operators.Graph.bfs(edges, seeds, 3)
    }),

    // #128: out-degree histogram of the token-bigram graph (the graph-
    // shape diagnostic next to PageRank: how link-y is the corpus) —
    // distinct edges, per-src count, then a histogram on the vocab-
    // sized degree table; the corpus is scanned once
    "q_graph_degree" -> ((s, dir) => {
      val tk = tp(s, dir, "documents")
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .groupBy(col("src")).agg(count(lit(1)).as("od"))
        .groupBy(col("od").as("degree"))
        .agg(count(lit(1)).as("n_nodes"))
    }),

    // #207: k-core extraction by bounded-round peeling (community /
    // spam-core mining; Matula–Beck peel, truncated at 4 rounds —
    // a documented truncation both engines unroll identically; the
    // full decomposition iterates to fixpoint). The peel itself is
    // Graph.kcore: two node-keyed equi-joins + one hash-agg per round,
    // localCheckpoint-truncated per round so the self-referential
    // lineage never re-derives the corpus scan (inline it compounds to
    // 3^rounds copies of the bigram subtree — measured 335 s vs
    // seconds at sf0.01). Output: the surviving subgraph's degrees.
    "q_kcore" -> ((s, dir) => {
      val tk = tp(s, dir, "documents")
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      val und = tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      graft.operators.Graph.kcore(und, k = 28, rounds = 4)
    }),

    // #129: type-token ratio + hapax share per doc (lexical-diversity
    // quality gate) — one explode + per-(doc,token) count; the division
    // is over two exact integers so it is bit-identical cross-engine
    "q_ttr" -> ((s, dir) =>
      tp(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("n_hapax"))
        .withColumn("ttr",
          round(col("n_types").cast("double") / col("n_tokens").cast("double"), 9))),

    // #130: distinct users per hopping window (audience-reach metric) —
    // exact count_distinct per 1h/30m slot; at 100 TB the drop-in is
    // approx_count_distinct (HLL) on the same plan shape
    "q_window_users" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("n_users"), col("n_events"))),

    // #198: clamped running balance (inventory / wallet floor-at-zero):
    // B_t = max(0, B_{t-1} + d_t) looks inherently sequential — but the
    // reflection identity B_t = P_t − min(0, min_{s≤t} P_s) (P = plain
    // prefix sum) makes it TWO window aggregates sharing one
    // (user → ts, seq) exchange+sort. Deltas stay decimal-exact end to
    // end, so no float-order concerns; the oracle replays the literal
    // per-step clamp as a recursive CTE, proving the identity. The final
    // round(·,2) pins the double representation: DuckDB's wide-decimal
    // (int128) → double cast is off by an ULP from Spark's BigDecimal
    // path, and both sides round back to the canonical 2-dp double.
    "q_clamped_balance" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          (col("value").cast("decimal(18,2)") - lit(50)).as("d"))
        .withColumn("p", sum(col("d")).over(w))
        .withColumn("m", min(col("p")).over(w))
        .select(col("event_id"),
          round((col("p") - least(col("m"), lit(0).cast("decimal(18,2)")))
            .cast("double"), 2).as("balance"))
    }),

    // #196: TRAILING-7-day distinct users per day (rolling DAU/WAU) —
    // count_distinct over a sliding range frame would re-scan events
    // per window and a distinct inside a window frame isn't supported
    // anyway; instead dedup FIRST to the (day, user) table (≪ events),
    // explode each row onto the ≤7 observation days it serves, dedup
    // the bounded 7× table, and count — every shuffle is user-day-sized,
    // events are scanned once.
    "q_rolling_distinct" -> ((s, dir) => {
      // r18 (guide §3.3): du feeds days, contrib and u1 — checkpoint
      // the distinct user-day table once (3 scans → 1)
      val du = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        .eagerCheckpoint()
      val days = du.select(col("day")).distinct()
      val contrib = du
        .select(col("day"), col("user_id"),
          explode(sequence(lit(0), lit(6))).as("i"))
        .select(date_add(col("day"), col("i")).as("day"), col("user_id"))
        .distinct()
      val u7 = contrib.join(days, "day")
        .groupBy(col("day")).agg(count(lit(1)).as("u7"))
      val u1 = du.groupBy(col("day")).agg(count(lit(1)).as("u1"))
      u1.join(u7, "day")
        .select(unix_date(col("day")).cast("long").as("day"),
          col("u1"), col("u7"))
        .orderBy(col("day"))
    }),

    // #131: weekly cohort retention matrix (first-seen week × offset) —
    // the classic growth-analytics query; distinct (user, week) first so
    // the cohort join and the count are user-week-sized, integer-exact
    "q_retention" -> ((s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"), expr("unix_timestamp(ts) div 604800").as("wk"))
        .distinct()
      val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("wk0"))
      uw.join(cohort, "user_id")
        .groupBy(col("wk0").as("cohort_week"), (col("wk") - col("wk0")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // #132: URL canonicalization + per-domain rollup (domain-level
    // curation stats: crawl corpora gate on domain reputation) — host
    // extract, case-fold, www-strip; the URL is synthesized from doc
    // fields so both engines see identical input
    "q_domains" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("url", concat(lit("https://WWW."), col("source"), lit("-"),
          (col("doc_id") % 20).cast("string"), lit(".Example.COM/p/"),
          col("doc_id").cast("string"), lit("?ref="), col("lang")))
        .select(regexp_replace(
            lower(regexp_extract(col("url"), "^https?://([^/?]+)", 1)),
            "^www\\.", "").as("domain"),
          col("n_chars"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))),

    // #133: Gopher-style quality gates from integer token stats (token
    // count bounds, mean-word-length band as cross-multiplied integer
    // inequalities, stopword floor) — every predicate is integer
    // arithmetic, so the keep bit is exact on any engine
    "q_gopher_rules" -> ((s, dir) =>
      tp(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tokens"),
          aggregate(col("tk"), lit(0), (acc, x) => acc + length(x))
            .cast("long").as("sum_len"),
          size(filter(col("tk"), x =>
            x.isin("the", "a", "of", "to", "and", "in", "is", "that")))
            .cast("long").as("n_stop"))
        .withColumn("keep",
          (col("n_tokens") >= 50 && col("n_tokens") <= 100000 &&
            col("sum_len") >= col("n_tokens") * 3 &&
            col("sum_len") <= col("n_tokens") * 10 &&
            col("n_stop") * 50 >= col("n_tokens")).cast("int"))),

    // #134: ANN recall@10 — per-query hit count of the LSH index
    // against the brute-force ground truth, the acceptance metric an
    // ANN deployment is gated on. Both sides are the already-oracled
    // pipelines; the overlap count is a tiny integer join.
    "q_ann_recall" -> ((s, dir) => {
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id"))
      val ls = AnnLsh.annTopKExact(e, q, "vec_id", "embedding", 10)
        .select(col("q_id").as("lq"), col("n_id").as("ln"))
      bf.join(ls, bf("q_id") === col("lq") && bf("n_id") === col("ln"), "left")
        .groupBy(col("q_id")).agg(count(col("ln")).as("n_hit"))
    }),

    // #134b: recall@10 of the IVF index vs brute force (the q_ann_recall
    // acceptance metric for the cell-probing index family)
    "q_ann_recall_ivf" -> ((s, dir) => {
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id"))
      val iv = AnnIvf.annTopK(e, q, "vec_id", "embedding", 10,
          nlist = 16, nprobe = 4, iters = 0)
        .select(col("q_id").as("iq"), col("n_id").as("in_"))
      bf.join(iv, bf("q_id") === col("iq") && bf("n_id") === col("in_"), "left")
        .groupBy(col("q_id")).agg(count(col("in_")).as("n_hit"))
    }),

    // #134c: recall@10 of the COMPOSED IVF×PQ serve (cell-prune, then
    // ADC over only the probed cells' codes — the path a 100 TB
    // deployment runs: nprobe/nlist of m-byte codes per query, raw
    // vectors never read) vs the brute-force ground truth. Both
    // quantizers stride-init (iters = 0) so the whole compose replays
    // exactly in external SQL.
    "q_ann_recall_ivfpq" -> ((s, dir) => {
      val e = tp(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val bf = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 10)
        .select(col("q_id"), col("n_id"))
      val ip = AnnPq.annTopKIvfPq(e, q, "vec_id", "embedding", 10,
          nlist = 16, nprobe = 4)
        .select(col("q_id").as("cq"), col("n_id").as("cn"))
      bf.join(ip, bf("q_id") === col("cq") && bf("n_id") === col("cn"), "left")
        .groupBy(col("q_id")).agg(count(col("cn")).as("n_hit"))
    }),

    // #135: byte-budget media shard packing (the webdataset/tar-shard
    // writer layout) — Packing's running-sum bin cut applied to payload
    // bytes per kind; one shuffle + one window pass, payloads never
    // leave their partition
    "q_media_shards" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(t(s, dir, "documents"))
        .select(col("kind"), col("mediaId").as("media_id"),
          length(col("payload")).as("n_bytes"))
      operators.Packing.binStats(media, "kind", "media_id", "n_bytes", 16384)
        .select(col("kind"), col("bin"), col("n_docs"),
          col("tok_sum").cast("long").as("byte_sum"))
    }),

    // #30u: cumulative DISTINCT count over an ordered window — SQL
    // window frames can't take DISTINCT, so the standard rewrite: flag
    // each (user, event_type)'s first occurrence with one row_number
    // pass, then running-sum the flags. Both passes share the per-user
    // shuffle; nothing re-scans.
    "q_cum_distinct" -> ((s, dir) => {
      val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .filter(col("user_id") < 100)
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .withColumn("n_types_seen", sum(col("first_seen")).over(wRun))
        .select(col("user_id"), col("event_id"), col("n_types_seen"))
    }),

    // #30s: TPC-H Q3 shape (shipping priority): top-10 unshipped-order
    // revenue — two fact joins shuffle on their keys, the group-by runs
    // on the filtered join, and the top-10 goes through per-partition
    // heaps (TakeOrderedAndProject), never a global sort
    "q_tpch_q3" -> ((s, dir) => {
      val cut = lit("1998-06-01").cast("timestamp")
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          unix_timestamp(col("o_orderdate")).as("o_date"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("o_date"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_date"), col("revenue"))
    }),

    // #30t: TPC-H Q5 shape (local supplier volume): nation revenue where
    // customer and supplier share the nation — dims (supplier, nation,
    // region) broadcast, facts shuffle once each on their join keys
    "q_tpch_q5" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = t(s, dir, "region").filter(col("r_name") === "EUROPE")
        .select(col("r_regionkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // #136: exact global decile buckets WITHOUT a global sort — ntile
    // over the corpus would single-partition every row; instead the
    // cumulative counts run on the histogram of the (bounded-domain)
    // length column, the 9 integer cutpoints collapse to one array row
    // broadcast everywhere, and assignment is a narrow projection. Only
    // the 10-group rollup shuffles.
    "q_len_deciles" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      // r18 (guide §3.3): hist feeds cum and tot — checkpoint once
      val hist = d.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val w = boundedGlobal("doc-length histogram, |distinct n_chars| rows")
        .orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("c")).over(w))
      val tot = hist.agg(sum(col("c")).as("tot"))
      // cutpoint for decile d = min length whose cumulative count
      // reaches d/10 of the total — pure integer comparison
      val cuts = cum.crossJoin(tot)
        .select(col("n_chars"), col("cum"), col("tot"),
          explode(sequence(lit(1), lit(9))).as("d"))
        .filter(col("cum") * 10 >= col("d") * col("tot"))
        .groupBy(col("d")).agg(min(col("n_chars")).as("cut"))
        .agg(array_sort(collect_list(col("cut"))).as("cuts"))
      d.crossJoin(broadcast(cuts))
        .select(col("n_chars"),
          size(filter(col("cuts"), c => c <= col("n_chars")))
            .cast("long").as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),

    // #138: incremental aggregate maintenance — the materialized-view
    // update path: the "historical" partition's partial aggregates merge
    // with the delta partition's partials (sum/count are the mergeable
    // algebra), and the result is row-identical to a full recompute
    // (which is exactly what the oracle runs). At 100 TB this is the
    // difference between scanning the day's delta and scanning the
    // corpus; only the source-sized partial tables shuffle.
    "q_incr_agg" -> ((s, dir) => {
      def part(df: DataFrame) = df
        .select(col("source"), size(TextAnalysis.tokens(col("text"))).as("nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tok_sum"))
      val d = tp(s, dir, "documents")
      val base = part(d.filter(col("doc_id") < 400))   // "materialized"
      val delta = part(d.filter(col("doc_id") >= 400)) // the new batch
      base.unionByName(delta)
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("tok_sum")).as("tok_sum"))
        .select(col("source"), col("n_docs"), col("tok_sum"),
          round(col("tok_sum").cast("double") / col("n_docs").cast("double"), 9)
            .as("avg_tokens"))
    }),

    // #139: data-quality expectations (deequ-shape): uniqueness, null
    // rate, value range, and referential integrity in ONE corpus scan
    // (a single agg row unpivoted via stack) plus one broadcast anti
    // join for the foreign-key check — never a scan per check. At scale
    // the exact countDistinct swaps for the salted two-stage pattern
    // (q_skew_count_distinct) on the same plan.
    "q_expectations" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select(col("c_custkey"))
      // the referential check rides the same scan: broadcast LEFT join,
      // orphans are the null-probe rows — five checks, ONE corpus pass
      val stats = o.join(broadcast(c),
          col("o_custkey") === col("c_custkey"), "left")
        .agg(
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkey"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos_price"),
          sum(when(col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
            col("o_orderdate") >= lit("1999-01-01").cast("timestamp"), 1L)
            .otherwise(0L)).as("date_oob"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
            .as("orphan_custkey"))
      stats.selectExpr(
        """stack(5,
          |  'o_orderkey_unique',      dup_orderkey,
          |  'o_custkey_not_null',     null_custkey,
          |  'o_totalprice_positive',  nonpos_price,
          |  'o_orderdate_in_range',   date_oob,
          |  'o_custkey_in_customer',  orphan_custkey
          |) AS (check_name, n_violations)""".stripMargin)
        .withColumn("pass", (col("n_violations") === 0L).cast("int"))
    }),

    // #140: Spearman rank correlation per group. The oracle text
    // (SpearmanQuery) ranks with `PARTITION BY l_returnflag` windows —
    // fine for DuckDB at sf0.01, a one-task-per-group sort at 100 TB
    // (l_returnflag has 3 values). The Spark plan instead exploits that
    // the tie-averaged rank depends only on (group, value):
    //   2·avg_rank = 2·(# smaller) + ties + 1
    // so each variable needs only its per-(group, value) count table —
    // distinct-value-sized, not row-sized — with "# smaller" as a
    // distributed per-group prefix sum (GroupRank.prefixSum: range
    // repartition + partition-offset scan, never a per-group window).
    // The two rank tables equi-join back to the fact rows (qty side is
    // 3×50 rows → broadcast; price side shuffles on (rf, value)), and
    // the moment sums are the same exact decimals-of-integers as the
    // oracle, so round(9) lands bit-identical.
    "q_spearman" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag").as("rf"),
        col("l_quantity"), col("l_extendedprice"))
      // r19 (guide §2.4, the ntileMany precedent): both rank dimensions
      // ride ONE melted pass — (dim, rf, v) explode → one count shuffle
      // → one range-repartition prefixSum keyed (dim, rf) — instead of
      // two independent groupBy + sort-shuffle + offset-collect rounds.
      // Each dim is its own contiguous key range, so per-(dim, rf)
      // ranks are identical to the per-rf ranks of the unfused tables
      // (both value columns are doubles — no cast, same total order).
      // 2 lineitem count scans / 2 range shuffles / 2 driver collects
      // → 1 of each; the rank values and the final moments unchanged.
      val melted = li.select(col("rf"), explode(array(
          struct(lit(0).as("d"), col("l_quantity").as("v")),
          struct(lit(1).as("d"), col("l_extendedprice").as("v")))).as("x"))
        .select(col("x.d").as("d"), col("rf"), col("x.v").as("v"))
      val counts = melted.groupBy(col("d"), col("rf"), col("v"))
        .agg(count(lit(1)).as("c"))
      // NOT checkpointed: the rx/ry filters below re-run only the cheap
      // stamp pass (pass 2 reuses the range shuffle's map output), and
      // GroupRankSpec pins q_spearman as leaving zero cached blocks.
      val ranked = operators.GroupRank.prefixSum(counts, Seq("d", "rf"),
          Seq("v"), Some("c"), "smaller")
        .withColumn("r", (lit(2L) * col("smaller") + col("c") + lit(1L))
          .cast("decimal(18,0)"))
      def rankTable(dim: Int, rName: String): DataFrame =
        ranked.filter(col("d") === dim)
          .select(col("rf").as(s"${rName}_rf"), col("v").as(s"${rName}_v"),
            col("r").as(rName))
      val rx = rankTable(0, "rx")
      val ry = rankTable(1, "ry")
      li.join(broadcast(rx),
          col("rf") === col("rx_rf") && col("l_quantity") === col("rx_v"))
        .join(ry,
          col("rf") === col("ry_rf") && col("l_extendedprice") === col("ry_v"))
        .groupBy(col("rf"))
        .agg(count(lit(1)).cast("double").as("nd"),
          sum(col("rx").cast("decimal(38,0)")).cast("double").as("sx"),
          sum(col("ry").cast("decimal(38,0)")).cast("double").as("sy"),
          sum((col("rx") * col("ry")).cast("decimal(38,0)"))
            .cast("double").as("sxy"),
          sum((col("rx") * col("rx")).cast("decimal(38,0)"))
            .cast("double").as("sx2"),
          sum((col("ry") * col("ry")).cast("decimal(38,0)"))
            .cast("double").as("sy2"))
        .select(col("rf"),
          round((col("nd") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("nd") * col("sx2") - col("sx") * col("sx")) *
              (col("nd") * col("sy2") - col("sy") * col("sy"))), 9)
            .as("spearman"))
    }),

    // #141: median absolute deviation per group — the robust outlier
    // scale signal (z-scores melt under heavy tails; MAD doesn't). Two
    // exact-percentile passes: per-group median, broadcast back, median
    // of |x − med|. Quantities are quarter-exact doubles, so both
    // interpolated medians are bit-identical across engines; at 100 TB
    // the exact percentile swaps for approx_percentile on an unchanged
    // plan (the sketch is mergeable, same two-phase agg shape).
    "q_mad" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity"))
      val med = li.groupBy(col("l_returnflag").as("rf"))
        .agg(percentile(col("l_quantity"), lit(0.5)).as("med"))
      li.join(broadcast(med), col("l_returnflag") === col("rf"))
        .groupBy(col("l_returnflag"))
        .agg(first(col("med")).as("med"),
          percentile(abs(col("l_quantity") - col("med")), lit(0.5)).as("mad"))
        .select(col("l_returnflag"), round(col("med"), 9).as("med"),
          round(col("mad"), 9).as("mad"))
    }),

    // #142: CDC / SCD-1 apply — the warehouse upsert path: a change log
    // (U = upsert payload, D = delete) collapses to its last writer per
    // key (max_by over the (ts, seq) order — one delta-sized shuffle),
    // then left-joins the snapshot: deletes drop, upserts replace,
    // untouched keys pass through. The snapshot is never shuffled on
    // anything but the join key, and the delta side is broadcast-able
    // when the day's changes are small. Values pass through unrounded —
    // bit-identical on both engines.
    "q_scd_apply" -> ((s, dir) => {
      val snap = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_acctbal").as("snap_bal"))
      val ch = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
        .select(col("o_custkey").as("key"),
          when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
          col("o_totalprice").as("newbal"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
      val last = ch.groupBy(col("key"))
        .agg(max_by(struct(col("op"), col("newbal")),
          struct(col("ts"), col("seq"))).as("l"))
        .select(col("key").as("k2"), col("l.op").as("op"),
          col("l.newbal").as("newbal"))
      snap.join(last, col("key") === col("k2"), "left")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("key"), coalesce(col("newbal"), col("snap_bal")).as("bal"))
    }),

    // #294: MERGE INTO-shaped upsert SINK (Sinks.merge) — the
    // TRANSACTIONAL complement of q_scd_apply's pure-query shape: the
    // change set applies to a STORED keyed parquet table (full-outer
    // join on the key + the compact() atomic snapshot-swap protocol)
    // and the table is read BACK as the result, so the oracle replays
    // the whole write-then-read round trip as one relational MERGE.
    // The target excludes custkey % 7 == 0 so those keys' changes
    // exercise the INSERT branch; final-status changes exercise DELETE;
    // the rest update or pass through. Values pass through unrounded —
    // bit-identical on both engines (the q_scd_apply convention).
    "q_merge_upsert" -> ((s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("graft_merge")
      val tgtDir = work.resolve("tbl").toString
      t(s, dir, "customer")
        .filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
        .write.parquet(tgtDir)
      val src = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
        .filter(col("o_custkey").isNotNull)
        .select(col("o_custkey").as("key"),
          when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
          col("o_totalprice").as("bal"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
        .groupBy(col("key"))
        .agg(max_by(struct(col("op"), col("bal")),
          struct(col("ts"), col("seq"))).as("l"))
        .select(col("key"), col("l.bal").as("bal"), col("l.op").as("op"))
      sources.Sinks.merge(s, tgtDir, src, Seq("key"),
        deleteWhen = col("op") === "D")
      s.read.parquet(tgtDir)
    }),

    // #294a: snapshot TIME TRAVEL round trip (sources.VersionedTable —
    // the multi-generation MERGE sink): init a versioned table from the
    // customer base, apply TWO chronological change-set merges (same
    // last-writer collapse + delete semantics as q_merge_upsert), then
    // read ALL THREE versions back via read(asOf) and emit each
    // version's state fingerprint (row count + exact decimal balance
    // sum). The oracle replays the version chain relationally — v2 =
    // MERGE(v1, changes1), v3 = MERGE(v2, changes2) — so the hash pins
    // that every historical snapshot equals the state the engine held
    // when that version committed, not just the latest. Fingerprints
    // are decimal(28,2) sums (order-free exact, 2-decimal money).
    "q_time_travel" -> ((s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("graft_tt")
      val tbl = work.resolve("tbl").toString
      val base = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
      // clusterBy stamps per-file key min/max into v1's manifest, so
      // both merges below rewrite only their stats-pruned candidate
      // files (the r17 O(delta) commit shape) — content is unchanged
      sources.VersionedTable.init(s, tbl, base, clusterBy = Seq("key"))
      def changes(lo: String, hi: String) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
          col("o_orderdate") < lit(hi).cast("timestamp"))
        .filter(col("o_custkey").isNotNull)
        .select(col("o_custkey").as("key"),
          when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
          col("o_totalprice").as("bal"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
        .groupBy(col("key"))
        .agg(max_by(struct(col("op"), col("bal")),
          struct(col("ts"), col("seq"))).as("l"))
        .select(col("key"), col("l.bal").as("bal"), col("l.op").as("op"))
      sources.VersionedTable.merge(s, tbl,
        changes("1997-01-01", "1997-07-01"), Seq("key"),
        deleteWhen = col("op") === "D")
      sources.VersionedTable.merge(s, tbl,
        changes("1997-07-01", "1999-01-01"), Seq("key"),
        deleteWhen = col("op") === "D")
      (1L to 3L).map { v =>
        sources.VersionedTable.read(s, tbl, Some(v))
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("bal").cast("decimal(28,2)")).as("sum_bal"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_bal"))
      }.reduce(_.unionAll(_)).orderBy(col("version"))
    }),

    // #294c: q_time_travel's version chain read back through the SQL
    // surface — `spark.read.format("graft-table").option("versionAsOf",
    // v)` — instead of the Scala API: same table build, same oracle
    // (the relational MERGE replay), so the hash pins that the FORMAT
    // path resolves every historical manifest to the identical state.
    // The format route is also the stats-pruned read path
    // (GraftManifestFileIndex), exercised here under a real workload.
    "q_time_travel_sql" -> ((s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("graft_tts")
      val tbl = work.resolve("tbl").toString
      val base = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
      sources.VersionedTable.init(s, tbl, base, clusterBy = Seq("key"))
      def changes(lo: String, hi: String) = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
          col("o_orderdate") < lit(hi).cast("timestamp"))
        .filter(col("o_custkey").isNotNull)
        .select(col("o_custkey").as("key"),
          when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
          col("o_totalprice").as("bal"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
        .groupBy(col("key"))
        .agg(max_by(struct(col("op"), col("bal")),
          struct(col("ts"), col("seq"))).as("l"))
        .select(col("key"), col("l.bal").as("bal"), col("l.op").as("op"))
      sources.VersionedTable.merge(s, tbl,
        changes("1997-01-01", "1997-07-01"), Seq("key"),
        deleteWhen = col("op") === "D")
      sources.VersionedTable.merge(s, tbl,
        changes("1997-07-01", "1999-01-01"), Seq("key"),
        deleteWhen = col("op") === "D")
      (1L to 3L).map { v =>
        s.read.format("graft-table").option("versionAsOf", v.toString)
          .load(tbl)
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("bal").cast("decimal(28,2)")).as("sum_bal"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_bal"))
      }.reduce(_.unionAll(_)).orderBy(col("version"))
    }),

    // #179: SCD type-2 dimension build from a change log — orders as
    // per-customer priority updates: drop no-change rows (lag), then
    // version + effective [from, to) ranges + current flag per key.
    // Two windows over the SAME (key → ts, seq) partitioning — one
    // shuffle, the second window reuses the sort. Epoch-second bigints;
    // open ranges close at year-9999 to keep the schema null-free.
    "q_scd2" -> ((s, dir) => {
      val ch = t(s, dir, "orders")
        .select(col("o_custkey").as("key"),
          col("o_orderpriority").as("attr"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
      val byKey = Window.partitionBy(col("key")).orderBy(col("ts"), col("seq"))
      val changed = ch.withColumn("prev", lag(col("attr"), 1).over(byKey))
        .filter(col("prev").isNull || col("prev") =!= col("attr"))
      changed
        .select(col("key"), row_number().over(byKey).as("version"),
          col("attr"), unix_timestamp(col("ts")).as("eff_from"),
          coalesce(unix_timestamp(lead(col("ts"), 1).over(byKey)),
            lit(253402300800L)).as("eff_to"),
          lead(col("ts"), 1).over(byKey).isNull.cast("int").as("is_current"))
    }),

    // #180a: POINT-IN-TIME dimension lookup against the SCD2 version
    // table (the warehouse companion of #179): every lineitem gets the
    // customer's priority-regime version effective at its ship date.
    // The [eff_from, eff_to) range predicate is NOT a range join —
    // non-overlapping versions that tile each key's timeline make
    // "effective at ts" ≡ "latest version with eff_from ≤ ts", which
    // is exactly AsOfJoin's union + one-window-pass shape: one
    // (key → ts) shuffle, no inequality-join cross-product, no per-row
    // probe. The oracle runs the literal BETWEEN-range join to prove
    // the equivalence. Version payload rides one struct column.
    "q_scd2_join" -> ((s, dir) => {
      // null custkeys would form a joinable null "key" partition in the
      // union-window sweep; equi-join semantics (the oracle) drop them
      val ch = t(s, dir, "orders").filter(col("o_custkey").isNotNull)
        .select(col("o_custkey").as("key"),
          col("o_orderpriority").as("attr"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
      val byKey = Window.partitionBy(col("key")).orderBy(col("ts"), col("seq"))
      val dim = ch.withColumn("prev", lag(col("attr"), 1).over(byKey))
        .filter(col("prev").isNull || col("prev") =!= col("attr"))
        .select(col("key"), col("ts").as("eff_from"),
          struct(row_number().over(byKey).as("version"), col("attr")).as("v"))
      val facts = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
          .filter(col("o_custkey").isNotNull),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("key"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      AsOfJoin.asOf(facts, dim, "key", "l_shipdate", "eff_from", "v", "ver")
        // inner semantics: facts before their key's first version have
        // no effective dimension row (the oracle's range join drops them)
        .filter(col("ver").isNotNull)
        .groupBy(col("ver.attr").as("attr"))
        .agg(count(lit(1)).as("n_lines"),
          revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("attr"))
    }),

    // #143: exact set-similarity self-join via PREFIX FILTERING (the
    // PPJoin family) — the deterministic complement of MinHash-LSH: if
    // Jaccard(A,B) ≥ t, A and B must share a shingle within their
    // (n − ⌈t·n⌉ + 1)-prefixes under ANY shared global token order, so
    // candidates = pairs sharing a prefix shingle — no probabilistic
    // miss, no n² compare. Rarest-first order (global frequency asc)
    // minimizes candidate fan-out. The frequency ranking is a window
    // over the shingle-vocabulary table (corpus-independent size); the
    // candidate join shuffles on the shingle, AQE splits hot buckets.
    // t = 0.5 ⟹ prefix length n div 2 + 1, all integer arithmetic.
    "q_prefix_join" -> ((s, dir) => {
      val sh = Dedup.shingleDf(
          tp(s, dir, "documents").filter(col("doc_id") < 600), "doc_id", "text", 3)
        .filter(size(col("sh")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ex = sh.select(col("id"), explode(col("sh")).as("g"))
      val rank = ex.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
        .select(col("g"),
          row_number().over(
            boundedGlobal("gram-frequency table of a <=600-doc id range")
              .orderBy(col("cnt"), col("g"))).as("rnk"))
      val pref = ex.join(rank, "g")
        .groupBy(col("id"))
        .agg(array_sort(collect_list(struct(col("rnk"), col("g")))).as("st"))
        .select(col("id"),
          explode(slice(transform(col("st"), x => x.getField("g")),
            lit(1),
            (size(col("st")) / lit(2)).cast("int") + lit(1))).as("g"))
      val cand = pref.as("a").join(pref.as("b"),
          col("a.g") === col("b.g") && col("a.id") < col("b.id"))
        .select(col("a.id").as("i"), col("b.id").as("j")).distinct()
      cand.join(sh.select(col("id").as("i"), col("sh").as("sh_i")), "i")
        .join(sh.select(col("id").as("j"), col("sh").as("sh_j")), "j")
        .select(col("i"), col("j"),
          Dedup.jaccard(col("sh_i"), col("sh_j")).as("jac"))
        .filter(col("jac") >= 0.5)
    }),

    // #144: Z-order (Morton) clustering key — the multi-dimensional
    // data-skipping layout: interleaving the bits of two bounded
    // dimensions makes a RANGE of zkey cover a RECTANGLE of (custkey,
    // day), so min/max footer stats prune both dimensions on one sort
    // key. The interleave is the codegen'd native expression
    // graft_zorder (§2.5 row 51g: branchless magic-mask bit spreading,
    // parity with the static mask-shift expansion asserted in
    // NativeExprSpec); the top-100 goes through TakeOrderedAndProject —
    // a full table write would range-partition on zkey instead (same
    // projection, no global sort — Sinks.clustered).
    "q_zorder" -> ((s, dir) => {
      val x = pmod(col("o_custkey"), lit(1024L))
      val y = pmod(unix_date(col("o_orderdate").cast("date")).cast("long"), lit(1024L))
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.functions.NativeExpressions.zorder(x, y, 10).as("zkey"))
        .orderBy(col("zkey"), col("o_orderkey")).limit(100)
    }),

    // #145: time-series gap fill + forward fill (resample-to-daily):
    // per-user daily grid from sequence(min,max) explode — grid size is
    // span-bounded, never a cross join — left-joined with each day's
    // last observation, then last(ignoreNulls) carries values across
    // gaps. Grid build and fill share one hash partitioning on user_id.
    "q_gapfill" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id") < 30)
        .select(col("user_id"), unix_date(col("ts").cast("date")).as("day"),
          col("ts"), col("event_id"), col("value"))
      val daily = e.groupBy(col("user_id"), col("day"))
        .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("v"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("v"), ignoreNulls = true).over(w).as("value"))
    }),

    // #215: funnel time-to-convert (signup → first qualifying
    // purchase) with exact discrete percentiles: latencies quantize
    // to whole hours, so the p50/p90 are order statistics read off a
    // latency-domain-sized histogram cumulative (the
    // q_percentile_disc trick on a DERIVED duration) — no global sort
    // of users, no interpolated quantiles. Second diffs and target
    // ranks ceil(qN) are pure integer arithmetic in both engines; the
    // per-user first-purchase-after-signup is one user-keyed join +
    // min agg, user-sized shuffles only.
    "q_funnel_latency" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
      val lat = ev.filter(col("event_type") === "purchase")
        .join(su, "user_id")
        .filter(col("ts") >= col("s_ts"))
        .groupBy(col("user_id"), col("s_ts")).agg(min(col("ts")).as("p_ts"))
        .select(((unix_timestamp(col("p_ts")) - unix_timestamp(col("s_ts")))
          .cast("long")).as("secs"))
        .select(expr("secs div 3600").as("h"))
      // r18 (guide §3.3): hist feeds cum and tot — checkpoint the
      // hour histogram once (the signup⋈purchase pipeline runs once)
      val hist = lat.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val wc = boundedGlobal("hour-latency histogram, |distinct hours| rows")
        .orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("c")).over(wc))
      val tot = hist.agg(sum(col("c")).cast("long").as("nn"))
      val j = cum.crossJoin(broadcast(tot))
      j.agg(max(col("nn")).as("n_users"),
          min(when(col("cum") >= expr("(nn + 1) div 2"), col("h")))
            .as("p50_hours"),
          min(when(col("cum") >= expr("(9 * nn + 9) div 10"), col("h")))
            .as("p90_hours"))
    }),

    // #214: movers-and-shakers leaderboard — biggest customer spend
    // RANK improvements between the 1995-97 and 1998-2001 halves of
    // the order history. Ranking runs on GroupRank.rowNumber (the
    // distributed two-pass rank: range-repartition + driver-sized
    // offset table), NOT row_number() over a 2-value partition key —
    // a window partitioned by `period` funnels half the customer
    // table through one task's sort at 100 TB. Spend sums are exact
    // decimals; (−spend, custkey) is the total order, so ranks are
    // engine-identical; the final top-20 is a limit, not a global
    // sort of the join.
    "q_movers" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("period",
          when(year(col("o_orderdate")) <= 1997, lit("p1")).otherwise(lit("p2")))
      val spend = o.groupBy(col("period"), col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
        .withColumn("negspend", negate(col("spend")))
      val ranked = graft.operators.GroupRank.rowNumber(
        spend, Seq("period"), Seq("negspend", "o_custkey"), "rnk")
      val p1 = ranked.filter(col("period") === "p1")
        .select(col("o_custkey"), col("rnk").as("r1"))
      val p2 = ranked.filter(col("period") === "p2")
        .select(col("o_custkey"), col("rnk").as("r2"))
      p1.join(p2, "o_custkey")
        .select(col("o_custkey"), col("r1"), col("r2"),
          (col("r1") - col("r2")).as("delta"))
        .orderBy(col("delta").desc, col("o_custkey").asc).limit(20)
    }),

    // #237: empirical-Bayes shrinkage of per-source long-doc rates
    // (beta-binomial, method-of-moments prior — the small-sample
    // leaderboard fix: a 3-doc source's 100% rate shouldn't outrank a
    // 500-doc source's 80%): per-source (x, n) are exact integers;
    // the prior moments over the 20 source rates use the per-term
    // round(9) decimal-sum pattern (order-free), and the shrunk rate
    // (x+α)/(n+α+β) is one shared closed-form tree, round(6).
    "q_eb_shrinkage" -> ((s, dir) => {
      // r18 (guide §3.3): src feeds k, the moment pass and the final
      // shrink — checkpoint the source-sized table (3 scans → 1)
      val src = tp(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).as("x"))
        .withColumn("rate",
          round(col("x").cast("double") / col("n").cast("double"), 9))
        .eagerCheckpoint()
      val k = src.agg(count(lit(1)).as("kk"),
        sum(col("rate").cast("decimal(24,9)")).as("sr"))
      def nd(c: Column) = c.cast("double")
      val m = src.crossJoin(broadcast(k))
        .withColumn("m", nd(col("sr")) / nd(col("kk")))
      val v = m.agg(max(col("m")).as("m"), max(nd(col("kk"))).as("kk"),
        sum(round((col("rate") - col("m")) * (col("rate") - col("m")), 9)
          .cast("decimal(24,9)")).as("sv"))
        .withColumn("v", nd(col("sv")) / col("kk"))
        .withColumn("ab", col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0))
        .select(col("m"), (col("m") * col("ab")).as("alpha"),
          ((lit(1.0) - col("m")) * col("ab")).as("beta"))
      src.crossJoin(broadcast(v))
        .select(col("source"), col("n"), col("x"), col("rate"),
          round((nd(col("x")) + col("alpha")) /
            (nd(col("n")) + col("alpha") + col("beta")), 6).as("shrunk"))
        .orderBy(col("source"))
    }),

    // #241: forecastability baseline — sMAPE of the persistence
    // (naive x̂_t = x_{t−1}) forecast per daily series: the floor any
    // real forecasting model must beat, and the standard first
    // question before investing in one. One lag over the day-domain
    // series; each symmetric error term 2|Δ|/(|x_t|+|x_{t−1}|) is a
    // round(9) IEEE tree on exact decimals, summed IN DECIMAL
    // (order-free), one final round(6) mean.
    "q_smape" -> ((s, dir) => {
      val d = t(s, dir, "events")
        .select(col("event_type").as("arm"), to_date(col("ts")).as("day"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("arm"), col("day")).agg(sum(col("v")).as("x"))
      val w = Window.partitionBy(col("arm")).orderBy(col("day"))
      def nd(c: Column) = c.cast("double")
      d.withColumn("prev", lag(col("x"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("term", round(lit(2.0) * abs(nd(col("x")) - nd(col("prev"))) /
          (abs(nd(col("x"))) + abs(nd(col("prev")))), 9).cast("decimal(24,9)"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n_days"),
          round(sum(col("term")).cast("double") /
            count(lit(1)).cast("double"), 6).as("smape"))
        .orderBy(col("arm"))
    }),

    // #240: experiment power planning — minimum detectable effect per
    // arm at α=0.05, power=0.80 (z-sum 1.959964+0.841621 as literal
    // constants, like q_benford's probability literals — no engine
    // erf): MDE_abs = (z_{α/2}+z_β)·√(2s²/n) for an equal-split
    // two-sample test at current traffic, MDE_rel over the arm mean.
    // Sample variance from ONE decimal-exact moment pass; the z
    // constants and the two outputs are one shared IEEE tree,
    // round(9). The planning companion to q_welch_ttest's inference.
    "q_power" -> ((s, dir) => {
      val zsum = 2.801585
      val d28 = "decimal(28,4)"
      def nd(c: Column) = c.cast("double")
      t(s, dir, "events")
        .select(col("event_type").as("arm"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(d28)).as("sx"),
          sum((col("v") * col("v")).cast(d28)).as("sx2"))
        .withColumn("s2", (nd(col("n")) * nd(col("sx2")) -
          nd(col("sx")) * nd(col("sx"))) /
          (nd(col("n")) * (nd(col("n")) - lit(1.0))))
        .select(col("arm"), col("n"),
          round(lit(zsum) * sqrt(lit(2.0) * col("s2") / nd(col("n"))), 9)
            .as("mde_abs"),
          round(lit(zsum) * sqrt(lit(2.0) * col("s2") / nd(col("n"))) /
            (nd(col("sx")) / nd(col("n"))), 9).as("mde_rel"))
        .orderBy(col("arm"))
    }),

    // #239: peak concurrent sessions per day (capacity planning /
    // load-envelope metric): classic +1/−1 boundary sweep over the
    // Sessionize intervals, day-clipped so the cumulative runs
    // per-day. Boundaries aggregate per (day, second) FIRST — running
    // concurrency after a tick's arrivals is cum_prev + plus, which
    // makes the sweep deterministic under timestamp ties (row-level
    // prefix sums inside a tie group are permutation-dependent;
    // group-level ones are not). End-exclusive at ce+1; peak time is
    // the earliest tick attaining the max.
    "q_concurrency" -> ((s, dir) => {
      val sess = Sessionize.sessions(t(s, dir, "events"),
        "user_id", "ts", "event_id", 1800.0)
      // r18 (guide §3.3): both sweep-event union branches consume the
      // clipped sessions — checkpoint once (2 sessionize passes → 1)
      val clipped = sess
        .withColumn("d", explode(sequence(expr("start_s div 86400"),
          expr("end_s div 86400"))))
        .withColumn("cs", greatest(col("start_s"), col("d") * 86400L))
        .withColumn("ce", least(col("end_s"), col("d") * 86400L + 86399L))
        .eagerCheckpoint()
      val bounds = clipped
        .select(col("d"), col("cs").as("t"), lit(1L).as("delta"))
        .union(clipped.select(col("d"), (col("ce") + 1L).as("t"),
          lit(-1L).as("delta")))
        .groupBy(col("d"), col("t"))
        .agg(sum(col("delta")).as("net"),
          sum(when(col("delta") > 0, col("delta")).otherwise(0L)).as("plus"))
      val wc = Window.partitionBy(col("d")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val swept = bounds.withColumn("cum", sum(col("net")).over(wc))
        .withColumn("gm", col("cum") - col("net") + col("plus"))
      swept.groupBy(col("d"))
        .agg(max(col("gm")).as("peak"),
          max_by(col("t"), struct(col("gm"), negate(col("t")))).as("at_s"))
        .select(col("d").as("day"), col("peak"), col("at_s"))
        .orderBy(col("day"))
    }),

    // #238: additive seasonal decomposition of the daily revenue
    // series (STL-lite: trend = centered 7-day moving average,
    // seasonal = day-of-week mean of the detrended part, residual =
    // remainder — the anomaly input that raw z-scores get wrong on
    // weekly-patterned data): daily sums exact decimals; the trend
    // window is a ±3-row frame on the day-domain table; detrended
    // values round(9) then the seasonal means use the decimal-sum
    // pattern (order-free); interior days only (full MA support).
    "q_decompose" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(unix_date(to_date(col("ts"))).as("day"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("day")).agg(sum(col("v")).as("x"))
      val wm = boundedGlobal("day table, one row per day")
        .orderBy(col("day")).rowsBetween(-3, 3)
      val wn = boundedGlobal("day table, one row per day")
        .orderBy(col("day"))
      val tr = daily
        .withColumn("nw", count(lit(1)).over(wm))
        .withColumn("trend", round(sum(col("x")).over(wm).cast("double") /
          col("nw").cast("double"), 9))
        .filter(col("nw") === 7)
        .withColumn("det", round(col("x").cast("double") - col("trend"), 9))
        .withColumn("dow", (col("day") + lit(4)) % lit(7))
      val seas = tr.groupBy(col("dow"))
        .agg(round(sum(col("det").cast("decimal(24,9)")).cast("double") /
          count(lit(1)).cast("double"), 9).as("seasonal"))
      tr.join(broadcast(seas), "dow")
        .select(col("day"), col("x").cast("double").as("revenue"),
          col("trend"), col("seasonal"),
          round(col("det") - col("seasonal"), 9).as("residual"))
        .orderBy(col("day"))
    }),

    // #236: DP-style noisy count release (ε=1 Laplace mechanism, the
    // privacy-pipeline counterpart of q_pii_redact's masking): the
    // Laplace draw comes from the deterministic 60-bit md5 uniform by
    // inverse CDF — L = −sgn(u−½)·ln(1−2|u−½|)/ε — so the "noise" is
    // bit-replayable in SQL (the repo's seeded-randomness pattern;
    // a production release would swap in a secret seed, the PLUMBING
    // is what's exercised). True counts are exact integers; the draw
    // and the noisy release are one shared IEEE tree, round(6).
    "q_dp_counts" -> ((s, dir) => {
      val eps = 1.0
      val u = NativeExpressions.md5Prefix60(concat(lit("dp:"),
        col("event_type"))).cast("double") /
        lit(1152921504606846976.0)
      val lap = -signum(u - lit(0.5)) *
        log(lit(1.0) - lit(2.0) * abs(u - lit(0.5))) / lit(eps)
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("true_n"))
        .select(col("event_type"),
          round(col("true_n").cast("double") + lap, 6).as("noisy_n"))
        .orderBy(col("event_type"))
    }),

    // #235: CUPED variance reduction (Deng et al. WSDM'13, the
    // industry-standard experiment-sensitivity trick): adjust each
    // arm's experiment-period mean by θ·(pre-period deviation), with
    // θ = cov(pre, post)/var(pre) pooled across arms. Assignment is
    // the deterministic md5-hash arm (replayable in SQL, like
    // q_folds); per-user pre/post sums and all four pooled moments
    // are exact decimals off ONE pass; θ, the adjusted means, and the
    // variance-reduction fraction (corr²) are closed-form doubles on
    // those exact sums, round(9). User-sized shuffles only.
    "q_cuped" -> ((s, dir) => {
      val mid = lit("2024-01-16").cast("date")
      val per = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(to_date(col("ts")) < mid,
            col("value").cast("decimal(18,2)")).otherwise(lit(0)
            .cast("decimal(18,2)"))).as("pre"),
          sum(when(to_date(col("ts")) >= mid,
            col("value").cast("decimal(18,2)")).otherwise(lit(0)
            .cast("decimal(18,2)"))).as("post"))
        .withColumn("arm",
          (NativeExpressions.md5Prefix60(concat(lit("cuped:"),
            col("user_id"))) % 2).cast("int"))
      val d28 = "decimal(28,4)"
      val g = per.agg(count(lit(1)).as("n"),
        sum(col("pre").cast(d28)).as("sx"),
        sum(col("post").cast(d28)).as("sy"),
        sum((col("pre") * col("pre")).cast(d28)).as("sxx"),
        sum((col("pre") * col("post")).cast(d28)).as("sxy"),
        sum((col("post") * col("post")).cast(d28)).as("syy"))
      def nd(c: Column) = c.cast("double")
      val theta = g.select(col("n"), nd(col("sx")).as("sx"),
        nd(col("sy")).as("sy"), nd(col("sxx")).as("sxx"),
        nd(col("sxy")).as("sxy"), nd(col("syy")).as("syy"))
        .withColumn("th", (nd(col("n")) * col("sxy") - col("sx") * col("sy")) /
          (nd(col("n")) * col("sxx") - col("sx") * col("sx")))
        .withColumn("mx", col("sx") / nd(col("n")))
        .withColumn("vr",
          ((nd(col("n")) * col("sxy") - col("sx") * col("sy")) *
            (nd(col("n")) * col("sxy") - col("sx") * col("sy"))) /
          ((nd(col("n")) * col("sxx") - col("sx") * col("sx")) *
            (nd(col("n")) * col("syy") - col("sy") * col("sy"))))
      val arms = per.groupBy(col("arm"))
        .agg(count(lit(1)).as("n_arm"),
          sum(col("pre").cast(d28)).as("sxa"),
          sum(col("post").cast(d28)).as("sya"))
      arms.crossJoin(broadcast(theta.select(col("th"), col("mx"), col("vr"))))
        .select(col("arm"), col("n_arm"),
          round(nd(col("sya")) / nd(col("n_arm")), 9).as("mean_post"),
          round(nd(col("sya")) / nd(col("n_arm")) -
            col("th") * (nd(col("sxa")) / nd(col("n_arm")) - col("mx")), 9)
            .as("adj_mean"),
          round(col("vr"), 9).as("var_reduction"))
        .orderBy(col("arm"))
    }),

    // #234: token burstiness (Church–Gale variance-to-mean ratio over
    // per-doc counts, zeros included): VMR ≈ 1 means Poisson-scattered
    // (function words); ≫ 1 means clumpy content words — the signal
    // behind burstiness-aware term weighting and template detection.
    // Absent-doc zeros never materialize: with integer sums s1 = Σc,
    // s2 = Σc² over PRESENT docs and D total docs, VMR cross-
    // multiplies to (D·s2 − s1²)/(D·s1) — exact integers to one final
    // round(9) division. Top-50 tokens by count, deterministic
    // tie-break; vocab-bounded shuffles.
    "q_burstiness" -> ((s, dir) => {
      val td = tp(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(lower(col("text"))))
          .as("token"))
        .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("c"))
      val d = tp(s, dir, "documents").agg(count(lit(1)).cast("long").as("dd"))
      val perTok = td.groupBy(col("token"))
        .agg(sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"))
      perTok.crossJoin(broadcast(d))
        .select(col("token"), col("s1").cast("long").as("n_occ"),
          round((col("dd").cast("double") * col("s2").cast("double") -
              col("s1").cast("double") * col("s1").cast("double")) /
            (col("dd").cast("double") * col("s1").cast("double")), 9)
            .as("vmr"))
        .orderBy(col("n_occ").desc, col("token").asc).limit(50)
    }),

    // #233: daily growth accounting (new / retained / resurrected /
    // churned + quick ratio — the growth-analytics decomposition of
    // DAU beside row 131's cohort retention): classify each (user,
    // active-day) row against the user's PREVIOUS active day (lag)
    // and charge churn to the day AFTER an activity gap (lead), so
    // the whole report rides one (user → day) exchange with two
    // window functions — no day×user matrix, no self-joins. Counts
    // are exact integers; the quick ratio is the only float,
    // round(9), null on churn-free days.
    "q_growth_accounting" -> ((s, dir) => {
      val da = t(s, dir, "events")
        .select(col("user_id"), unix_date(to_date(col("ts"))).as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      // r18 (guide §3.3): flagged feeds the state rollup AND the churn
      // pass — checkpoint the windowed frame once (2 window passes → 1)
      val flagged = da
        .withColumn("prev", lag(col("day"), 1).over(w))
        .withColumn("nxt", lead(col("day"), 1).over(w))
        .eagerCheckpoint()
      val maxDay = da.agg(max(col("day")).as("max_day"))
      val states = flagged
        .withColumn("state", when(col("prev").isNull, lit("new"))
          .when(col("prev") === col("day") - 1, lit("retained"))
          .otherwise(lit("resurrected")))
      val active = states.groupBy(col("day"))
        .agg(sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("state") === "retained", 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("state") === "resurrected", 1L).otherwise(0L))
            .as("n_resurrected"))
      val churn = flagged.crossJoin(broadcast(maxDay))
        .filter((col("nxt").isNull || col("nxt") > col("day") + 1) &&
          col("day") + 1 <= col("max_day"))
        .groupBy((col("day") + 1).as("day"))
        .agg(count(lit(1)).as("n_churned"))
      active.join(churn, Seq("day"), "left")
        .na.fill(0L, Seq("n_churned"))
        .select(col("day"), col("n_new"), col("n_retained"),
          col("n_resurrected"), col("n_churned"),
          when(col("n_churned") > 0,
            round((col("n_new") + col("n_resurrected")).cast("double") /
              col("n_churned").cast("double"), 9)).as("quick_ratio"))
        .orderBy(col("day"))
    }),

    // #232: top behavioral trigram paths (the sequential-pattern step
    // past q_transitions' bigram matrix — "view→click→purchase"-style
    // micro-journeys): two leads over ONE (user → ts, id) exchange
    // build consecutive event-type triples in place (no self-joins),
    // then a hash-agg counts paths; top-20 through per-partition
    // heaps. Deterministic tie order on the path string.
    "q_session_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc).limit(20)
    }),

    // #293: Krippendorff's alpha, nominal (Krippendorff 1970/2004 —
    // the MULTI-RATER agreement gate beside #230's two-rater kappa:
    // real annotation pipelines have many raters each labeling a
    // subset, and alpha handles both via the coincidence matrix).
    // Units = user cohorts, raters = event arms, rating = the arm's
    // MIN quartile-bucket for the unit (one rating per (unit, rater),
    // deterministic). Per-unit diagonal coincidences c(c−1)/(m−1) are
    // the ONLY fractions — each is one double division round(9) into
    // a DECIMAL sum; the marginals n_c and n stay integer, so
    // A_e = Σn_c(n_c−1)/(n(n−1)) and alpha close in one shared tree.
    // Everything after the (unit, rater) dedup is coincidence-sized.
    "q_krippendorff" -> ((s, dir) => {
      val r = t(s, dir, "events")
        .select((col("user_id") % 100).as("unit"),
          col("event_type").as("rater"),
          floor(col("value") / lit(25.0)).cast("int").as("v"))
        .groupBy(col("unit"), col("rater")).agg(min(col("v")).as("v"))
      // r18 (guide §3.3): cu feeds mu and the coincidence join —
      // checkpoint the unit×value table once (events scan ×2 → 1)
      val cu = r.groupBy(col("unit"), col("v")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val mu = cu.groupBy(col("unit")).agg(sum(col("c")).as("m"))
      val j = cu.join(mu, "unit").filter(col("m") >= 2)
      val occ = j.select(round(
          (col("c") * (col("c") - 1)).cast("double") /
            (col("m") - 1).cast("double"), 9).cast("decimal(28,9)").as("t"))
        .agg(sum(col("t")).as("occ"))
      val tots = j.groupBy(col("v")).agg(sum(col("c")).as("nc"))
        .agg(sum(col("nc")).as("n"), sum(col("nc") * (col("nc") - 1)).as("s2"))
      def nd(c: Column) = c.cast("double")
      val ao = col("occ").cast("double") / nd(col("n"))
      val ae = nd(col("s2")) / (nd(col("n")) * (nd(col("n")) - lit(1.0)))
      occ.crossJoin(broadcast(tots))
        .select(col("n"), col("occ").cast("double").as("o_cc"), col("s2"),
          round(when(lit(1.0) - ae === lit(0.0), lit(0.0))
            .otherwise((ao - ae) / (lit(1.0) - ae)), 9).as("alpha"))
    }),

    // #230: Cohen's kappa of the language-ID heuristic against the
    // gold labels — agreement BEYOND CHANCE, the metric that keeps a
    // majority-class-happy classifier honest (zh docs have no gold
    // counterpart in the heuristic's label set, so raw accuracy
    // overstates). Confusion, marginal, and agreement counts are all
    // exact integers; po, pe and kappa are one shared IEEE tree
    // rounded once. Confusion-matrix-sized shuffles only.
    "q_cohen_kappa" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
      // r18 (guide §3.3): the confusion table feeds tot, agree and
      // both pe margins — checkpoint once (4 langId scans → 1)
      val conf = d.groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val tot = conf.agg(sum(col("c")).cast("long").as("nn"))
      val agree = conf.filter(col("lang") === col("pred"))
        .agg(coalesce(sum(col("c")), lit(0L)).cast("long").as("po_n"))
      val pe = conf.groupBy(col("lang")).agg(sum(col("c")).as("rt"))
        .join(conf.groupBy(col("pred")).agg(sum(col("c")).as("ct")),
          col("lang") === col("pred"))
        .agg(coalesce(sum(col("rt") * col("ct")), lit(0L)).cast("long")
          .as("pe_n"))
      def nd(c: Column) = c.cast("double")
      tot.crossJoin(agree).crossJoin(pe)
        .select(col("nn"),
          round(nd(col("po_n")) / nd(col("nn")), 9).as("po"),
          round((nd(col("po_n")) / nd(col("nn")) -
              nd(col("pe_n")) / (nd(col("nn")) * nd(col("nn")))) /
            (lit(1.0) - nd(col("pe_n")) / (nd(col("nn")) * nd(col("nn")))), 9)
            .as("kappa"))
    }),

    // #231: threshold classification metrics (precision / recall / F1
    // / MCC) for "value ≥ discrete median" predicting 'purchase' —
    // the threshold-eval companion to q_auc's ranking eval. The
    // threshold is the exact discrete p50 off the value histogram,
    // the confusion quadrant counts are one conditional aggregation
    // over the corpus, and every metric is one shared IEEE tree over
    // those four integers, rounded once.
    "q_threshold_metrics" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("value").cast("decimal(18,2)").as("v"),
          (col("event_type") === "purchase").as("y"))
      // r18 (guide §3.3): h feeds tot and the cutpoint agg — checkpoint
      val h = ev.groupBy(col("v")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val wc = boundedGlobal("2-dec value histogram, |distinct values| rows")
        .orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = h.agg(sum(col("c")).cast("long").as("nn"))
      val med = h.withColumn("cum", sum(col("c")).over(wc))
        .crossJoin(broadcast(tot))
        .agg(min(when(col("cum") >= expr("(nn + 1) div 2"), col("v")))
          .as("p50"))
      val cm = ev.crossJoin(broadcast(med))
        .agg(sum(when(col("y") && col("v") >= col("p50"), 1L)
            .otherwise(0L)).as("tp"),
          sum(when(!col("y") && col("v") >= col("p50"), 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("y") && col("v") < col("p50"), 1L)
            .otherwise(0L)).as("fn"),
          sum(when(!col("y") && col("v") < col("p50"), 1L)
            .otherwise(0L)).as("tn"))
      def nd(c: Column) = c.cast("double")
      cm.select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(nd(col("tp")) / (nd(col("tp")) + nd(col("fp"))), 9)
          .as("precision"),
        round(nd(col("tp")) / (nd(col("tp")) + nd(col("fn"))), 9)
          .as("recall"),
        round(lit(2.0) * nd(col("tp")) /
          (lit(2.0) * nd(col("tp")) + nd(col("fp")) + nd(col("fn"))), 9)
          .as("f1"),
        round((nd(col("tp")) * nd(col("tn")) - nd(col("fp")) * nd(col("fn"))) /
          sqrt((nd(col("tp")) + nd(col("fp"))) * (nd(col("tp")) + nd(col("fn"))) *
            (nd(col("tn")) + nd(col("fp"))) * (nd(col("tn")) + nd(col("fn")))), 9)
          .as("mcc"))
    }),

    // #229: Kneser–Ney smoothed bigram probabilities (the LM
    // estimator behind every n-gram baseline — absolute discount
    // d=0.75 plus the CONTINUATION-count unigram backoff, which fixes
    // the "san francisco" pathology raw MLE and add-k share): all
    // four count families (c_xy, c_x, N1+left(x), N1+right(y), B)
    // are exact integers off ONE bigram table; p_KN is a single
    // shared IEEE tree over those integers, round(9). Output: the 50
    // most frequent bigrams (deterministic tie-break) with their
    // smoothed probabilities.
    "q_kneser_ney" -> ((s, dir) => {
      val bg = tp(s, dir, "documents")
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("p.w1"), col("p.w2"))
      // r18 (guide §3.3): cxy feeds left, right, types and the score
      // join — checkpoint the bigram-vocab table once (4 passes → 1)
      val cxy = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cxy"))
        .eagerCheckpoint()
      val left = cxy.groupBy(col("w1"))
        .agg(sum(col("cxy")).as("cx"), count(lit(1)).as("n1l"))
      val right = cxy.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
      val types = cxy.agg(count(lit(1)).cast("long").as("bt"))
      def nd(c: Column) = c.cast("double")
      cxy.join(left, "w1").join(right, "w2").crossJoin(broadcast(types))
        .select(col("w1"), col("w2"), col("cxy"),
          round((nd(col("cxy")) - lit(0.75)) / nd(col("cx")) +
            (lit(0.75) * nd(col("n1l")) / nd(col("cx"))) *
              (nd(col("n1r")) / nd(col("bt"))), 9).as("p_kn"))
        .orderBy(col("cxy").desc, col("w1").asc, col("w2").asc)
        .limit(50)
    }),

    // #228: bigram conditional entropy rate per source — H(Y|X) =
    // −Σ_xy (c_xy/N)·ln(c_xy/c_x), the text-predictability metric
    // that separates repetitive/templated corpora (low rate) from
    // diverse prose (high) better than unigram entropy (row 94): a
    // source can have rich vocabulary but formulaic transitions.
    // Bigram and left-context counts are exact integers off one
    // tokenize pass (vocab-bounded shuffles); each term is one
    // round(9) IEEE tree summed IN DECIMAL (order-free), one final
    // round(6).
    "q_entropy_rate" -> ((s, dir) => {
      val bg = tp(s, dir, "documents")
        .select(col("source"), TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("source"), explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("source"), col("p.w1"), col("p.w2"))
      // r18 (guide §3.3): cxy feeds cx, nTot and the score join —
      // checkpoint the bigram-vocab table once (3 tokenize passes → 1)
      val cxy = bg.groupBy(col("source"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cxy"))
        .eagerCheckpoint()
      val cx = cxy.groupBy(col("source"), col("w1"))
        .agg(sum(col("cxy")).as("cx"))
      val nTot = cxy.groupBy(col("source")).agg(sum(col("cxy")).as("nb"))
      cxy.join(cx, Seq("source", "w1")).join(broadcast(nTot), "source")
        .groupBy(col("source"), col("nb"))
        .agg(sum(round((col("cxy").cast("double") / col("nb").cast("double")) *
          log(col("cx").cast("double") / col("cxy").cast("double")), 9)
          .cast("decimal(24,9)")).as("h"))
        .select(col("source"), col("nb").cast("long").as("n_bigrams"),
          round(col("h").cast("double"), 6).as("h_rate"))
        .orderBy(col("source"))
    }),

    // #227: multi-lag autocorrelation function (lags 1..7) per daily
    // series — the seasonality/persistence diagnostic beside
    // q_autocorr's single per-user lag-1: pairs align on CALENDAR day
    // + k via an equi-join on (arm, day+k) (gap days drop their
    // pairs; no window over the corpus), so the pair table is
    // calendar×7-bounded. Deviation products are per-term round(9)
    // doubles SUMMED IN DECIMAL (order-free, the q_js_div pattern)
    // against the full-series variance term, one final round(6).
    "q_acf" -> ((s, dir) => {
      // r18 (guide §3.3): the daily series d feeds stats, dm (→ den,
      // probe) and the lag join — checkpoint once (5 scans → 1)
      val d = t(s, dir, "events")
        .select(col("event_type").as("arm"), to_date(col("ts")).as("day"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("arm"), col("day")).agg(sum(col("v")).as("x"))
        .eagerCheckpoint()
      val stats = d.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .withColumn("mean",
          round(col("sx").cast("double") / col("n").cast("double"), 9))
      val dm = d.join(broadcast(stats), "arm")
      val den = dm.groupBy(col("arm"))
        .agg(sum(round((col("x").cast("double") - col("mean")) *
          (col("x").cast("double") - col("mean")), 9)
          .cast("decimal(24,9)")).as("den"))
      val probe = dm.withColumn("k", explode(sequence(lit(1), lit(7))))
        .select(col("arm"), col("k"), date_add(col("day"), col("k")).as("day"),
          col("x").as("x1"), col("mean"))
      val pairs = probe.join(d.select(col("arm"), col("day"),
        col("x").as("x2")), Seq("arm", "day"))
      val num = pairs.groupBy(col("arm"), col("k"))
        .agg(sum(round((col("x1").cast("double") - col("mean")) *
          (col("x2").cast("double") - col("mean")), 9)
          .cast("decimal(24,9)")).as("num"),
          count(lit(1)).as("m"))
      num.join(broadcast(den), "arm")
        .select(col("arm"), col("k").cast("long").as("k"), col("m"),
          round(col("num").cast("double") / col("den").cast("double"), 6)
            .as("acf"))
        .orderBy(col("arm"), col("k"))
    }),

    // #226: 90% winsorized mean per arm (the robust location estimate
    // beside q_mad's robust scale — heavy-tail-safe KPI averaging):
    // p5/p95 are DISCRETE order statistics off the arm-partitioned
    // value-histogram cumulative (integer ceil targets, the
    // percentile_disc machinery), and the winsorized sum clamps each
    // histogram VALUE row into [p5, p95] with greatest/least on exact
    // decimals — corpus scanned once, all shuffles value-domain-sized,
    // one final round(6) division.
    "q_winsorized_mean" -> ((s, dir) => {
      // r18 (guide §3.3): h feeds cum, tot and the clamp join —
      // checkpoint the arm histogram once (3 events scans → 1)
      val h = t(s, dir, "events")
        .select(col("event_type").as("arm"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("arm"), col("v")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val wc = Window.partitionBy(col("arm")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h.withColumn("cum", sum(col("c")).over(wc))
      val tot = h.groupBy(col("arm")).agg(sum(col("c")).cast("long").as("n"))
      val cuts = cum.join(broadcast(tot), "arm")
        .groupBy(col("arm"), col("n"))
        .agg(min(when(col("cum") >= expr("(n + 19) div 20"), col("v")))
            .as("p5"),
          min(when(col("cum") >= expr("(19 * n + 19) div 20"), col("v")))
            .as("p95"))
      h.join(broadcast(cuts), "arm")
        .withColumn("wv", greatest(col("p5"), least(col("p95"), col("v"))))
        .groupBy(col("arm"), col("n"))
        .agg(sum(col("wv") * col("c")).as("ws"))
        .select(col("arm"), col("n"),
          round(col("ws").cast("double") / col("n").cast("double"), 6)
            .as("wmean"))
        .orderBy(col("arm"))
    }),

    // #224: Mann–Kendall trend test per series (the nonparametric
    // is-there-a-monotonic-trend companion to q_trend_fit's OLS slope
    // — robust to outliers and any monotone transform): S = Σ_{i<j}
    // sgn(x_j − x_i) over DAILY decimal sums, so the pairwise
    // self-join is day-domain² per series (≤ ~500 rows here, bounded
    // by calendar span however large the corpus) and every sgn
    // compares exact decimals. Tie-corrected variance and the
    // continuity-corrected z are the only float steps, one shared
    // tree rounded once.
    "q_mann_kendall" -> ((s, dir) => {
      // r18 (guide §3.3): d feeds both pair-join sides, nDays and the
      // tie rollup — checkpoint the arm×day series once (4 scans → 1)
      val d = t(s, dir, "events")
        .select(col("event_type").as("arm"), to_date(col("ts")).as("day"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("arm"), col("day")).agg(sum(col("v")).as("x"))
        .eagerCheckpoint()
      val pairs = d.select(col("arm"), col("day").as("d1"), col("x").as("x1"))
        .join(d.select(col("arm").as("arm2"), col("day").as("d2"),
          col("x").as("x2")),
          col("arm") === col("arm2") && col("d1") < col("d2"))
      val sStat = pairs.groupBy(col("arm"))
        .agg(sum(when(col("x2") > col("x1"), 1L)
          .when(col("x2") < col("x1"), -1L).otherwise(0L)).as("s_stat"))
      val nDays = d.groupBy(col("arm")).agg(count(lit(1)).as("n"))
      val ties = d.groupBy(col("arm"), col("x")).agg(count(lit(1)).as("t"))
        .groupBy(col("arm"))
        .agg(sum(col("t") * (col("t") - 1L) * (col("t") * 2L + 5L)).as("tie"))
      def nd(c: Column) = c.cast("double")
      val joined = sStat.join(nDays, "arm").join(ties, "arm")
        .withColumn("vars",
          (nd(col("n")) * (nd(col("n")) - lit(1.0)) *
            (nd(col("n")) * lit(2.0) + lit(5.0)) - nd(col("tie"))) / lit(18.0))
      joined.select(col("arm"), col("s_stat"), col("n"),
          round(when(col("s_stat") > 0,
              (nd(col("s_stat")) - lit(1.0)) / sqrt(col("vars")))
            .when(col("s_stat") < 0,
              (nd(col("s_stat")) + lit(1.0)) / sqrt(col("vars")))
            .otherwise(lit(0.0)), 9).as("z_stat"))
        .orderBy(col("arm"))
    }),

    // #225: Theil–Sen robust slope per series (the estimator paired
    // with row 224's Mann–Kendall test: median of all pairwise
    // slopes, 29% breakdown point vs OLS's 0): the pair table is the
    // same day-domain² join; each slope is one decimal-difference /
    // integer-day division rounded at 9 so both engines rank the same
    // doubles, ties broken on (d1, d2); the median is the rank
    // ceil(m/2) order statistic via a window over the ≤500-row pair
    // set per series — never a corpus-sized sort.
    "q_theil_sen" -> ((s, dir) => {
      // r18 (guide §3.3): d feeds both pair-join sides — checkpoint
      // the arm×day series once (the q_mann_kendall fix)
      val d = t(s, dir, "events")
        .select(col("event_type").as("arm"), to_date(col("ts")).as("day"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("arm"), col("day")).agg(sum(col("v")).as("x"))
        .eagerCheckpoint()
      val pairs = d.select(col("arm"), col("day").as("d1"), col("x").as("x1"))
        .join(d.select(col("arm").as("arm2"), col("day").as("d2"),
          col("x").as("x2")),
          col("arm") === col("arm2") && col("d1") < col("d2"))
        .withColumn("slope", round((col("x2") - col("x1")).cast("double") /
          datediff(col("d2"), col("d1")).cast("double"), 9))
      val wr = Window.partitionBy(col("arm"))
        .orderBy(col("slope"), col("d1"), col("d2"))
      val m = pairs.groupBy(col("arm")).agg(count(lit(1)).as("m"))
      pairs.withColumn("rn", row_number().over(wr))
        .join(broadcast(m), "arm")
        .filter(col("rn") === expr("(m + 1) div 2"))
        .select(col("arm"), col("m").as("n_pairs"),
          col("slope").as("sen_slope"))
        .orderBy(col("arm"))
    }),

    // #223: Kaplan–Meier time-to-event estimator with right-censoring
    // ("what fraction of users have NOT yet made a high-value
    // purchase t days after their first activity?"): the event is the
    // first purchase with value > 300; users who never convert are
    // CENSORED at the observation horizon — they contribute at-risk
    // time without an event, which is the estimator's whole point vs
    // the naive converters-only CDF. S(t) = Π_{s≤t}(1 − d_s/n_s) runs
    // as a log-space DECIMAL cumulative sum (a float cumprod would be
    // order/association-dependent); at-risk counts come from the
    // day-domain duration histogram's suffix sums — the windows ride
    // a ≤31-row domain, never users. A d=n step pins S to 0 from
    // there on (the ln(0) guard).
    "q_survival" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val horizon = ev.agg(max(unix_timestamp(col("ts"))).as("hz"))
      val users = ev.groupBy(col("user_id"))
        .agg(min(unix_timestamp(col("ts"))).as("first_s"),
          min(when(col("event_type") === "purchase" && col("value") > 300.0,
            unix_timestamp(col("ts")))).as("conv_s"))
        .crossJoin(broadcast(horizon))
        .select(expr(
            "(coalesce(conv_s, hz) - first_s) div 86400").as("dur"),
          col("conv_s").isNull.as("censored"))
      // r18 (guide §3.3): hd feeds tot and the at-risk windows —
      // checkpoint the duration histogram once (users pass runs once)
      val hd = users.groupBy(col("dur"))
        .agg(count(lit(1)).as("all_n"),
          sum(when(!col("censored"), 1L).otherwise(0L)).as("d"))
        .eagerCheckpoint()
      val tot = hd.agg(sum(col("all_n")).cast("long").as("nn"))
      val wlt = boundedGlobal("duration-day histogram, |distinct days| rows")
        .orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wc = boundedGlobal("duration-day histogram, |distinct days| rows")
        .orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val atRisk = hd.crossJoin(broadcast(tot))
        .withColumn("cumlt", coalesce(sum(col("all_n")).over(wlt), lit(0L)))
        .withColumn("n", col("nn") - col("cumlt"))
        .filter(col("d") > 0)
      val terms = atRisk
        .withColumn("lt", when(col("d") < col("n"),
          round(log(lit(1.0) - col("d").cast("double") /
            col("n").cast("double")), 9).cast("decimal(20,9)"))
          .otherwise(lit(null).cast("decimal(20,9)")))
        .withColumn("dead", max(when(col("d") === col("n"), 1L)
          .otherwise(0L)).over(wc))
        .withColumn("cum", sum(col("lt")).over(wc))
      terms.select(col("dur"), col("d"), col("n"),
          when(col("dead") === 1L, lit(0.0))
            .otherwise(round(exp(col("cum").cast("double")), 6)).as("surv"))
        .orderBy(col("dur"))
    }),

    // #222: population-stability index (PSI, the MLOps drift monitor):
    // how far has the order-value distribution drifted from the
    // 1995-97 baseline to the 1998-2001 period? Bands are the
    // BASELINE's own deciles (q_lift's histogram-cumulative banding),
    // materialized as 10 cut values; both periods then band by
    // counting cuts ≤ v against the broadcast 10-row cut table — a
    // bounded fan-out, never a corpus-sized range join. Shares are
    // exact-integer ratios; each band's (p−q)·ln(p/q) term is one
    // fixed IEEE tree over round(9) shares (zero-count bands floor at
    // 1e-6, the standard PSI guard), rounded once.
    "q_psi" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_totalprice").cast("decimal(18,2)").as("v"),
          when(year(col("o_orderdate")) <= 1997, lit("p")).otherwise(lit("q"))
            .as("per"))
      // r18 (guide §3.3): baseH feeds nb and the distributed prefix
      // sum — checkpoint the baseline histogram once (3 scans → 2)
      val baseH = o.filter(col("per") === "p")
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .withColumn("g", lit(1))
        .eagerCheckpoint()
      val nb = baseH.agg(sum(col("c")).cast("long").as("nbase"))
      // strictly-below cumulative from the DISTRIBUTED prefix sum
      // (GroupRank's range-repartition + offset stamp) — the baseline
      // histogram is row-bounded, not domain-bounded, so a single
      // unpartitioned window here would be the 100 TB regression
      val cuts = graft.operators.GroupRank.prefixSum(
          baseH, Seq("g"), Seq("v"), Some("c"), "cumlt")
        .crossJoin(broadcast(nb))
        .withColumn("band",
          least(lit(9L), floor(col("cumlt") * lit(10) / col("nbase"))))
        .groupBy(col("band")).agg(min(col("v")).as("cut"))
      val perH = o.groupBy(col("per"), col("v")).agg(count(lit(1)).as("c"))
      val banded = perH
        .join(broadcast(cuts), col("cut") <= col("v"), "left")
        .groupBy(col("per"), col("v"), col("c"))
        .agg(count(col("cut")).as("ncuts"))
        .withColumn("band", greatest(lit(0L), col("ncuts") - 1L))
        .groupBy(col("band"))
        .agg(sum(when(col("per") === "p", col("c")).otherwise(0L)).as("cp"),
          sum(when(col("per") === "q", col("c")).otherwise(0L)).as("cq"))
      val tots = o.groupBy().agg(
        sum(when(col("per") === "p", 1L).otherwise(0L)).as("np"),
        sum(when(col("per") === "q", 1L).otherwise(0L)).as("nq"))
      val shares = banded.crossJoin(broadcast(tots))
        .withColumn("ps", greatest(round(col("cp").cast("double") /
          col("np").cast("double"), 9), lit(1e-6)))
        .withColumn("qs", greatest(round(col("cq").cast("double") /
          col("nq").cast("double"), 9), lit(1e-6)))
      shares.select(col("band"), col("cp"), col("cq"),
          round((col("ps") - col("qs")) * log(col("ps") / col("qs")), 9)
            .as("psi_term"))
        .orderBy(col("band"))
    }),

    // #221: RFM customer segmentation (recency / frequency / monetary
    // quintile codes, the classic CRM segmentation): all three
    // quintiles come from ONE GroupRank.ntileMany pass — the r/f/m
    // dimensions are stacked as (dim, value, custkey) rows and ranked
    // by a single range-repartition (each dim its own contiguous key
    // range), then pivoted back: one Exchange of 3n rows where the
    // previous chain of three ntile calls paid three (r7 verdict
    // item 8; the pattern generalizes to any multi-dimension quantile
    // segmentation). Spark's exact ntile semantics, no single-task
    // global sort. Ties break on custkey so tiles are
    // engine-identical; recency is the integer epoch-day of the last
    // order. Output: the populated RFM cells with customer counts —
    // the segmentation report a CRM publishes.
    "q_rfm" -> ((s, dir) => {
      // r18 (guide §3.3): ntileMany melts its input once per dimension
      // (3 here) — checkpoint the customer rollup so the orders scan
      // runs once
      val base = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(unix_date(to_date(col("o_orderdate")))).as("last_day"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
        .eagerCheckpoint()
      val tiles = graft.operators.GroupRank.ntileMany(base, Seq("o_custkey"),
        Seq("last_day" -> "r", "freq" -> "f", "spend" -> "m"), 5)
      tiles.groupBy((col("r") * 100 + col("f") * 10 + col("m")).as("rfm"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("rfm"))
    }),

    // #219: day-of-week seasonality index per event series (the
    // classical decomposition's seasonal factor): idx(dow) =
    // mean(dow) / mean(overall), computed as the cross-multiplied
    // (sd·tn)/(nd·ts) over exact decimal sums so the only float step
    // is one shared 4-op IEEE tree rounded once. Day-of-week from the
    // epoch-day arithmetic (d+4) mod 7 (Sunday=0) — locale-free and
    // engine-identical, where each engine's dayofweek() disagrees on
    // origin. One hash-agg over events; 35-row output.
    "q_seasonal_index" -> ((s, dir) => {
      val base = t(s, dir, "events")
        .select(col("event_type").as("arm"),
          ((unix_date(to_date(col("ts"))) + lit(4)) % lit(7)).as("dow"),
          col("value").cast("decimal(18,2)").as("v"))
      val byDow = base.groupBy(col("arm"), col("dow"))
        .agg(count(lit(1)).as("nd"), sum(col("v")).as("sd"))
      val byArm = base.groupBy(col("arm"))
        .agg(count(lit(1)).as("tn"), sum(col("v")).as("ts"))
      byDow.join(broadcast(byArm), "arm")
        .select(col("arm"), col("dow"), col("nd").as("n"),
          round((col("sd").cast("double") * col("tn").cast("double")) /
            (col("nd").cast("double") * col("ts").cast("double")), 9)
            .as("idx"))
        .orderBy(col("arm"), col("dow"))
    }),

    // #217: revenue-concentration deciles (the Lorenz-curve TABLE
    // beside q_gini's scalar): customers ranked by exact-decimal
    // spend through GroupRank.rowNumber (distributed two-pass rank —
    // no single-task global sort), banded by integer floor(10(r−1)/N),
    // then per-band spend shares and the cumulative curve from exact
    // decimal sums — the only doubles are the two final round(9)
    // divisions, identical IEEE trees in both engines.
    "q_lorenz" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
        .withColumn("g", lit(1))
      val ranked = graft.operators.GroupRank.rowNumber(
        spend, Seq("g"), Seq("spend", "o_custkey"), "rnk")
      val tot = spend.agg(count(lit(1)).cast("long").as("nn"),
        sum(col("spend")).as("ts"))
      val bands = ranked.crossJoin(broadcast(tot))
        .withColumn("band", expr("(10 * (rnk - 1)) div nn"))
        .groupBy(col("band"), col("ts"))
        .agg(count(lit(1)).as("n_cust"), sum(col("spend")).as("bs"))
      val wc = boundedGlobal("10-row decile-band table")
        .orderBy(col("band"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bands.withColumn("cs", sum(col("bs")).over(wc))
        .select(col("band"), col("n_cust"),
          round(col("bs").cast("double") / col("ts").cast("double"), 9)
            .as("share"),
          round(col("cs").cast("double") / col("ts").cast("double"), 9)
            .as("cum_share"))
        .orderBy(col("band"))
    }),

    // #216: linear multi-touch attribution (each purchase splits one
    // unit of credit equally over ALL its click/view touches in
    // (ts−7d, ts]) — the per-conversion touch COUNT needs the window's
    // two endpoints, so beside each conversion row a PROBE row at
    // ts−7d rides the same (user → ts, kind, id) exchange; per-channel
    // running touch counts are window sums, and the in-window count is
    // the difference of the two carried snapshots. Nothing user²-sized
    // forms. Fractional credits are round(9) doubles SUMMED IN DECIMAL
    // (the q_js_div order-free pattern), so the rollup is
    // order-independent; the oracle runs the literal interval join +
    // per-conversion count, proving the probe rewrite.
    "q_attribution_linear" -> ((s, dir) =>
      graft.operators.Attribution.linear(t(s, dir, "events"),
        "click", "view", "purchase", lookbackDays = 7)),

    // #213: last-touch conversion attribution with a 7-day lookback
    // (the ad-tech staple): each purchase credits the user's latest
    // click/view in (ts−7d, ts]. The inequality join the problem
    // states is rewritten as ONE (user → ts) exchange: touches and
    // conversions union-tagged, a running last-non-null touch struct
    // carried forward (touches sort before same-ts conversions), and
    // the lookback bound checked on the carried value — the AsOfJoin
    // union trick, so nothing user²-sized ever forms. Ties at the
    // same ts break on event_id, deterministically. The oracle runs
    // the LITERAL interval join + rank, proving the rewrite. Output:
    // per-channel attributed conversions + decimal-exact value
    // ('(none)' = no touch in window).
    "q_attribution" -> ((s, dir) =>
      graft.operators.Attribution.lastTouch(t(s, dir, "events"),
        Seq("click", "view"), "purchase", lookbackDays = 7)),

    // #212: linear-interpolation resample (the analytic fill beside
    // q_gapfill's forward fill — sensor/metric series where a gap
    // means "the value moved linearly", not "held"): per-user daily
    // grid (span-bounded sequence explode, never a cross join), then
    // ONE exchange on user_id carries both bracketing windows —
    // last-non-null (prev day+value) backward and first-non-null
    // (next day+value) forward. Endpoint values are INTEGER CENTS, so
    // (vn−vp)·(d−dp) is exact in both engines and the interpolation
    // is a fixed 4-op IEEE tree rounded once at 9 dp; observed days
    // short-circuit to their own value (dp = dn guard).
    "q_interpolate" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id") < 30)
        .select(col("user_id"), unix_date(col("ts").cast("date")).as("day"),
          col("ts"), col("event_id"), col("value"))
      val daily = e.groupBy(col("user_id"), col("day"))
        .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("v"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val wb = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val j = grid.join(daily, Seq("user_id", "day"), "left")
        .withColumn("vc",
          (col("v").cast("decimal(18,2)") * lit(100)).cast("long"))
        .withColumn("dp", last(when(col("vc").isNotNull, col("day")),
          ignoreNulls = true).over(wb))
        .withColumn("vp", last(col("vc"), ignoreNulls = true).over(wb))
        .withColumn("dn", first(when(col("vc").isNotNull, col("day")),
          ignoreNulls = true).over(wf))
        .withColumn("vn", first(col("vc"), ignoreNulls = true).over(wf))
      def nd(c: Column) = c.cast("double")
      j.select(col("user_id"), col("day"),
        round(when(col("dn") === col("dp"), nd(col("vp")) / lit(100.0))
          .otherwise((nd(col("vp")) +
            nd(col("vn") - col("vp")) * nd(col("day") - col("dp")) /
              nd(col("dn") - col("dp"))) / lit(100.0)), 9).as("value"))
    }),

    // #146: triangle counting on the token co-occurrence graph (the
    // clustering-coefficient numerator, the classic graph-analytics
    // benchmark beside PageRank). Edges canonicalized u < v, so each
    // triangle a<b<c is found exactly once by the two-hop join
    // (a,b)⋈(b,c) closed by (a,c) — no post-dedup shuffle. At scale the
    // standard degree-ordering refinement bounds the join fan-out
    // (orient each edge from lower- to higher-degree endpoint).
    "q_triangles" -> ((s, dir) => {
      val tk = tp(s, dir, "documents").filter(col("doc_id") < 50)
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      val e = tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(least(a, b).as("u"), greatest(a, b).as("v")))).as("p"))
        .select(col("p.u"), col("p.v")).filter(col("u") =!= col("v"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
        .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
        .join(e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // #147: edit-distance similarity join via the SymSpell deletion
    // neighborhood — EXACT for k=1: any pair within one edit shares a
    // key in {self} ∪ {1-deletion variants} (substitution: delete the
    // differing position from both; indel: the shorter string IS a
    // variant of the longer), so candidates come from an equi-join on
    // vocabulary-sized key tables — never all-pairs — and levenshtein
    // verifies. The quadratic ground truth runs only in the oracle.
    "q_edjoin" -> ((s, dir) => {
      val v = t(s, dir, "customer").filter(col("c_custkey") < 500)
        .select(col("c_name").as("w"))
      val keys = v.selectExpr("w",
        """explode(array_union(array(w),
          |  array_distinct(transform(sequence(1, length(w)),
          |    i -> concat(substring(w, 1, i - 1),
          |                substring(w, i + 1, length(w))))))) AS key""".stripMargin)
      val cand = keys.as("a").join(keys.as("b"),
          col("a.key") === col("b.key") && col("a.w") < col("b.w"))
        .select(col("a.w").as("w1"), col("b.w").as("w2")).distinct()
      cand.filter(levenshtein(col("w1"), col("w2")) <= 1)
        .select(col("w1"), col("w2"),
          levenshtein(col("w1"), col("w2")).as("dist"))
    }),

    // #148: chi-square contingency cells (event_type × user bucket —
    // the drift / independence diagnostic): observed counts are
    // integers, marginals come from window sums over the CELL table
    // (cells-sized, never a corpus re-scan), and only the final
    // expected/contrib expressions touch doubles (shared text, round 9)
    "q_chi2" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      BoundedWindow.ensureRuleExcluded() // the SQL spells its bounded window inline
      s.sql(Chi2Query)
    }),

    // #284: Cramér's V — the [0,1] effect-size summary of the q_chi2
    // contingency table (χ² scales with n; V answers "how strong is
    // the association" at any corpus size). Shared-verbatim SQL on
    // both engines, the q_chi2/q_pareto/q_gini convention.
    "q_cramers_v" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      BoundedWindow.ensureRuleExcluded() // the SQL spells its bounded window inline
      s.sql(CramersVQuery)
    }),

    // #149: snapshot diff / data reconciliation — classify keys across
    // two table versions (added / removed / changed / unchanged) by
    // comparing per-row content hashes under a full-outer join on the
    // key; the shuffle carries (key, md5) only, never payloads. The
    // "new" snapshot here is derived: late orders arrive (added), some
    // finalized orders are purged (removed), some priorities are
    // corrected (changed).
    "q_snapshot_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cut = lit("1998-01-01").cast("timestamp")
      val v1 = o.filter(col("o_orderdate") < cut)
        .select(col("o_orderkey").as("key"),
          md5(concat_ws("|", col("o_orderstatus"), col("o_orderpriority")))
            .as("h1"))
      val v2 = o
        .filter(!(col("o_orderstatus") === "F" && col("o_orderkey") % 13 === 0))
        .select(col("o_orderkey").as("key2"),
          md5(concat_ws("|", col("o_orderstatus"),
            when(col("o_orderkey") % 97 === 0, lit("CORRECTED"))
              .otherwise(col("o_orderpriority")))).as("h2"))
      v1.join(v2, col("key") === col("key2"), "full_outer")
        .select(when(col("key").isNull, "added")
          .when(col("key2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("class"))
        .groupBy(col("class")).agg(count(lit(1)).as("n"))
    }),

    // #150: GROUPED frequent-items via the native Misra–Gries aggregate
    // (§2.5 row 51d with grouping keys): one sketch per group, merged
    // map-side like any partial aggregate — the per-source heavy-hitter
    // profile at a fixed 64-counter budget per group regardless of
    // corpus size. Exact (lb = true count) while per-group cardinality
    // ≤ counters, which the corpus vocabulary satisfies — so the oracle
    // is the plain group count; the approximation regime is pinned by
    // FreqItemsSpec.
    "q_freq_grouped" -> ((s, dir) =>
      tp(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .groupBy(col("source"))
        .agg(graft.functions.FreqItems.freqItems(col("tok"), 64).as("fi"))
        .select(col("source"), explode(col("fi")).as("e"))
        .select(col("source"), col("e.item").as("item"),
          col("e.lb").as("cnt"))),

    // #155: longest consecutive-day streak per user — gaps-and-islands:
    // distinct user-days first (the shuffle is user-day-sized, never
    // event-sized), then day − row_number() labels each run of
    // consecutive days with a constant, the island rollup is integer
    // counts, and the per-user pick is a deterministic ranked window
    // over the island table. Everything integer-exact.
    "q_streaks" -> ((s, dir) => {
      val days = t(s, dir, "events").filter(col("user_id") < 200)
        .select(col("user_id"),
          unix_date(col("ts").cast("date")).cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val islands = days
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("longest"), min(col("day")).as("start_day"))
      val pick = Window.partitionBy(col("user_id"))
        .orderBy(col("longest").desc, col("start_day"))
      islands
        .withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
        .select(col("user_id"), col("longest"), col("start_day"))
    }),

    // #156: lag-1 autocorrelation per series — the time-series
    // persistence diagnostic. Keyed per USER (thousands of series), not
    // per event_type (6 values): the window partition key is the shape
    // the scale claim needs — at 100 TB a 6-value partition key funnels
    // 1/6 of the table through one task's sort, while user_id spreads
    // the same sort across the cluster. One window pass pairs each
    // value with its predecessor in (ts, event_id) order, then the
    // Pearson moments accumulate in exact decimal (order-independent,
    // q_stats_agg rule) and only the final rho expression touches
    // doubles (round 9). Degenerate series are excluded by INTEGER
    // tests (pair count ≥ 10, ≥ 2 distinct values on both sides) so
    // the surviving-row set — the hash-sensitive part — never rides a
    // float boundary and the variance product is genuinely positive.
    "q_autocorr" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val p = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").cast("decimal(18,6)").as("x"))
        .withColumn("xl", lag(col("x"), 1).over(w))
        .filter(col("xl").isNotNull)
      val g = p.groupBy(col("user_id")).agg(
        count(lit(1)).as("n"),
        countDistinct(col("x")).as("dx"),
        countDistinct(col("xl")).as("dxl"),
        sum(col("x").cast("decimal(28,6)")).cast("double").as("sx"),
        sum(col("xl").cast("decimal(28,6)")).cast("double").as("sy"),
        sum((col("x") * col("xl")).cast("decimal(38,12)")).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double").as("sx2"),
        sum((col("xl") * col("xl")).cast("decimal(38,12)")).cast("double").as("sy2"))
      g.filter(col("n") >= 10 && col("dx") >= 2 && col("dxl") >= 2)
        .withColumn("nd", col("n").cast("double"))
        .select(col("user_id"),
          round((col("nd") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("nd") * col("sx2") - col("sx") * col("sx")) *
              (col("nd") * col("sy2") - col("sy") * col("sy"))), 9)
            .as("autocorr_1"))
    }),

    // #157: period-over-period change (the BI month-over-month shape):
    // monthly revenue from exact decimal sums — month keyed as
    // year*100+month so the series is one integer column — then lag()
    // over the month table (months-sized, trivially small after the
    // rollup) and one shared double pct expression, round(9).
    "q_mom_change" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"))
        .agg(dsum(col("o_totalprice")).as("rev"))
      val w = boundedGlobal("month table, one row per year-month")
        .orderBy(col("ym"))
      m.withColumn("prev", lag(col("rev"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("ym"), col("rev"),
          round((col("rev") - col("prev")) / col("prev") * 100.0, 9)
            .as("mom_pct"))
    }),

    // #158: exponential time-decay trending score — the reference's
    // top-10 shape with recency weighting (trending topics): per-item
    // decayed count Σ 2^(−age_days). The decay base is 2 and ages are
    // integers, so weights are SCALED TO INTEGERS (2^(30−age)) and the
    // per-item sum is an exact long — the double score is one exact
    // division by 2^30 at the end, bit-identical on any engine and
    // independent of summation order. One scan + one item-keyed agg;
    // the max-day scalar broadcasts.
    "q_trending" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("item"),
          unix_date(col("ts").cast("date")).cast("long").as("day"))
      val maxDay = e.agg(max(col("day")).as("max_day"))
      // events older than 30 days weigh 0 — WITHOUT the clamp the shift
      // amount goes negative and the JVM masks it mod 64 (age 31 →
      // 1L<<63), so stale items would dominate with garbage weights
      e.crossJoin(broadcast(maxDay))
        .select(col("item"),
          expr("CASE WHEN max_day - day <= 30 " +
            "THEN shiftleft(1L, CAST(30 - (max_day - day) AS INT)) " +
            "ELSE 0L END").as("w"))
        .groupBy(col("item"))
        .agg(sum(col("w")).as("ws"))
        .select(col("item"),
          (col("ws").cast("double") / lit((1L << 30).toDouble)).as("score"))
        .orderBy(col("score").desc, col("item")).limit(20)
    }),

    // #159: rolling 7-day median of daily revenue — windowed exact
    // percentile: the frame's values sort per row (7 elements), the
    // median is the 4th — deterministic, and exact because daily
    // revenue is already a 2-decimal-exact double. The window runs on
    // the DAY table (the rollup shrinks the corpus to one row per day
    // before any sort); only full frames emit. At 100 TB the rollup is
    // the only corpus-sized stage — same plan.
    "q_rolling_median" -> ((s, dir) => {
      val d = t(s, dir, "orders")
        .groupBy(unix_date(col("o_orderdate").cast("date")).cast("long").as("day"))
        .agg(dsum(col("o_totalprice")).as("rev"))
      val w = boundedGlobal("day table, one row per day")
        .orderBy(col("day"))
      d.withColumn("rn", row_number().over(w))
        .withColumn("med", element_at(
          array_sort(collect_list(col("rev")).over(w.rowsBetween(-6, 0))), 4))
        .filter(col("rn") >= 7)
        .select(col("day"), col("rev"), col("med"))
    }),

    // #160: Pareto frontier (skyline) per group — shared ANSI text: in
    // (price asc, qty desc, unique keys) order a row survives iff its
    // qty beats the running max over all prior rows, which is exactly
    // the non-dominated set under (lower price, higher qty) weak
    // dominance with keep-first on duplicate points. One window pass
    // per group; a GLOBAL frontier runs the same plan after a range
    // repartition on price (per-partition frontier + merge of the
    // partition maxima).
    "q_pareto" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(ParetoQuery)
    }),

    // #161: market-basket pair analysis — co-ordered part pairs with
    // support and lift. ONE wide shuffle: orders collapse to sorted
    // part-set baskets (collect_set dedups multi-line parts), pairs
    // explode IN-ROW from each basket (bounded by basket², never
    // corpus², and never a self-join — the equivalent li⋈li plan pays
    // two more corpus-sized exchanges), then only the pair counts
    // shuffle. Lift is a ratio of exact integer products. Top-30
    // through per-partition heaps.
    "q_basket_pairs" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .groupBy(col("okey"))
        .agg(sort_array(collect_set(col("part"))).as("ps"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
      val itemCnt = baskets.select(explode(col("ps")).as("part"))
        .groupBy(col("part")).agg(count(lit(1)).as("cnt"))
      val pairs = baskets
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + lit(2), size(col("ps"))),
            y => struct(x.as("i"), y.as("j")))))).as("p"))
        .groupBy(col("p.i").as("i"), col("p.j").as("j"))
        .agg(count(lit(1)).as("support"))
      pairs
        .join(itemCnt.select(col("part").as("i"), col("cnt").as("ci")), "i")
        .join(itemCnt.select(col("part").as("j"), col("cnt").as("cj")), "j")
        .crossJoin(broadcast(nOrders))
        .select(col("i"), col("j"), col("support"),
          ((col("support") * col("n_orders")).cast("double") /
            (col("ci") * col("cj")).cast("double")).as("lift"))
        .orderBy(col("support").desc, col("i"), col("j")).limit(30)
    }),

    // #162: event-type transition matrix (first-order Markov counts):
    // lag() pairs each event with its predecessor per user — one
    // user-keyed window pass — then the (from, to) rollup is
    // matrix-sized. The row-stochastic probability is an integer ratio
    // (pair count / from-row total via a window sum over the matrix).
    "q_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val m = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      m.withColumn("p",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"))
    }),

    // #166: TPC-H Q6 shape (forecast revenue change) — the pure
    // scan-agg: every predicate pushes to the parquet scan, revenue is
    // one exact decimal sum, zero joins, one exchange (partial → final)
    "q_tpch_q6" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum((col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")).cast("decimal(28,4)")), 2)
          .cast("double").as("revenue"))),

    // #167: TPC-H Q10 shape (returned-item reporting): lost revenue per
    // customer for one quarter — facts shuffle on their join keys,
    // customer/nation broadcast, top-20 through heaps
    "q_tpch_q10" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    }),

    // #168: TPC-H Q14 shape (promotion effect): promo share of one
    // month's revenue — part broadcasts into the fact scan, both sums
    // accumulate decimal-exact in ONE agg pass, the percentage is a
    // single shared double expression (round 9)
    "q_tpch_q14" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(28,4)")))
            .cast("double").as("promo"),
          sum(rev).cast("double").as("total"))
        .select(round(lit(100.0) * col("promo") / col("total"), 9)
          .as("promo_pct"))
    }),

    // #169: TPC-H Q8 shape (national market share): one nation's share
    // of yearly PROMO revenue inside one region — five broadcast dims
    // around two shuffled facts; shares are decimal-sum ratios, one
    // shared double division per year (round 9)
    "q_tpch_q8" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))
      val p = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val vol = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_2", vol)
            .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(28,4)")))
            .cast("double").as("nat"),
          sum(vol).cast("double").as("tot"))
        .select(col("o_year"), round(col("nat") / col("tot"), 9).as("mkt_share"))
    }),

    // #175: incremental cross-batch near-dup dedup as an oracle query
    // (§2.6 row 68 upgraded from spec-only): the incoming half of the
    // corpus is LSH-checked against the already-ingested half AND
    // itself — never existing×existing — with the redundant doc always
    // on j; the oracle is the all-pairs exact-Jaccard ground truth
    // restricted the same way (the banding miss-probability argument of
    // q_dedup_minhash applies unchanged).
    "q_dedup_incremental" -> ((s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.incrementalNearDups(
          d.filter(col("doc_id") < 250), d.filter(col("doc_id") >= 250),
          "doc_id", "text", theta = 0.8)
        .select(col("i"), col("j"), col("jac"))
    }),

    // #174: exact DISCRETE percentiles (quantile_disc semantics: the
    // smallest actual value whose cumulative count reaches p·n) WITHOUT
    // a per-group collect: the cumulative runs on the per-group VALUE
    // HISTOGRAM (bounded-domain l_quantity ⇒ ~50 rows per group), so
    // the corpus only shuffles into the histogram rollup — the
    // q_len_deciles cutpoint idea applied to grouped quantiles. All
    // integer comparisons; the interpolating variant is q_percentile.
    "q_percentile_disc" -> ((s, dir) => {
      val hist = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("tot", sum(col("c")).over(Window.partitionBy(col("l_returnflag"))))
      def cut(p: Int): Column = // smallest value with 100·cum >= p·tot
        min(when(col("cum") * 100 >= col("tot") * p, col("l_quantity")))
      cum.groupBy(col("l_returnflag"))
        .agg(cut(25).as("p25"), cut(50).as("p50"), cut(75).as("p75"))
    }),

    // #287: unbiased pass@k per task (Chen et al. 2021, eq. 1 — THE
    // LLM code/eval success metric: from n samples with c successes,
    // the probability at least one of k drawn samples succeeds,
    // 1 − C(n−c,k)/C(n,k), computed as the telescoped product
    // Π_{i<k} (n−c−i)/(n−i) — never a factorial overflow). Events
    // play (task = user, success = value > 80); k = 10. Branches are
    // explicit: n < k emits NULL (the estimator is undefined, Chen et
    // al. require n ≥ k), n − c < k emits exactly 1.0 (C(n−c,k) = 0).
    // Ten pure double factors left-folded — the identical IEEE tree
    // in SQL — round(9). One hash agg; output task-sized.
    "q_pass_at_k" -> ((s, dir) => {
      val k = 10
      val base = t(s, dir, "events").filter(col("user_id") < 200)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 80.0, 1L).otherwise(0L)).as("c"))
      def nd(c: Column) = c.cast("double")
      val prod = (0 until k).map(i =>
        (nd(col("n") - col("c")) - lit(i.toDouble)) /
          (nd(col("n")) - lit(i.toDouble))).reduce(_ * _)
      base.select(col("user_id"), col("n"), col("c"),
        when(col("n") < k, lit(null).cast("double"))
          .when(col("n") - col("c") < k, lit(1.0))
          .otherwise(round(lit(1.0) - prod, 9)).as("pass_at_k"))
    }),

    // #286: split-conformal quantile per event_type (Vovk et al.;
    // Lei et al. 2018) — the distribution-free prediction-interval
    // primitive: q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration score
    // at α = 0.1, an EXACT order statistic read off the value
    // histogram's cumulative counts. The rank test cum ≥ ⌈9(n+1)/10⌉
    // is equivalent to the all-integer 10·cum ≥ 9·(n+1) (cum integer),
    // so no float touches the selection; groups with n < 9 emit a NULL
    // q̂ — the honest "interval is (−∞, ∞)" answer, not a silent drop.
    "q_conformal" -> ((s, dir) => {
      val hist = t(s, dir, "events")
        .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("c")).over(w))
        .withColumn("tot",
          sum(col("c")).over(Window.partitionBy(col("event_type"))))
      cum.groupBy(col("event_type"))
        .agg(max(col("tot")).as("n"),
          min(when(col("cum") * 10 >= (col("tot") + 1) * 9, col("value")))
            .as("qhat"))
        .select(col("event_type"), col("n"),
          floor(((col("n") + 1) * 9 + 9) / lit(10)).cast("bigint").as("k"),
          col("qhat"))
    }),

    // #172: lag-feature generation (feature-store shape): per-key
    // lag-1/2/3 values and the trailing-3 mean in ONE window pass over
    // one (user, time) shuffle — the offline half of a point-in-time
    // feature pipeline. The mean stays decimal-exact (sum of 3 cast
    // values / 3 in decimal, round 9 on the way out).
    "q_lag_features" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val d = col("value").cast("decimal(18,6)")
      t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("lag1", lag(d, 1).over(w))
        .withColumn("lag2", lag(d, 2).over(w))
        .withColumn("lag3", lag(d, 3).over(w))
        .filter(col("lag3").isNotNull)
        .select(col("user_id"), col("event_id"),
          col("lag1").cast("double").as("lag1"),
          col("lag2").cast("double").as("lag2"),
          col("lag3").cast("double").as("lag3"),
          // sum in decimal (exact), divide in double (shared IEEE tree)
          // — decimal DIVISION scale rules differ across engines
          round((col("lag1") + col("lag2") + col("lag3")).cast("double") /
            lit(3.0), 9).as("mean3"))
    }),

    // #173: future-window label generation — for each event, did the
    // user convert (purchase) within the next 24 hours? A RANGE frame
    // over epoch seconds looking FORWARD — the leakage-safe training
    // label primitive (strictly after the example's own timestamp, so
    // the feature row never sees itself). Same single (user, time)
    // shuffle as the lag features it pairs with.
    "q_labels" -> ((s, dir) => {
      val sec = unix_timestamp(col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(sec)
        .rangeBetween(1, 86400)
      t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("label", coalesce(
          max(when(col("event_type") === "purchase", 1).otherwise(0)).over(w),
          lit(0)))
        .select(col("user_id"), col("event_id"), col("label"))
    }),

    // #171: cohort LTV matrix — cumulative revenue per signup cohort by
    // age (the q_retention complement with money): first-order month
    // per customer (one customer-keyed agg), revenue per (cohort, age)
    // in exact decimal, then the cumulative runs over the MATRIX
    // (months² rows), never the fact table
    "q_cohort_ltv" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("unix_date(CAST(o_orderdate AS DATE)) div 30").as("mo"),
          col("o_totalprice"))
      val cohort = o.groupBy(col("o_custkey")).agg(min(col("mo")).as("mo0"))
      val cell = o.join(cohort, "o_custkey")
        .groupBy(col("mo0").as("cohort_month"), (col("mo") - col("mo0")).as("age"))
        .agg(dsum(col("o_totalprice")).as("rev"))
      val w = Window.partitionBy(col("cohort_month")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cell.withColumn("cum_rev",
        round(sum(col("rev").cast("decimal(18,2)")).over(w), 2).cast("double"))
    }),

    // #170: TPC-H Q18 shape (large-volume customers): the HAVING-on-
    // aggregate semi-join — the per-order quantity rollup (map-side
    // partial before its exchange) filters to the rare big orders,
    // which then join back as the BROADCAST side against orders and
    // customer; top-20 through heaps
    "q_tpch_q18" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity").cast("decimal(18,2)")), 2)
          .cast("double").as("sum_qty"))
        .filter(col("sum_qty") > 300)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      o.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
    }),

    // #184: TPC-H Q4 shape (order priority checking; adapted: the
    // testdata carries no commit/receipt dates, so "late" =
    // shipped-after-order-date). EXISTS compiles to a LEFT SEMI join
    // whose non-equi lateness condition rides the o_orderkey equi-key:
    // the probe never materializes multi-matches and only the
    // quarter's orders shuffle; the rollup is a 5-group agg.
    "q_tpch_q4" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // #185: TPC-H Q7 shape (volume shipping between two nations): the
    // nation-pair predicate is pre-joined into each dim (supplier and
    // customer carry their nation NAME before touching a fact), so the
    // two broadcast hash joins drop every non-qualifying fact row at
    // probe time; only lineitem⋈orders shuffles, on l_orderkey.
    "q_tpch_q7" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val sn = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cn = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("cust_nation"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // #186: TPC-H Q12 shape (shipping-mode priority split; adapted:
    // no l_shipmode column, so the split keys on l_returnflag and
    // "late" = shipped-after-order-date). One fact⋈fact equi-join on
    // orderkey with the lateness condition attached, then a 3-group
    // conditional aggregation — the CASE arms are codegen'd count_ifs,
    // no second pass.
    "q_tpch_q12" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"))
        .groupBy(col("l_returnflag"))
        .agg(count_if(high).as("high_line_count"),
          count_if(!high).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    // #187: TPC-H Q13 shape (customer order-count distribution): LEFT
    // join keeps the zero-order customers (the point of Q13), the
    // order-side predicate rides the join condition so it never turns
    // the left join inner, and the double rollup shuffles once on
    // custkey and once on the ~20-value count domain.
    "q_tpch_q13" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"))
      c.join(o, col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "5-LOW", "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // #188: TPC-H Q15 shape (top supplier): the quarter's per-supplier
    // revenue rolls up once (map-side partials before the suppkey
    // exchange); the scalar max broadcasts back over the one-row cross
    // join, and equality on it is exact because both sides derive the
    // identical decimal-sum→round→double value. No window, no second
    // scan of lineitem.
    "q_tpch_q15" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(revenue(col("l_extendedprice"), col("l_discount"))
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      val su = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // #189: TPC-H Q17 shape (small-quantity-order revenue): the
    // correlated per-part AVG subquery becomes one aggregate over the
    // brand's lineitems (semi-joined first, so the avg pass scans only
    // the brand's rows) broadcast back onto the same rows. The mean is
    // decimal-sum→double÷count and the final ÷7.0 is a single IEEE op
    // shared verbatim with the oracle — bit-identical, no rounding.
    "q_tpch_q17" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_brand") === "Brand#3")
        .select(col("p_partkey"))
      val l = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val brand = l.join(broadcast(p), col("l_partkey") === col("p_partkey"),
        "left_semi")
      val avgq = brand.groupBy(col("l_partkey").as("ap"))
        .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_qty"))
      brand.join(broadcast(avgq), col("l_partkey") === col("ap"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
          lit(7.0)).as("avg_yearly"))
    }),

    // #190: TPC-H Q19 shape (disjunctive predicate join): the brand
    // disjunction's common p_partkey equi-key carries the broadcast
    // hash join; the part side is pre-filtered to the three brands (the
    // only pushdown valid for an OR-of-ANDs spanning both sides), and
    // the full disjunction evaluates post-probe inside codegen.
    "q_tpch_q19" -> ((s, dir) => {
      def arm(b: String, smax: Int, qlo: Int, qhi: Int) =
        col("p_brand") === b && col("p_size").between(1, smax) &&
          col("l_quantity").between(qlo, qhi)
      val p = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(arm("Brand#12", 15, 1, 11) || arm("Brand#23", 25, 10, 20) ||
          arm("Brand#34", 35, 20, 30))
        .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
    }),

    // #191: TPC-H Q21 shape (suppliers who kept orders waiting;
    // adapted lateness = shipped >90 days after order date). The
    // EXISTS / NOT-EXISTS pair over same-order other-supplier lines is
    // reformulated as one per-order aggregate — n_supp distinct
    // suppliers, n_late distinct LATE suppliers — joined back on the
    // orderkey the rows already shuffle on: exists(other supplier) ⇔
    // n_supp ≥ 2, not-exists(other LATE supplier) ⇔ n_late = 1. Two
    // orderkey exchanges replace the classic double self-join of
    // lineitem; the oracle runs the literal EXISTS form to prove the
    // rewrite. Supplier names and the nation filter ride a broadcast.
    "q_tpch_q21" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val f = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("late"))
      val perO = f.groupBy(col("l_orderkey").as("ok"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"))
      val su = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin("NATION_1", "NATION_3", "NATION_5",
            "NATION_7", "NATION_9", "NATION_11", "NATION_13", "NATION_15"))
          .select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      f.filter(col("late"))
        .join(perO, col("l_orderkey") === col("ok"))
        .filter(col("n_supp") >= 2 && col("n_late") === 1)
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    }),

    // #192: TPC-H Q22 shape (global sales opportunity; adapted:
    // cntrycode = custkey mod 7 — the schema has no phone column — and
    // "no orders" = no orders since 1999). Scalar AVG broadcasts over
    // a one-row cross join; the dormancy check is a LEFT ANTI join
    // against the recent-orders keys, pruned by the date filter before
    // its exchange; the mean shares the decimal-sum÷count tree with
    // the oracle, the total is decimal-rounded.
    "q_tpch_q22" -> ((s, dir) => {
      val cc = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"),
          (col("c_custkey") % 7).as("cntrycode"))
        .filter(col("cntrycode").isin(0, 1, 2, 3, 4))
      val ab = cc.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avgbal"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cc.crossJoin(broadcast(ab))
        .filter(col("c_acctbal") > col("avgbal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("cntrycode"))
    }),

    // #30ai: TPC-H Q2 shape (min-cost supplier, reference Q2 adapted:
    // schema has no p_mfgr/s_address — p_brand stands in; the region
    // is a broadcast chain region→nation→supplier into the derived
    // partsupp). The correlated MIN subquery is the window-free
    // min-join: per-part minima aggregate once, join back on
    // (partkey, exact-double cost equality — supplycost is integer
    // cents / 100.0, ONE IEEE division, identical on any engine). At
    // 100 TB partsupp shuffles on ps_partkey for both the agg and the
    // join-back (one exchange, reused); dims broadcast.
    "q_tpch_q2" -> ((s, dir) => {
      val reg = t(s, dir, "region").filter(col("r_name") === "EUROPE")
        .select(col("r_regionkey"))
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("s_nationkey"))
      val eps = Tables.partsupp(s, dir)
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select(col("ps_partkey"), col("ps_supplycost"),
          col("s_acctbal"), col("s_name"), col("n_name"))
      val minc = eps.groupBy(col("ps_partkey").as("mk"))
        .agg(min(col("ps_supplycost")).as("min_cost"))
      val p = t(s, dir, "part").filter(col("p_size") === 15)
        .select(col("p_partkey"), col("p_brand"))
      eps.join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .join(minc, col("ps_partkey") === col("mk") &&
          col("ps_supplycost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"), col("ps_supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // #30aj: TPC-H Q9 shape (product-type profit): profit =
    // revenue − supply cost, per nation per year. The part filter
    // broadcasts into the lineitem scan FIRST (prunes the fact before
    // any shuffle); partsupp then joins on the composite
    // (partkey, suppkey) — at 100 TB that is the one fact-sized
    // shuffle, orders joins on the existing orderkey, supplier/nation
    // broadcast. Profit accumulates decimal-exact (both products cast
    // to decimal(28,4) before the subtraction) so the sum is
    // order-independent.
    "q_tpch_q9" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_name").like("%red%"))
        .select(col("p_partkey"))
      val ps = Tables.partsupp(s, dir)
        .select(col("ps_partkey"), col("ps_suppkey"), col("ps_supplycost"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val amount =
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)") -
        (col("ps_supplycost").cast("decimal(18,2)") *
          col("l_quantity").cast("decimal(18,2)")).cast("decimal(28,4)")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"), col("l_quantity"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(round(sum(amount), 2).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // #30ak: TPC-H Q11 shape (important stock): per-part inventory
    // value within a nation group, kept where above a fraction of the
    // total. Both the per-part values and the grand total come from
    // ONE decimal aggregation (sum of exact decimals → double →
    // ×0.001), never a re-sum of rounded doubles — float sums of
    // rounded values are order-dependent and would let the two engines
    // disagree at the threshold boundary. The scalar threshold
    // broadcasts over the per-part rollup.
    "q_tpch_q11" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
        .select(col("n_nationkey"))
      val nps = Tables.partsupp(s, dir)
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("ps_partkey"))
        .agg(sum(col("ps_supplycost").cast("decimal(18,2)") *
          col("ps_availqty")).as("vdec"))
      val thresh = nps.agg(
        (sum(col("vdec")).cast("double") * lit(0.001)).as("thresh"))
      nps.crossJoin(broadcast(thresh))
        .filter(round(col("vdec"), 2).cast("double") > col("thresh"))
        .select(col("ps_partkey"),
          round(col("vdec"), 2).cast("double").as("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    }),

    // #30al: TPC-H Q16 shape (parts/supplier relationship count,
    // adapted: the excluded-supplier set is acctbal < 0 — schema has
    // no s_comment to grep for complaints). Part attributes broadcast
    // into the partsupp scan, the exclusion is a broadcast LEFT ANTI
    // (NOT IN with a null-free key column), then one distinct-count
    // aggregation shuffled on the (brand, type, size) group key.
    "q_tpch_q16" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      Tables.partsupp(s, dir).select(col("ps_partkey"), col("ps_suppkey"))
        .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("ps_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // #30am: TPC-H Q20 shape (potential part promotion): suppliers in
    // two nations whose stock of 'small %' parts exceeds half of what
    // they shipped in 1997. The correlated per-(part,supplier) SUM is
    // one date-pruned lineitem aggregation joined to partsupp on the
    // composite key; l_quantity is integer-valued so the double SUM is
    // exact (order-independent) and 0.5·qty is one exact scale. The
    // supplier set reduces through distinct before the LEFT SEMI probe.
    "q_tpch_q20" -> ((s, dir) => {
      val shipped = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val smallParts = t(s, dir, "part")
        .filter(col("p_name").like("small%")).select(col("p_partkey"))
      val eligible = Tables.partsupp(s, dir)
        .join(broadcast(smallParts), col("ps_partkey") === col("p_partkey"))
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") > lit(0.5) * col("qty"))
        .select(col("ps_suppkey")).distinct()
      val nat = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey"))
      t(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(eligible, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_name"))
    }),

    // #165: Bloom-pruned join as an oracle query (§2.6 row 69 upgraded
    // from spec-only): high-value customers' order revenue — the fact
    // side is bloom-filtered on the computed dim's keys BEFORE its
    // shuffle (might_contain has no false negatives, so rows match the
    // plain join the oracle runs); on a 100 TB fact the shuffle shrinks
    // by the non-match rate for one broadcast of filter bits.
    "q_bloom_join" -> ((s, dir) => {
      val dim = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"))
      operators.BloomPrune.prunedJoin(
          t(s, dir, "orders"), dim, "o_custkey", "c_custkey")
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("rev"))
    }),

    // #163: Gini coefficient per group (revenue-inequality diagnostic).
    // G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n needs the within-group rank i of
    // every row — the oracle (GiniQuery) gets it from a `PARTITION BY
    // l_returnflag` row_number window, which at 100 TB sends ~1/3 of the
    // fact table into one task's sort. The Spark plan ranks with
    // GroupRank.rowNumber instead: range-repartition on (group, order
    // key) + per-partition offsets — a distributed sort's parallelism
    // with exact global per-group ranks. (x, orderkey, linenumber) is a
    // total order, and tied x swap freely in Σ(i·x), so the moment sums
    // are the same exact decimals as the oracle's; round(9) closes it.
    "q_gini" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("rf"),
        col("l_extendedprice").cast("decimal(18,2)").as("x"),
        col("l_orderkey"), col("l_linenumber"))
      operators.GroupRank.rowNumber(li, Seq("rf"),
          Seq("x", "l_orderkey", "l_linenumber"), "i")
        .groupBy(col("rf"))
        .agg(count(lit(1)).cast("double").as("nd"),
          sum(col("x").cast("decimal(38,2)")).cast("double").as("sx"),
          sum((col("i").cast("decimal(18,0)") * col("x"))
            .cast("decimal(38,2)")).cast("double").as("six"))
        .select(col("rf"),
          round(lit(2.0) * col("six") / (col("nd") * col("sx")) -
            (col("nd") + lit(1.0)) / col("nd"), 9).as("gini"))
    }),

    // #164: Herfindahl–Hirschman concentration index per nation — HHI
    // = Σ shareᵢ² over customer revenue shares. Summing squared DOUBLE
    // shares would be order-dependent; instead Σ revᵢ² and (Σ revᵢ)²
    // accumulate as exact decimals and ONE double division lands the
    // index — bit-identical on any engine and partitioning.
    "q_hhi" -> ((s, dir) => {
      val cust = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"), col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      cust.groupBy(col("nation"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("rev").cast("decimal(38,2)")).cast("double").as("tot"),
          sum((col("rev") * col("rev")).cast("decimal(38,4)")).cast("double")
            .as("sq"))
        .select(col("nation"), col("n_cust"),
          round(col("sq") / (col("tot") * col("tot")), 9).as("hhi"))
    }),

    // #295: McNemar's test on PAIRED classifiers — the model-comparison
    // test an eval harness actually needs (two models scored on the
    // SAME items; the marginals cancel, only the DISCORDANT counts
    // carry signal — an unpaired test wastes exactly the pairing).
    // Model A: value ≥ the exact discrete p50 (q_threshold_metrics's
    // histogram median); model B: the deterministic md5-parity coin
    // (replayable baseline). n10 = only-A-correct, n01 = only-B-correct;
    // χ² = (|n10−n01|−1)²/(n10+n01) with the Edwards continuity
    // correction, NULL when no discordant pairs exist. All counts are
    // exact integers off one scan + the 2-dp value histogram; the
    // statistic is one shared IEEE tree round(9).
    "q_mcnemar" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          col("value").cast("decimal(18,2)").as("v"),
          (col("event_type") === "purchase").as("y"))
      // r18 (guide §3.3): h feeds tot and the cutpoint agg — checkpoint
      val h = ev.groupBy(col("v")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val wc = boundedGlobal("2-dec value histogram, |distinct values| rows")
        .orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = h.agg(sum(col("c")).cast("long").as("nn"))
      val med = h.withColumn("cum", sum(col("c")).over(wc))
        .crossJoin(broadcast(tot))
        .agg(min(when(col("cum") >= expr("(nn + 1) div 2"), col("v")))
          .as("p50"))
      val pb = NativeExpressions.md5Prefix60(
        concat(lit("mcn:"), col("event_id"))) % 2 === 0
      val cm = ev.crossJoin(broadcast(med))
        .select((col("v") >= col("p50")).as("pa"), pb.as("pb"), col("y"))
        .agg(sum(when(col("pa") === col("y") && col("pb") =!= col("y"), 1L)
            .otherwise(0L)).as("n10"),
          sum(when(col("pa") =!= col("y") && col("pb") === col("y"), 1L)
            .otherwise(0L)).as("n01"))
      def nd(c: Column) = c.cast("double")
      cm.select(col("n10"), col("n01"),
        when(col("n10") + col("n01") === 0, lit(null).cast("double"))
          .otherwise(round(
            (abs(nd(col("n10")) - nd(col("n01"))) - lit(1.0)) *
              (abs(nd(col("n10")) - nd(col("n01"))) - lit(1.0)) /
              (nd(col("n10")) + nd(col("n01"))), 9)).as("chi2"))
    }),

    // #296: Bradley–Terry preference strengths over the event arms
    // (Bradley & Terry 1952; Hunter 2004 MM — THE pairwise-preference
    // model behind RLHF reward fitting and arena leaderboards).
    // Comparisons = all cross-arm value pairs, read off the SAME
    // domain-sized CDF grid as q_mannwhitney — the doubled win count
    // w2(i→j) = Σ c_i·(2·cum_j − c_j) (ties split) is exactly the U
    // test's integer accumulator, so pair discovery never touches the
    // events scan twice. Ten FIXED MM iterations (both engines replay
    // the identical trajectory — convergence is a property of the
    // answer, determinism of the query): each step divides the integer
    // win total by Σ_j 2n_ij/(p_i+p_j) with per-term round(9) DECIMAL
    // sums, then renormalizes to Σp = 1. The loop runs FUSED in one
    // task over the k²-row pair table (Preference.btFused — arms are
    // domain-sized; the unrolled engine-side twin spent ~30 fixed-cost
    // broadcast stages, 7.3 s vs ~1.5 s at sf0.1, and is kept as the
    // PreferenceSpec parity reference). One events shuffle total.
    "q_bradley_terry" -> ((s, dir) => {
      val (j, totA, totB) = armCdfGrid(s, dir)
      def d19(c: Column) = c.cast("decimal(19,0)")
      val u = j.join(broadcast(totA), "e1").join(broadcast(totB), "e2")
        .groupBy(col("e1"), col("e2"), col("n1"), col("n2"))
        .agg(sum(d19(col("c1")) *
          (d19(col("cum2")) * lit(2) - d19(col("c2")))).as("u2"))
      val pairs = u.select(col("e1").as("i"), col("e2").as("jj"),
          col("u2").cast("decimal(28,0)").as("w2"),
          (col("n1") * col("n2")).cast("decimal(28,0)").as("nn"))
        .union(u.select(col("e2").as("i"), col("e1").as("jj"),
          (d19(col("n1")) * d19(col("n2")) * lit(2) - col("u2"))
            .cast("decimal(28,0)").as("w2"),
          (col("n1") * col("n2")).cast("decimal(28,0)").as("nn")))
      operators.Preference.btFused(pairs).orderBy(col("arm"))
    }),

    // #297: mutual information of the (lang, source) contingency table
    // — the INFORMATION-theoretic association beside q_cramers_v's
    // normalized-χ² strength (MI reads in nats: "how many nats does
    // knowing the source tell you about the language" — the quantity a
    // stratified sampler or a leakage audit actually budgets), plus
    // both marginal entropies and the sqrt-normalized NMI ∈ [0,1].
    // Cell/marginal counts are exact integers off ONE doc scan; every
    // ln term is round(9) into a DECIMAL sum (order-free), the four
    // outputs close in round(6) per the transcendental rule.
    "q_mutual_info" -> ((s, dir) => {
      // r18 (guide §3.3): same contingency-checkpoint as q_theil_u
      val cxy = t(s, dir, "documents")
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val cx = cxy.groupBy(col("lang")).agg(sum(col("c")).as("nx"))
      val cy = cxy.groupBy(col("source")).agg(sum(col("c")).as("ny"))
      val tot = cxy.agg(sum(col("c")).cast("long").as("nn"))
      def nd(c: Column) = c.cast("double")
      val mi = cxy.join(broadcast(cx), "lang")
        .join(broadcast(cy), "source")
        .crossJoin(broadcast(tot))
        .select(round(nd(col("c")) / nd(col("nn")) *
            log(nd(col("c")) * nd(col("nn")) /
              (nd(col("nx")) * nd(col("ny")))), 9)
          .cast("decimal(28,9)").as("tmi"))
        .agg(sum(col("tmi")).as("smi"))
      val hx = cx.crossJoin(broadcast(tot))
        .select(round(nd(col("nx")) / nd(col("nn")) *
            log(nd(col("nx")) / nd(col("nn"))), 9)
          .cast("decimal(28,9)").as("th"))
        .agg(sum(col("th")).as("shx"))
      val hy = cy.crossJoin(broadcast(tot))
        .select(round(nd(col("ny")) / nd(col("nn")) *
            log(nd(col("ny")) / nd(col("nn"))), 9)
          .cast("decimal(28,9)").as("th"))
        .agg(sum(col("th")).as("shy"))
      mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
        .crossJoin(broadcast(tot))
        .select(col("nn"),
          round(nd(col("smi")), 6).as("mi"),
          round(-nd(col("shx")), 6).as("h_lang"),
          round(-nd(col("shy")), 6).as("h_source"),
          // degenerate-marginal pin (repo convention — q_fleiss_kappa
          // pins P̄e=1 → 0.0, q_v_measure guards h+c=0): one-category
          // lang or source ⇒ its entropy sum is 0 and sqrt(shx·shy)=0;
          // MI is 0 too, so 0/0 would emit NaN whose engine hash
          // parity is not guaranteed. Pin nmi to 0.0, oracle mirrors.
          when(col("shx") === 0 || col("shy") === 0, lit(0.0))
            .otherwise(round(nd(col("smi")) /
              sqrt(nd(col("shx")) * nd(col("shy"))), 6)).as("nmi"))
    }),

    // #298: distinct-1 / distinct-2 generation-diversity ratios per
    // source (Li et al. NAACL 2016 — the standard repetitiveness read
    // on generated text: distinct n-grams over total n-grams; a
    // mode-collapsed or boilerplate-heavy source scores low where
    // entropy alone can hide it behind a long tail). Unigram and
    // bigram families each collapse corpus → vocab-sized in one hash
    // agg; the ratios are single integer divisions round(9).
    "q_distinct_n" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(lower(col("text")))
      val base = tp(s, dir, "documents").select(col("source"), toks.as("tk"))
      val uni = base.select(col("source"), explode(col("tk")).as("g"))
        .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_uni"),
          count(lit(1)).as("d_uni"))
      val bi = base.filter(size(col("tk")) >= 2)
        .select(col("source"), explode(transform(
          sequence(lit(1), size(col("tk")) - lit(1)),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + lit(1))))).as("g"))
        .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_bi"),
          count(lit(1)).as("d_bi"))
      def nd(c: Column) = c.cast("double")
      uni.join(bi, Seq("source"))
        .select(col("source"), col("n_uni"), col("d_uni"),
          round(nd(col("d_uni")) / nd(col("n_uni")), 9).as("distinct_1"),
          col("n_bi"), col("d_bi"),
          round(nd(col("d_bi")) / nd(col("n_bi")), 9).as("distinct_2"))
        .orderBy(col("source"))
    }),

    // #299: Chao1 species-richness estimator over the bigram vocabulary
    // (Chao 1984, bias-corrected form — the UNSEEN-vocabulary size
    // beside q_good_turing's unseen MASS and q_heaps' growth exponent:
    // "how many bigram types exist that this corpus hasn't shown yet"
    // is the number a vocab-sizing or coverage plan extrapolates on):
    // chao1 = V + f1(f1−1)/(2(f2+1)) off the same count-of-counts
    // table as Good–Turing — corpus collapses to bigram-vocab-sized
    // then COC-sized; integers until one shared tree round(9).
    "q_chao1" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(lower(col("text")))
      val coc = tp(s, dir, "documents")
        .select(toks.as("tk")).filter(size(col("tk")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("tk")) - lit(1)),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + lit(1))))).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("r"))
        .groupBy(col("r")).agg(count(lit(1)).as("n_r"))
      def nd(c: Column) = c.cast("double")
      coc.agg(sum(col("n_r")).cast("long").as("v_obs"),
          coalesce(sum(when(col("r") === 1, col("n_r"))), lit(0L))
            .cast("long").as("f1"),
          coalesce(sum(when(col("r") === 2, col("n_r"))), lit(0L))
            .cast("long").as("f2"))
        .select(col("v_obs"), col("f1"), col("f2"),
          round(nd(col("v_obs")) +
            nd(col("f1")) * (nd(col("f1")) - lit(1.0)) /
              (lit(2.0) * (nd(col("f2")) + lit(1.0))), 9).as("chao1"))
    }),

    // #300: Fleiss' kappa over the FULL-PANEL units (Fleiss 1971 — the
    // fixed-panel multi-rater agreement beside q_krippendorff's alpha:
    // alpha admits missing ratings via the coincidence matrix, Fleiss
    // is the classical m-raters-per-unit statistic reviewers expect on
    // a complete annotation grid; same units/raters/ratings as the
    // alpha row, restricted to units all k arms rated). Both agreement
    // sums are INTEGERS — S_o = ΣΣ c(c−1) and S_e = Σ(Σc)² — so P̄,
    // P̄e and kappa close in one shared tree round(9); everything after
    // the (unit, rater) dedup is rating-domain-sized.
    "q_fleiss_kappa" -> ((s, dir) => {
      // r18 (guide §3.3): r feeds kTab, mu and cu — checkpoint the
      // unit×rater table once (PlanAudit: 9 events scans → 1)
      val r = t(s, dir, "events")
        .select((col("user_id") % 100).as("unit"),
          col("event_type").as("rater"),
          floor(col("value") / lit(25.0)).cast("int").as("v"))
        .groupBy(col("unit"), col("rater")).agg(min(col("v")).as("v"))
        .eagerCheckpoint()
      val kTab = r.select(col("rater")).distinct()
        .agg(count(lit(1)).as("k"))
      val mu = r.groupBy(col("unit")).agg(count(lit(1)).as("m"))
      val full = mu.crossJoin(broadcast(kTab))
        .filter(col("m") === col("k")).select(col("unit"))
      val cu = r.join(full, "unit")
        .groupBy(col("unit"), col("v")).agg(count(lit(1)).as("c"))
      val so = cu.agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L))
        .cast("long").as("s_o"))
      val se = cu.groupBy(col("v")).agg(sum(col("c")).as("sc"))
        .agg(coalesce(sum(col("sc") * col("sc")), lit(0L))
          .cast("long").as("s_e"))
      val nu = full.agg(count(lit(1)).as("n_units"))
      def nd(c: Column) = c.cast("double")
      val pBar = nd(col("s_o")) / (nd(col("n_units")) * nd(col("k")) *
        (nd(col("k")) - lit(1.0)))
      val pE = nd(col("s_e")) / (nd(col("n_units")) * nd(col("k")) *
        (nd(col("n_units")) * nd(col("k"))))
      nu.crossJoin(broadcast(kTab)).crossJoin(broadcast(so))
        .crossJoin(broadcast(se))
        .select(col("n_units"), col("k").as("m"), col("s_o"), col("s_e"),
          round(pBar, 9).as("p_bar"), round(pE, 9).as("p_e"),
          // P̄e = 1 (the rating domain collapsed to one category —
          // happens at sf1, where every unit's min-rating hits bucket
          // 0) leaves kappa 0/0; pin it to 0.0, the q_krippendorff
          // degenerate-agreement convention
          when(lit(1.0) - pE === lit(0.0), lit(0.0))
            .otherwise(round((pBar - pE) / (lit(1.0) - pE), 9))
            .as("kappa"))
    }),

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
    "q_v_measure" -> ((s, dir) => {
      val embs = tp(s, dir, "embeddings")
      val cents = operators.AnnIvf.fit(embs, "vec_id", "embedding", 16,
        iters = 0)
      val assigned = operators.AnnIvf
        .assign(embs, cents, "vec_id", "embedding", simRound = Some(9))
        .select(col("id"), col("cid"))
      val gold = t(s, dir, "documents")
        .select(col("doc_id").as("id"), col("source"))
      val ct = assigned.join(gold, "id")
        .groupBy(col("cid"), col("source")).agg(count(lit(1)).as("nij"))
        .eagerCheckpoint() // feeds four aggregations (r14 ARI note)
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
    }),

    // #302: Theil's uncertainty coefficient U(lang|source) and
    // U(source|lang) — the ASYMMETRIC association beside q_mutual_info
    // (MI is symmetric; U answers the directional question a feature
    // audit asks: "what fraction of the LANGUAGE's uncertainty does
    // knowing the source resolve", and its transpose — the two differ
    // exactly when the marginals do). Same contingency scan and
    // round(9)-term DECIMAL sums as q_mutual_info; each U is one
    // division of those sums, round(6).
    "q_theil_u" -> ((s, dir) => {
      // r18 (guide §3.3): the lang×source contingency feeds cx, cy,
      // tot and mi — checkpoint it once (PlanAudit: 9 scans → 1)
      val cxy = t(s, dir, "documents")
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val cx = cxy.groupBy(col("lang")).agg(sum(col("c")).as("nx"))
      val cy = cxy.groupBy(col("source")).agg(sum(col("c")).as("ny"))
      val tot = cxy.agg(sum(col("c")).cast("long").as("nn"))
      def nd(c: Column) = c.cast("double")
      val mi = cxy.join(broadcast(cx), "lang")
        .join(broadcast(cy), "source")
        .crossJoin(broadcast(tot))
        .select(round(nd(col("c")) / nd(col("nn")) *
            log(nd(col("c")) * nd(col("nn")) /
              (nd(col("nx")) * nd(col("ny")))), 9)
          .cast("decimal(28,9)").as("tmi"))
        .agg(sum(col("tmi")).as("smi"))
      val hx = cx.crossJoin(broadcast(tot))
        .select(round(nd(col("nx")) / nd(col("nn")) *
            log(nd(col("nx")) / nd(col("nn"))), 9)
          .cast("decimal(28,9)").as("th"))
        .agg(sum(col("th")).as("shx"))
      val hy = cy.crossJoin(broadcast(tot))
        .select(round(nd(col("ny")) / nd(col("nn")) *
            log(nd(col("ny")) / nd(col("nn"))), 9)
          .cast("decimal(28,9)").as("th"))
        .agg(sum(col("th")).as("shy"))
      mi.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
        .crossJoin(broadcast(tot))
        .select(col("nn"),
          round(nd(col("smi")) / -nd(col("shx")), 6).as("u_lang"),
          round(nd(col("smi")) / -nd(col("shy")), 6).as("u_source"))
    }),

    // #303: average precision of `value` ranking 'purchase' — the
    // PR-side single number beside q_auc's ROC ranking and q_lift's
    // decile table (on a rare positive class AP moves where AUC
    // saturates; it is THE retrieval/eval summary number). Ties share
    // a 2-dp score block and the convention is BLOCK-END precision
    // (every block's positives score the precision after the whole
    // block lands — deterministic, engine-identical, no per-row
    // permutation anywhere): AP = Σ_b cp_b·(cumTP_b/cumN_b) / P.
    // The corpus collapses to the 2-dp histogram in one agg; the
    // descending cumulative runs on the domain-sized grid; per-block
    // terms round(9) into a DECIMAL sum, AP closes round(6).
    "q_avg_precision" -> ((s, dir) => {
      val h = t(s, dir, "events")
        .select(col("value").cast("decimal(18,2)").as("v"),
          when(col("event_type") === "purchase", lit(1L))
            .otherwise(lit(0L)).as("p"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"), sum(col("p")).as("cp"))
      val wd = boundedGlobal("2-dec value histogram, |distinct values| rows")
        .orderBy(col("v").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h.withColumn("cum_n", sum(col("c")).over(wd))
        .withColumn("cum_tp", sum(col("cp")).over(wd))
      val tot = h.agg(sum(col("c")).cast("long").as("nn"),
        sum(col("cp")).cast("long").as("np"))
      def nd(c: Column) = c.cast("double")
      cum.select(round(nd(col("cp") * col("cum_tp")) / nd(col("cum_n")), 9)
          .cast("decimal(28,9)").as("term"))
        .agg(sum(col("term")).as("s"))
        .crossJoin(broadcast(tot))
        .select(col("nn"), col("np"),
          round(nd(col("s")) / nd(col("np")), 6).as("avg_prec"))
    }),

    // #304: Cochran's Q over THREE paired classifiers (Cochran 1950 —
    // the k-model generalization of q_mcnemar's two-model test: an
    // eval harness comparing a model zoo on one eval set asks "do ANY
    // of these differ" before pairwise drilling, or the p-values
    // inflate): A = value ≥ exact p50, B = value ≥ exact p25 (the
    // liberal variant), C = the md5-parity coin; x_ij = classifier j
    // correct on item i. Q = (k−1)(k·ΣC_j² − S1²)/(k·S1 − S2) with
    // column totals C_j, S1 = ΣR_i, S2 = ΣR_i² ALL exact integers off
    // ONE scan + the 2-dp histogram; NULL when every item has
    // R_i ∈ {0, k} (the test's undefined case). One shared tree
    // round(9).
    "q_cochran_q" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          col("value").cast("decimal(18,2)").as("v"),
          (col("event_type") === "purchase").as("y"))
      // r18 (guide §3.3): h feeds tot and the cutpoint agg — checkpoint
      val h = ev.groupBy(col("v")).agg(count(lit(1)).as("c"))
        .eagerCheckpoint()
      val wc = boundedGlobal("2-dec value histogram, |distinct values| rows")
        .orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = h.agg(sum(col("c")).cast("long").as("nn"))
      val cuts = h.withColumn("cum", sum(col("c")).over(wc))
        .crossJoin(broadcast(tot))
        .agg(min(when(col("cum") >= expr("(nn + 1) div 2"), col("v")))
            .as("p50"),
          min(when(col("cum") * 4 >= col("nn") + 1, col("v"))).as("p25"))
      val coin = NativeExpressions.md5Prefix60(
        concat(lit("cq:"), col("event_id"))) % 2 === 0
      val rows = ev.crossJoin(broadcast(cuts))
        .select(
          when((col("v") >= col("p50")) === col("y"), 1L).otherwise(0L)
            .as("a"),
          when((col("v") >= col("p25")) === col("y"), 1L).otherwise(0L)
            .as("b"),
          when(coin === col("y"), 1L).otherwise(0L).as("cc"))
        .select(col("a"), col("b"), col("cc"),
          (col("a") + col("b") + col("cc")).as("r"))
      val agg = rows.agg(count(lit(1)).as("n"),
        sum(col("a")).cast("long").as("c_a"),
        sum(col("b")).cast("long").as("c_b"),
        sum(col("cc")).cast("long").as("c_c"),
        sum(col("r")).cast("long").as("s1"),
        sum(col("r") * col("r")).cast("long").as("s2"))
      def nd(c: Column) = c.cast("double")
      agg.select(col("n"), col("c_a"), col("c_b"), col("c_c"),
        when(col("s1") * 3 - col("s2") === 0, lit(null).cast("double"))
          .otherwise(round(lit(2.0) *
            (lit(3.0) * (nd(col("c_a")) * nd(col("c_a")) +
              nd(col("c_b")) * nd(col("c_b")) +
              nd(col("c_c")) * nd(col("c_c"))) -
              nd(col("s1")) * nd(col("s1"))) /
            (lit(3.0) * nd(col("s1")) - nd(col("s2"))), 9)).as("q_stat"))
    }),

    // #308: paired bootstrap test between two classifiers (Koehn,
    // EMNLP 2004 — THE significance convention for comparing two
    // models on ONE eval set, the method LLM eval papers cite for
    // "is A actually better than B"): model A = value ≥ exact p50,
    // model B = the md5-parity coin (the q_mcnemar pair); per item,
    // d_i = correct(A) − correct(B) ∈ {−1, 0, 1}, and each of B = 200
    // replicates draws Poisson(1) weights by the SAME deterministic
    // md5 inverse-CDF as q_bootstrap_ci — so the replicate delta
    // Σ w_i·d_i is a pure INTEGER, exact end to end: wins/ties counts,
    // p(A better) = wins/B (one division round(9)), and the 95% CI
    // bounds are discrete order statistics of integer deltas. One
    // B-way explode over one scan; everything after is B-sized.
    "q_paired_bootstrap" -> ((s, dir) => {
      val B = 200
      val thr = Seq(424136118829305329L, 848272237658610659L,
        1060340297073263324L, 1131029650211480879L, 1148701988496035267L,
        1152236456152946145L, 1152825534095764625L, 1152909688087595836L,
        1152920207336574738L)
      val ev0 = tp(s, dir, "events")
        .select(col("event_id"),
          col("value").cast("decimal(18,2)").as("v"),
          (col("event_type") === "purchase").as("y"))
      val h = ev0.groupBy(col("v")).agg(count(lit(1)).as("c"))
      val wc = boundedGlobal("2-dec value histogram, |distinct values| rows")
        .orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = h.agg(sum(col("c")).cast("long").as("nn"))
      val med = h.withColumn("cum", sum(col("c")).over(wc))
        .crossJoin(broadcast(tot))
        .agg(min(when(col("cum") >= expr("(nn + 1) div 2"), col("v")))
          .as("p50"))
      val coin = NativeExpressions.md5Prefix60(
        concat(lit("mcn:"), col("event_id"))) % 2 === 0
      val ev = ev0.crossJoin(broadcast(med))
        .select(col("event_id"),
          (when((col("v") >= col("p50")) === col("y"), 1L).otherwise(0L) -
            when(coin === col("y"), 1L).otherwise(0L)).as("d"))
      // staged hash column — same 9×-duplicated-md5 fix as
      // q_bootstrap_ci above (guide §7.2); values identical
      val hh = col("_h")
      val w = thr.tail.zipWithIndex.foldLeft(when(hh < lit(thr.head), 0)) {
        case (acc, (tk, i)) => acc.when(hh < lit(tk), i + 1)
      }.otherwise(9)
      val rep = ev.withColumn("r", explode(sequence(lit(0), lit(B - 1))))
        .withColumn("_h", NativeExpressions.md5Prefix60(concat(lit("boot:"),
          col("event_id"), lit(":"), col("r"))))
        .withColumn("w", w).drop("_h")
        .groupBy(col("r"))
        .agg(sum(col("w") * col("d")).cast("long").as("delta"))
      val wrk = boundedGlobal("B=200 replicate deltas")
        .orderBy(col("delta"), col("r"))
      val ranked = rep.withColumn("rn", row_number().over(wrk))
      def nd(c: Column) = c.cast("double")
      ranked.agg(count(lit(1)).as("n_repl"),
          sum(when(col("delta") > 0, 1L).otherwise(0L)).cast("long")
            .as("n_wins"),
          sum(when(col("delta") === 0, 1L).otherwise(0L)).cast("long")
            .as("n_ties"),
          min(when(col("rn") === 5, col("delta"))).as("d_lo"),
          max(when(col("rn") === 196, col("delta"))).as("d_hi"))
        .select(col("n_repl"), col("n_wins"), col("n_ties"),
          round(nd(col("n_wins")) / nd(col("n_repl")), 9).as("p_a_better"),
          col("d_lo"), col("d_hi"))
    }),

    // #305: MRR@10 of the LSH index vs brute force — the FIRST-HIT
    // grade completing the index-quality quartet (recall = set
    // overlap, NDCG = graded positions, RBO = ranking agreement, MRR =
    // "where does the TRUE nearest neighbor land", the number a
    // retrieval serving SLO is usually written against): per query,
    // the brute-force rank-1 neighbor's position in the index's
    // top-10; rr = 1/rank round(9), 0.0 on a miss (never a silent
    // drop). Both sides reuse the exact-replay ANN scaffolds; work is
    // queries × 10 after the index probes.
    "q_mrr" -> ((s, dir) => {
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
    }),

    // #306: Kendall's W — rank concordance of the arms' orderings of
    // user cohorts (Kendall & Babington Smith 1939; the MULTI-rater
    // ordinal agreement beside q_fleiss_kappa's nominal panel and
    // q_spearman's two-ranking correlation: "do the k arms rank the
    // same cohorts high", the check before averaging per-arm
    // leaderboards into one). Cohort score = decimal-exact value sum
    // per (arm, cohort); ranks per arm over the n-cohort domain
    // (deterministic tie-break on cohort id — exact-decimal ties are
    // broken identically on both engines); rank sums R_i stay INTEGER,
    // so W = (12·ΣR_i² − 3·m²·n·(n+1)²) / (m²·(n³−n)) is one shared
    // tree round(9). Domain-sized windows only.
    "q_kendall_w" -> ((s, dir) => {
      val sc = t(s, dir, "events")
        .select(col("event_type").as("arm"),
          (col("user_id") % 20).as("obj"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("arm"), col("obj"))
        .agg(sum(col("v")).as("score"))
      val wr = Window.partitionBy(col("arm"))
        .orderBy(col("score").desc, col("obj"))
      val ranks = sc.withColumn("rk", row_number().over(wr))
      val rsum = ranks.groupBy(col("obj"))
        .agg(sum(col("rk")).cast("long").as("r_i"),
          count(lit(1)).as("m_obj"))
      val dims = ranks.agg(countDistinct(col("arm")).as("m"),
        countDistinct(col("obj")).as("n"))
      def nd(c: Column) = c.cast("double")
      rsum.agg(sum(col("r_i") * col("r_i")).cast("long").as("sum_r2"))
        .crossJoin(broadcast(dims))
        .select(col("m"), col("n"), col("sum_r2"),
          round((lit(12.0) * nd(col("sum_r2")) -
            lit(3.0) * nd(col("m")) * nd(col("m")) * nd(col("n")) *
              (nd(col("n")) + lit(1.0)) * (nd(col("n")) + lit(1.0))) /
            (nd(col("m")) * nd(col("m")) *
              (nd(col("n")) * nd(col("n")) * nd(col("n")) - nd(col("n")))),
            9).as("w"))
    }),

    // #307: log-odds ratio with informative Dirichlet prior, src0 vs
    // src1 (Monroe, Colaresi & Quinn 2008, "Fightin' Words" — THE
    // corpus-comparison method for "which words distinguish these two
    // sources": raw ratios explode on rare words, PMI overweights
    // frequency; the full-corpus prior shrinks both). Prior α_w = the
    // word's corpus count; δ_w = ln((y1+α)/(n1+α0−y1−α)) −
    // ln((y2+α)/(n2+α0−y2−α)), z = δ/√(1/(y1+α)+1/(y2+α)). All counts
    // exact integers off one tokenize; each ln rounds 9 (the
    // transcendental rule), sqrt is IEEE-exact, the closing trees
    // round 9. Top-20 by (z desc, token) — the src0-distinctive head.
    // Vocab-sized work throughout.
    "q_log_odds" -> ((s, dir) => {
      // r18 (guide §2.3 "aggregate before you shuffle" + §3.3): the
      // prior and the two per-source counts were three separate
      // groupBys over the corpus explode (plus n1/n2 re-running the
      // filtered pair — PlanAudit: 6 documents scans). One conditional
      // aggregation computes all three per token in a single pass —
      // count_if(source = s) ≡ the old filter+count left-joined with
      // na.fill(0) — and the vocab-sized result checkpoints once for
      // its four consumers. Values identical.
      val cnt = tp(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("aw"),
          count_if(col("source") === "src0").as("y1"),
          count_if(col("source") === "src1").as("y2"))
        .eagerCheckpoint()
      val a0 = cnt.agg(sum(col("aw")).cast("long").as("a0"))
      val n1 = cnt.agg(coalesce(sum(col("y1")), lit(0L)).cast("long").as("n1"))
      val n2 = cnt.agg(coalesce(sum(col("y2")), lit(0L)).cast("long").as("n2"))
      def nd(c: Column) = c.cast("double")
      val j = cnt
        .crossJoin(broadcast(a0)).crossJoin(broadcast(n1))
        .crossJoin(broadcast(n2))
      val l1 = round(log((nd(col("y1")) + nd(col("aw"))) /
        (nd(col("n1")) + nd(col("a0")) - nd(col("y1")) - nd(col("aw")))), 9)
      val l2 = round(log((nd(col("y2")) + nd(col("aw"))) /
        (nd(col("n2")) + nd(col("a0")) - nd(col("y2")) - nd(col("aw")))), 9)
      val variance = lit(1.0) / (nd(col("y1")) + nd(col("aw"))) +
        lit(1.0) / (nd(col("y2")) + nd(col("aw")))
      j.select(col("w"), col("y1"), col("y2"), col("aw"),
          round(l1 - l2, 9).as("delta"),
          round((l1 - l2) / sqrt(variance), 9).as("z"))
        .orderBy(col("z").desc, col("w")).limit(20)
    }),
  )

  // ---------------------------------------------------------------------------

  def oracleSql: Map[String, String] = Map(
    "q_bpe_merges" -> BpeOracle,

    "q_top10_tokens" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY cnt DESC, token ASC
        |LIMIT 10""".stripMargin,

    "q_token_explode" ->
      """SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |FROM documents""".stripMargin,

    "q_hashtag_count" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token FROM documents)
        |GROUP BY token""".stripMargin,

    "q_sort" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,

    "q_time_window_scan" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'""".stripMargin,

    "q_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_quantity >= 48 AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'""".stripMargin,

    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        |  $RevenueSql AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_broadcast" ->
      """SELECT n_name, COUNT(*) AS n_cust,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_star_join" ->
      s"""SELECT r_name, n_name, $RevenueSql AS rev, COUNT(*) AS n_items
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q_left_join" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_cust FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY c_mktsegment""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin,

    "q_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",

    "q_union" ->
      """SELECT key, COUNT(*) AS cnt FROM (
        |  SELECT o_custkey AS key FROM orders
        |  UNION ALL
        |  SELECT c_custkey AS key FROM customer) GROUP BY key""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |  LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |  RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank
        |FROM orders""".stripMargin,

    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_ntile_frames" ->
      """SELECT o_orderkey, o_orderpriority,
        |  NTILE(4) OVER w AS quartile,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS mov_sum,
        |  COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mov_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_ok,
        |  LAST_VALUE(o_orderkey) OVER w AS last_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey, UPPER(SUBSTR(p_name, 1, 8)) AS pfx, LENGTH(p_name) AS n,
        |  p_brand || '-' || p_type AS bt,
        |  LPAD(CAST(p_size AS VARCHAR), 4, '0') AS sz
        |FROM part WHERE p_name LIKE '%a%'""".stripMargin,

    "q_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
        |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
        |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS d,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) AS days_to_98,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date
        |FROM orders""".stripMargin,

    "q_array_funcs" ->
      """WITH b AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents)
        |SELECT doc_id, len(list_distinct(tk)) AS n_uniq,
        |  list_contains(tk, 'spark') AS has_spark,
        |  len(tk[1:5]) AS first5, tk[1] AS first_tok
        |FROM b""".stripMargin,

    "q_in_subquery" -> InSubqueryQuery,

    "q_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS prio, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q_grouping_sets" -> GroupingSetsQuery,

    "q_skew_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_part,
        |  COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50 THEN 1 END) AS n_high
        |FROM events GROUP BY event_type""".stripMargin,

    "q_time_bucket" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_s, event_type,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_pivot" ->
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q_case_agg" ->
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  CAST(ROUND(SUM(CASE WHEN o_totalprice > 100000 THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS high_rev
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT c_custkey FROM customer c
        |WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin,

    "q_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, epoch(ts) AS sec,
        |    CASE WHEN lag(epoch(ts)) OVER w IS NULL
        |           OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, sec,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM x
        |)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
        |  CAST(FLOOR(MIN(sec)) AS BIGINT) AS start_s,
        |  CAST(FLOOR(MAX(sec)) AS BIGINT) AS end_s
        |FROM y GROUP BY user_id, session_seq""".stripMargin,

    "q_topn_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q_sql_interface" -> SqlInterfaceQuery,

    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dups
        |FROM (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS h
        |      FROM documents)
        |GROUP BY h""".stripMargin,

    "q_ann_bruteforce" -> AnnBruteSql,

    "q_fertility" ->
      """WITH b AS (SELECT source,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS ws,
        |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]')) AS bpe,
        |    octet_length(encode(text)) AS by
        |  FROM documents)
        |SELECT source,
        |  CAST(SUM(ws) AS BIGINT) AS n_ws,
        |  CAST(SUM(bpe) AS BIGINT) AS n_bpe,
        |  CAST(SUM(by) AS BIGINT) AS n_bytes,
        |  ROUND(CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE), 9) AS fertility,
        |  ROUND(CAST(SUM(by) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE), 9) AS bytes_per_token
        |FROM b GROUP BY source""".stripMargin,

    "q_ngram_novelty" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |fd AS (SELECT g, min(doc_id) AS first_id FROM ex GROUP BY g)
        |SELECT ex.doc_id,
        |  count(*) AS n_grams,
        |  CAST(SUM(CASE WHEN fd.first_id = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  ROUND(CAST(SUM(CASE WHEN fd.first_id = ex.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 9) AS novelty
        |FROM ex JOIN fd USING (g) GROUP BY ex.doc_id""".stripMargin,

    // Dup matrix replayed: exact-jaccard pairs (LSH == exact at 0.8,
    // the q_dedup_cluster equivalence) labeled and rolled up.
    "q_dup_matrix" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |isect AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS MATERIALIZED (SELECT i, j FROM isect
        |  JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
        |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.8)
        |SELECT LEAST(da.source, db.source) AS src_a,
        |  GREATEST(da.source, db.source) AS src_b,
        |  count(*) AS n_pairs
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.i
        |JOIN documents db ON db.doc_id = p.j
        |GROUP BY 1, 2""".stripMargin,

    // Curation funnel replayed stage by stage: normalized-hash exact
    // dedup, exact-jaccard pairs → recursive-CTE components (the
    // q_dedup_cluster construction) with keep-min, the q_contamination
    // 5-gram bench join, the q_quality_score expression tree verbatim
    // for the gates, and the md5-prefix sample. Every count integer.
    "q_curation_funnel" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 10),
        |keep1 AS (SELECT min(doc_id) AS doc_id FROM corpus
        |  GROUP BY md5(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]+', ' ', 'g'))),
        |e1 AS (SELECT c.doc_id, c.text FROM corpus c JOIN keep1 USING (doc_id)),
        |t1 AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM e1),
        |sh3 AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t1 WHERE len(tk) >= 3),
        |ex3 AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM sh3),
        |sz3 AS (SELECT doc_id, len(sh) AS n FROM sh3),
        |isect AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM ex3 a JOIN ex3 b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS MATERIALIZED (SELECT i, j FROM isect
        |  JOIN sz3 sa ON sa.doc_id = i JOIN sz3 sb ON sb.doc_id = j
        |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.8),
        |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
        |reach(s, d) AS (SELECT a, b FROM edges
        |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.d = e.a),
        |comp AS (SELECT s AS id, min(d) AS mn FROM reach GROUP BY s),
        |e2 AS (SELECT e1.doc_id, e1.text FROM e1 LEFT JOIN comp ON comp.id = e1.doc_id
        |  WHERE LEAST(COALESCE(comp.mn, e1.doc_id), e1.doc_id) = e1.doc_id),
        |tb AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 10),
        |bench5 AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 3),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
        |      || ' ' || tk[i+4]))) AS g
        |  FROM tb WHERE len(tk) >= 5),
        |t2 AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM e2),
        |cont AS (SELECT DISTINCT s.doc_id FROM (
        |    SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(1, len(tk) - 3),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
        |        || ' ' || tk[i+4]))) AS g
        |    FROM t2 WHERE len(tk) >= 5) s
        |  JOIN bench5 ON s.g = bench5.g),
        |e3 AS (SELECT e2.doc_id, e2.text FROM e2
        |  LEFT JOIN cont ON cont.doc_id = e2.doc_id WHERE cont.doc_id IS NULL),
        |q AS (SELECT doc_id, text,
        |    CAST(GREATEST(LENGTH(text), 1) AS DOUBLE) AS n,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS toks
        |  FROM e3),
        |e4 AS (SELECT doc_id, text FROM q
        |  WHERE (LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0) * 0.25
        |    + (CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / n) * 0.35
        |    + (1.0 - CAST(LENGTH(REGEXP_REPLACE(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / n) * 0.2
        |    + LEAST((CASE WHEN len(toks) = 0 THEN 0.0
        |        ELSE CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with','as','at','by','it','that'))) AS DOUBLE)
        |          / CAST(len(toks) AS DOUBLE) END) * 4.0, 1.0) * 0.2) >= 0.4
        |    AND (1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) /
        |      CAST(GREATEST(len(toks), 1) AS DOUBLE)) <= 0.8
        |    AND len(toks) >= 5),
        |e5 AS (SELECT doc_id FROM e4 WHERE substr(md5(text), 1, 4) < '8000')
        |SELECT 0 AS stage, 'total' AS name, count(*) AS n_docs FROM corpus
        |UNION ALL SELECT 1, 'exact_dedup', count(*) FROM e1
        |UNION ALL SELECT 2, 'near_dedup', count(*) FROM e2
        |UNION ALL SELECT 3, 'decontaminated', count(*) FROM e3
        |UNION ALL SELECT 4, 'quality_gated', count(*) FROM e4
        |UNION ALL SELECT 5, 'sampled', count(*) FROM e5""".stripMargin,

    // Hard negatives replayed: AnnBruteSql's cosine scan with the band
    // filter ahead of the rank.
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
        |s AS (SELECT q_id, n_id, list_cosine_similarity(qe, ne) AS sim
        |      FROM q, c WHERE n_id <> q_id),
        |b AS (SELECT q_id, n_id, sim FROM s WHERE sim >= 0.3 AND sim < 0.8),
        |r AS (SELECT q_id, n_id,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |      FROM b)
        |SELECT q_id, rn, n_id FROM r WHERE rn <= 10""".stripMargin,

    // SemDeDup replay: the AnnIvfSql stride-init assignment CTEs, then
    // the within-cell smaller-id-neighbor drop rule.
    "q_semdedup" ->
      s"""WITH $SemDedupGuardedSql
        |d AS (SELECT DISTINCT y.vec_id AS id
        |      FROM r x JOIN r y ON x.rk = y.rk AND x.vec_id < y.vec_id
        |      JOIN e ex ON ex.vec_id = x.vec_id
        |      JOIN e ey ON ey.vec_id = y.vec_id
        |      WHERE list_cosine_similarity(ex.ve, ey.ve) >= 0.4)
        |SELECT r.vec_id, r.cid AS cell FROM r LEFT JOIN d ON r.vec_id = d.id
        |WHERE d.id IS NULL""".stripMargin,

    "q_semdedup_recall" ->
      s"""WITH $SemDedupGuardedSql
        |b AS (SELECT vec_id, ve FROM e WHERE vec_id < 200),
        |tp AS (SELECT x.vec_id AS i, y.vec_id AS j FROM b x JOIN b y
        |       ON x.vec_id < y.vec_id
        |       WHERE list_cosine_similarity(x.ve, y.ve) >= 0.4),
        |ct AS (SELECT count(*) AS n_caught FROM tp
        |       JOIN r ri ON ri.vec_id = tp.i
        |       JOIN r rj ON rj.vec_id = tp.j WHERE ri.rk = rj.rk)
        |SELECT (SELECT count(*) FROM tp) AS n_true, ct.n_caught FROM ct""".stripMargin,

    // DSIR replay: same md5-mod bucket ids, integer counts, shared
    // scalar log-ratio expression, round(6) on the per-doc mean
    "q_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> x <> '')) AS token
        |  FROM documents),
        |tb AS (SELECT doc_id, source,
        |    ('0x' || substring(md5(token), 1, 15))::BIGINT % 1024 AS b
        |  FROM tk),
        |raw AS (SELECT b, count(*) AS rc FROM tb GROUP BY b),
        |tgt AS (SELECT b, count(*) AS tc FROM tb WHERE source = 'src0' GROUP BY b),
        |tot AS (SELECT (SELECT SUM(rc) FROM raw) AS rt,
        |               (SELECT SUM(tc) FROM tgt) AS tt),
        |lrs AS (SELECT raw.b,
        |    ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE) / CAST(tt + 1024 AS DOUBLE)) -
        |    ln(CAST(rc + 1 AS DOUBLE) / CAST(rt + 1024 AS DOUBLE)) AS lr
        |  FROM raw LEFT JOIN tgt USING(b), tot)
        |SELECT doc_id, count(*) AS n_tokens, ROUND(AVG(lr), 6) AS importance
        |FROM tb JOIN lrs USING(b) GROUP BY doc_id""".stripMargin,

    // ascending water-fill replay: integer prefix sums, the first rank
    // whose cap 2·n exceeds its fair share fixes the uncapped share
    // (scalar-subquery star row ↔ Spark's min-over-struct agg); the
    // LEFT JOIN ON TRUE keeps every source when no rank is flagged
    "q_data_mix" ->
      """WITH per AS (SELECT source,
        |    CAST(SUM(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
        |      x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
        |    CAST(COUNT(*) AS BIGINT) AS s_cnt FROM per),
        |rk AS (SELECT source, n_tokens,
        |    CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS r,
        |    CAST(COALESCE(SUM(n_tokens * 2) OVER (ORDER BY n_tokens, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx
        |  FROM per),
        |j AS (SELECT rk.*,
        |    (CAST(floor(CAST(tot AS DOUBLE) / 2) AS BIGINT) - pfx)
        |      / CAST(s_cnt - r + 1 AS DOUBLE) AS fair
        |  FROM rk CROSS JOIN tot),
        |star AS (SELECT r AS rs, fair AS share FROM j
        |  WHERE CAST(n_tokens * 2 AS DOUBLE) > fair ORDER BY r LIMIT 1)
        |SELECT source, n_tokens,
        |  (rs IS NOT NULL AND r >= rs) AS uncapped,
        |  round(CASE WHEN rs IS NOT NULL AND r >= rs THEN share
        |    ELSE CAST(n_tokens * 2 AS DOUBLE) END, 6) AS alloc_tokens,
        |  round(CASE WHEN rs IS NOT NULL AND r >= rs THEN share
        |    ELSE CAST(n_tokens * 2 AS DOUBLE) END
        |    / CAST(GREATEST(n_tokens, 1) AS DOUBLE), 9) AS epochs
        |FROM j LEFT JOIN star ON TRUE""".stripMargin,

    // RRF hybrid retrieval replayed: both arms rebuilt exactly (cosine
    // ranks as in AnnBruteSql; jaccard from the q_ngram_jaccard shingle
    // construction restricted to shared >= 1 — the equi-join candidate
    // rule), CAST(1 AS DOUBLE) forces IEEE division where DuckDB's bare
    // 1.0 literal is decimal.
    "q_rrf_hybrid" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS d_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
        |sem0 AS (SELECT q_id, d_id, list_cosine_similarity(qe, ne) AS sim
        |         FROM q, c WHERE d_id <> q_id),
        |sem AS (SELECT q_id, d_id, rsem FROM (
        |  SELECT q_id, d_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, d_id) AS rsem
        |  FROM sem0) WHERE rsem <= 20),
        |t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
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
        |  FROM r) WHERE rn <= 10""".stripMargin,

    // SimHash rebuilt from scratch: md5-prefix 60-bit token hash, per-bit
    // majority vote, then an ALL-PAIRS hamming scan — the Spark side's
    // pigeonhole chunk join must find exactly these pairs (it is exact,
    // not probabilistic). Docs with zero tokens would be absent here but
    // present (sig 0) in Spark; the corpus has none.
    "q_dedup_simhash" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS toks
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN bit = 1 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS sig
        |  FROM (
        |    SELECT doc_id, b,
        |      CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |           THEN 1 ELSE 0 END AS bit
        |    FROM th, range(60) AS rb(b)
        |    GROUP BY doc_id, b)
        |  GROUP BY doc_id)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS ham
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 7""".stripMargin,

    // Winnowing replayed literally: md5-prefix hash of every char 8-gram,
    // sliding min over windows of 4, distinct count.
    "q_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 8 THEN
        |      list_transform(range(1, length(text) - 6),
        |        i -> ('0x' || substring(md5(substring(text, i, 8)), 1, 15))::BIGINT)
        |    ELSE CAST([] AS BIGINT[]) END AS h
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN len(h) >= 4 THEN
        |      list_transform(range(1, len(h) - 2), i -> list_min(h[i:i+3]))
        |    ELSE h END AS mins
        |  FROM g)
        |SELECT doc_id, CAST(len(list_distinct(mins)) AS INT) AS n_fp FROM f""".stripMargin,

    // LSH buckets rebuilt from scratch: ±1 plane components from
    // md5("t,p,d") nibble parity, vectors quantized to floor(x·1e6) so
    // every dot is exact integer arithmetic (order-independent) — the
    // candidate sets must therefore match Spark's bit-for-bit; the
    // exact-cosine verify keeps only pairs ≥ θ.
    "q_dedup_embedding" ->
      """WITH w AS (
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
        |  FROM dots GROUP BY vec_id, t),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        |  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT i, j
        |FROM cand JOIN e ea ON ea.vec_id = i JOIN e eb ON eb.vec_id = j
        |WHERE list_cosine_similarity(ea.ve, eb.ve) >= 0.4""".stripMargin,

    "q_ann_lsh" -> AnnLshSql,

    "q_ann_pq" -> AnnPqSql,

    "q_bpe_encode" -> BpeEncodeSql,

    // recall@10 of the PQ index vs the brute-force ground truth
    "q_ann_recall_pq" ->
      s"""WITH bf AS ($AnnBruteSql),
        |pq AS ($AnnPqSql)
        |SELECT bf.q_id, count(pq.n_id) AS n_hit
        |FROM bf LEFT JOIN pq ON bf.q_id = pq.q_id AND bf.n_id = pq.n_id
        |GROUP BY bf.q_id""".stripMargin,

    // spherical k-means replay: stride init (row_number over vec_id %
    // stride), TIE-SAFE argmax-cosine assignment (round(sim, 9) before
    // the argmax, tie → low cid — mirrors AnnIvf.assign simRound=9; a
    // raw-double ORDER BY would let a ULP gap between the two engines'
    // cosine trees flip a near-tie), decimal-exact per-dim mean,
    // reassign, aggregate
    "q_kmeans" ->
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
        |FROM a2 GROUP BY cid""".stripMargin,

    // IVF replayed: stride-init centroids (no Lloyd refinement → no
    // float averaging), argmax-cosine assignment, top-4 probed cells,
    // exact rank within the probed union.
    "q_ann_ivf" -> AnnIvfSql,

    // AnnIvfSql's stride-init centroid CTEs, then top-2 rounded sims
    // per vector and the (s1−s2)/(1−s2) silhouette fold
    "q_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |st AS (SELECT greatest(count(*) // 16, 1) AS stride FROM e),
        |c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, ve AS ce
        |      FROM e, st WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),
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
        |FROM pv GROUP BY cid ORDER BY cid""".stripMargin,

    // q_silhouette's stride-init + rounded-argmax assignment CTEs,
    // then the pair-counting ARI off the cells × sources contingency
    // table — doubled pair sums Σx(x−1) stay BIGINT-exact, one
    // closed-form double tree at the end (identical tree in Spark)
    "q_rand_index" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |st AS (SELECT greatest(count(*) // 16, 1) AS stride FROM e),
        |c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, ve AS ce
        |      FROM e, st WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),
        |sims AS (SELECT e.vec_id AS id, c.cid,
        |    round(list_cosine_similarity(ve, ce), 9) AS sim FROM e CROSS JOIN c),
        |rk AS (SELECT id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cid) AS rr FROM sims),
        |asn AS (SELECT id, cid FROM rk WHERE rr = 1),
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
        |FROM x CROSS JOIN aa CROSS JOIN bb""".stripMargin,

    // exact integer counts + the one shared Flesch IEEE tree; tokens
    // via the house whitespace-split twin, syllables as vowel-group
    // runs floored at 1 per word, sentences as non-blank [.!?]+ splits
    "q_readability" ->
      """WITH b AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS toks,
        |  list_filter(string_split_regex(text, '[.!?]+'), x -> trim(x) <> '') AS sents
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  CAST(len(sents) AS BIGINT) AS n_sentences,
        |  CAST(COALESCE(list_sum(list_transform(toks,
        |    w -> GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 0) AS BIGINT) AS n_syllables,
        |  round(206.835
        |    - 1.015 * (CAST(len(toks) AS DOUBLE)
        |      / CAST(GREATEST(len(sents), 1) AS DOUBLE))
        |    - 84.6 * (CAST(COALESCE(list_sum(list_transform(toks,
        |        w -> GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 0) AS DOUBLE)
        |      / CAST(GREATEST(len(toks), 1) AS DOUBLE)), 6) AS flesch
        |FROM b""".stripMargin,

    // recall@10 of the IVF index vs the brute-force ground truth —
    // same acceptance metric as q_ann_recall for the LSH index
    "q_ann_recall_ivf" ->
      s"""WITH bf AS ($AnnBruteSql),
        |iv AS ($AnnIvfSql)
        |SELECT bf.q_id, count(iv.n_id) AS n_hit
        |FROM bf LEFT JOIN iv ON bf.q_id = iv.q_id AND bf.n_id = iv.n_id
        |GROUP BY bf.q_id""".stripMargin,

    // recall@10 of the composed IVF×PQ serve (probed cells only, ADC
    // scoring) vs the brute-force ground truth
    "q_ann_recall_ivfpq" ->
      s"""WITH bf AS ($AnnBruteSql),
        |ip AS ($AnnIvfPqSql)
        |SELECT bf.q_id, count(ip.n_id) AS n_hit
        |FROM bf LEFT JOIN ip ON bf.q_id = ip.q_id AND bf.n_id = ip.n_id
        |GROUP BY bf.q_id""".stripMargin,

    "q_lang_id" ->
      """WITH b AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS toks
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS en,
        |  len(list_filter(toks, x -> x IN ('el','la','de','y','que'))) AS es,
        |  len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS de,
        |  len(list_filter(toks, x -> x IN ('le','les','et','des','une'))) AS fr
        |  FROM b)
        |SELECT doc_id,
        |  CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |       WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |       WHEN de >= fr AND de > 0 THEN 'de'
        |       WHEN fr > 0 THEN 'fr'
        |       ELSE 'unknown' END AS lang_pred
        |FROM sc""".stripMargin,

    "q_quality_score" ->
      """WITH b AS (SELECT doc_id, text AS t,
        |  CAST(GREATEST(LENGTH(text), 1) AS DOUBLE) AS n,
        |  list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  LEAST(CAST(LENGTH(t) AS DOUBLE) / 500.0, 1.0) * 0.25
        |  + (CAST(LENGTH(REGEXP_REPLACE(t, '[^A-Za-z]', '', 'g')) AS DOUBLE) / n) * 0.35
        |  + (1.0 - CAST(LENGTH(REGEXP_REPLACE(t, '[^!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / n) * 0.2
        |  + LEAST((CASE WHEN len(toks) = 0 THEN 0.0
        |           ELSE CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with','as','at','by','it','that'))) AS DOUBLE)
        |                / CAST(len(toks) AS DOUBLE) END) * 4.0, 1.0) * 0.2 AS quality
        |FROM b""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS n_ws,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]')) AS n_bpe
        |FROM documents""".stripMargin,

    // Exact all-pairs Jaccard via the INVERTED-INDEX join (r10): pairs
    // come from the per-gram equi-join (|A∩B| = shared-gram count,
    // |A∪B| = |A|+|B|−|A∩B|; sh is list_distinct so the identity is
    // exact, and ≥0.8 > 0 means zero-overlap pairs can't qualify) —
    // value-identical to the quadratic `FROM sh a, sh b` scan but
    // Σ df² instead of n²: the sf0.01 replay drops ~30 s → ~2 s and
    // sf0.1 stops timing out. Same ground truth, same doubles.
    "q_dedup_minhash" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents),
        |sh AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |isect AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j,
        |  CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jac
        |FROM isect
        |JOIN sz sa ON sa.doc_id = i
        |JOIN sz sb ON sb.doc_id = j
        |WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.8""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 40),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |  CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jac
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id""".stripMargin,

    // duplicated-span replay: gram identity is the md5-prefix 60-bit
    // hash on BOTH engines (the q_fingerprint construction) — grouping
    // parity holds even under a hash collision, because both engines
    // collide identically; same ≥2 occurrence rule, same window-merge
    // coverage
    "q_substring_dedup" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |g AS (SELECT doc_id, len(tk) AS n_tokens,
        |    CASE WHEN len(tk) >= 10 THEN
        |      list_transform(range(1, len(tk) - 8),
        |        i -> ('0x' || substring(md5(array_to_string(tk[i:i+9], ' ')), 1, 15))::BIGINT)
        |    ELSE [] END AS grams
        |  FROM tk),
        |e AS (SELECT doc_id, unnest(grams) AS gram,
        |    unnest(range(1, len(grams) + 1)) AS pos FROM g),
        |d AS (SELECT gram FROM e GROUP BY gram HAVING count(*) >= 2),
        |dw AS (SELECT e.doc_id, e.pos FROM e JOIN d USING (gram)),
        |cov AS (SELECT doc_id, pos,
        |    max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM dw),
        |agg AS (SELECT doc_id,
        |    CAST(SUM(pos + 10 - GREATEST(pos, COALESCE(prev_end, pos))) AS BIGINT) AS n_dup_tokens,
        |    COUNT(*) AS n_dup_windows
        |  FROM cov GROUP BY doc_id)
        |SELECT g.doc_id, g.n_tokens,
        |  COALESCE(agg.n_dup_tokens, 0) AS n_dup_tokens,
        |  COALESCE(agg.n_dup_windows, 0) AS n_dup_windows
        |FROM g LEFT JOIN agg USING (doc_id)""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'text' AS kind,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS checksum,
        |  CAST((doc_id * 37) % 1024 + 64 AS INT) AS width_px,
        |  CAST(length(text) * 40 AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,

    "q_set_ops" ->
      """WITH c95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |c96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |labeled AS (
        |  SELECT 'only_1995' AS grp, o_custkey FROM (SELECT o_custkey FROM c95 EXCEPT SELECT o_custkey FROM c96)
        |  UNION ALL
        |  SELECT 'both' AS grp, o_custkey FROM (SELECT o_custkey FROM c95 INTERSECT SELECT o_custkey FROM c96))
        |SELECT grp, count(*) AS n FROM labeled GROUP BY grp""".stripMargin,

    "q_full_outer_join" ->
      """SELECT count(*) AS n_rows,
        |  count(c_custkey) AS n_left, count(o_orderkey) AS n_right,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_only,
        |  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_only
        |FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |  ON c_custkey = o_custkey""".stripMargin,

    "q_cross_join" ->
      """SELECT r_name, count(*) AS n
        |FROM (SELECT r_name FROM region) CROSS JOIN (SELECT n_name FROM nation)
        |GROUP BY r_name""".stripMargin,

    "q_stats_agg" ->
      """WITH g AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS nd,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sx2,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sy2,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  ROUND((nd * sx2 - sx * sx) / (nd * (nd - 1.0)), 9) AS var_qty,
        |  ROUND((nd * sxy - sx * sy) /
        |    sqrt((nd * sx2 - sx * sx) * (nd * sy2 - sy * sy)), 9) AS corr_qty_price
        |FROM g""".stripMargin,

    "q_trend_fit" ->
      """WITH g AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sx2
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n AS DOUBLE) * sx2 - sx * sx), 9) AS slope,
        |  ROUND((sy * sx2 - sx * sxy)
        |    / (CAST(n AS DOUBLE) * sx2 - sx * sx), 9) AS intercept
        |FROM g ORDER BY l_returnflag""".stripMargin,

    "q_welch_ttest" ->
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sx2
        |  FROM events GROUP BY event_type),
        |p AS (SELECT a.event_type AS e1, b.event_type AS e2,
        |    a.n AS n1, b.n AS n2, a.sx AS sxa, a.sx2 AS sxa2,
        |    b.sx AS sxb, b.sx2 AS sxb2
        |  FROM g a JOIN g b ON a.event_type < b.event_type),
        |v AS (SELECT e1, e2, n1, n2, sxa, sxb,
        |    ((CAST(n1 AS DOUBLE) * sxa2 - sxa * sxa)
        |      / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))
        |      / CAST(n1 AS DOUBLE) AS se1,
        |    ((CAST(n2 AS DOUBLE) * sxb2 - sxb * sxb)
        |      / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)))
        |      / CAST(n2 AS DOUBLE) AS se2
        |  FROM p)
        |SELECT e1, e2, n1, n2,
        |  ROUND((sxa / CAST(n1 AS DOUBLE) - sxb / CAST(n2 AS DOUBLE))
        |    / sqrt(se1 + se2), 9) AS t_stat,
        |  ROUND((se1 + se2) * (se1 + se2)
        |    / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)
        |       + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)), 6) AS df
        |FROM v ORDER BY e1, e2""".stripMargin,

    "q_ks_test" ->
      (ArmCdfGridSql +
      """SELECT e1, e2, n1, n2,
        |  ROUND(CAST(MAX(ABS(CAST(cum1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))
        |      - CAST(cum2 AS DECIMAL(19,0)) * CAST(n1 AS DECIMAL(19,0)))) AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 9) AS d_stat
        |FROM j GROUP BY e1, e2, n1, n2 ORDER BY e1, e2""").stripMargin,

    // pooled midrank score (integer m2 per grid value), integer floor-
    // division bins, decimal bin sums — three closing divisions
    // same pooled grid; the per-(arm, value) Brier term is the
    // identical double tree round(9) into a DECIMAL sum
    "q_brier" ->
      (ArmCumGridSql.stripSuffix("\n") +
      """,
        |nn AS (SELECT CAST(SUM(n) AS BIGINT) AS N FROM tot),
        |vb AS (SELECT v, cp, 2 * cumsum - cp + 1 AS m2 FROM (
        |  SELECT v, CAST(SUM(c) AS BIGINT) AS cp,
        |    CAST(SUM(cum) AS BIGINT) AS cumsum FROM cum GROUP BY v)),
        |te AS (SELECT cum.arm,
        |    CAST(round(CAST(cum.c AS DOUBLE)
        |      * (CAST(m2 AS DOUBLE) / (2.0 * CAST(N AS DOUBLE)) - 1.0)
        |      * (CAST(m2 AS DOUBLE) / (2.0 * CAST(N AS DOUBLE)) - 1.0)
        |    + CAST(vb.cp - cum.c AS DOUBLE)
        |      * (CAST(m2 AS DOUBLE) / (2.0 * CAST(N AS DOUBLE)))
        |      * (CAST(m2 AS DOUBLE) / (2.0 * CAST(N AS DOUBLE))), 9)
        |      AS DECIMAL(28,9)) AS term,
        |    N
        |  FROM cum JOIN vb ON vb.v = cum.v CROSS JOIN nn)
        |SELECT te.arm, tot.n,
        |  round(CAST(SUM(term) AS DOUBLE) / CAST(te.N AS DOUBLE), 9) AS brier
        |FROM te JOIN tot ON tot.arm = te.arm
        |GROUP BY te.arm, tot.n, te.N ORDER BY te.arm""").stripMargin,

    // calibration's grid CTEs verbatim; per-bin REL/RES terms are the
    // identical double trees round(9) into DECIMAL sums
    "q_murphy" ->
      (ArmCumGridSql.stripSuffix("\n") +
      """,
        |nn AS (SELECT CAST(SUM(n) AS BIGINT) AS N FROM tot),
        |pooled AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cp,
        |    CAST(SUM(cum) AS BIGINT) AS cumsum FROM cum GROUP BY v),
        |vb AS (SELECT v, cp, 2 * cumsum - cp + 1 AS m2,
        |    CAST(LEAST((10 * (2 * cumsum - cp + 1)) // (2 * N), 9) AS INT) AS bin
        |  FROM pooled CROSS JOIN nn),
        |bins AS (SELECT bin, CAST(SUM(cp) AS BIGINT) AS nb,
        |    CAST(SUM(CAST(CAST(cp AS DECIMAL(19,0)) * CAST(m2 AS DECIMAL(19,0))
        |      AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s2
        |  FROM vb GROUP BY bin),
        |pos AS (SELECT cum.arm, vb.bin, CAST(COALESCE(SUM(cum.c), 0) AS BIGINT) AS pos
        |  FROM cum JOIN vb ON vb.v = cum.v GROUP BY 1, 2),
        |te AS (SELECT pos.arm, tot.n, nn.N AS nt,
        |    CAST(round(CAST(nb AS DOUBLE)
        |      * (CAST(s2 AS DOUBLE) / (2.0 * CAST(nn.N AS DOUBLE) * CAST(nb AS DOUBLE))
        |         - CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE))
        |      * (CAST(s2 AS DOUBLE) / (2.0 * CAST(nn.N AS DOUBLE) * CAST(nb AS DOUBLE))
        |         - CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE)), 9) AS DECIMAL(28,9)) AS rel_t,
        |    CAST(round(CAST(nb AS DOUBLE)
        |      * (CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE)
        |         - CAST(tot.n AS DOUBLE) / CAST(nn.N AS DOUBLE))
        |      * (CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE)
        |         - CAST(tot.n AS DOUBLE) / CAST(nn.N AS DOUBLE)), 9) AS DECIMAL(28,9)) AS res_t
        |  FROM pos JOIN bins ON bins.bin = pos.bin
        |  JOIN tot ON tot.arm = pos.arm CROSS JOIN nn),
        |ag AS (SELECT arm, n, nt,
        |    round(CAST(SUM(rel_t) AS DOUBLE) / CAST(nt AS DOUBLE), 9) AS rel,
        |    round(CAST(SUM(res_t) AS DOUBLE) / CAST(nt AS DOUBLE), 9) AS res,
        |    round(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)
        |      * (1.0 - CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)), 9) AS unc
        |  FROM te GROUP BY arm, n, nt)
        |SELECT arm, n, rel, res, unc,
        |  round(rel - res + unc, 9) AS brier_binned
        |FROM ag ORDER BY arm""").stripMargin,

    "q_calibration" ->
      (ArmCumGridSql.stripSuffix("\n") +
      """,
        |nn AS (SELECT CAST(SUM(n) AS BIGINT) AS N FROM tot),
        |pooled AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cp,
        |    CAST(SUM(cum) AS BIGINT) AS cumsum FROM cum GROUP BY v),
        |vb AS (SELECT v, cp, 2 * cumsum - cp + 1 AS m2,
        |    CAST(LEAST((10 * (2 * cumsum - cp + 1)) // (2 * N), 9) AS INT) AS bin
        |  FROM pooled CROSS JOIN nn),
        |bins AS (SELECT bin, CAST(SUM(cp) AS BIGINT) AS nb,
        |    CAST(SUM(CAST(CAST(cp AS DECIMAL(19,0)) * CAST(m2 AS DECIMAL(19,0))
        |      AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS s2
        |  FROM vb GROUP BY bin),
        |pos AS (SELECT cum.arm, vb.bin, CAST(COALESCE(SUM(cum.c), 0) AS BIGINT) AS pos
        |  FROM cum JOIN vb ON vb.v = cum.v GROUP BY 1, 2)
        |SELECT pos.arm, pos.bin, bins.nb AS n_b, pos.pos AS pos_b,
        |  round(CAST(pos.pos AS DOUBLE) / CAST(bins.nb AS DOUBLE), 9) AS acc,
        |  round(CAST(bins.s2 AS DOUBLE)
        |    / (2.0 * CAST(nn.N AS DOUBLE) * CAST(bins.nb AS DOUBLE)), 9) AS conf,
        |  round(CAST(ABS(CAST(pos.pos AS DECIMAL(19,0)) * 2
        |      * CAST(nn.N AS DECIMAL(19,0)) - bins.s2) AS DOUBLE)
        |    / (2.0 * CAST(nn.N AS DOUBLE) * CAST(nn.N AS DOUBLE)), 9) AS ece_term
        |FROM pos JOIN bins ON bins.bin = pos.bin CROSS JOIN nn
        |ORDER BY pos.arm, pos.bin""").stripMargin,

    // KS's grid with SUM·gap instead of MAX: the CDF-difference
    // integral, integer/decimal-exact until the one closing division
    "q_wasserstein" ->
      (ArmCdfGridSql +
      """, st AS (SELECT e1, e2, n1, n2, cum1, cum2,
        |    lead(v) OVER (PARTITION BY e1, e2 ORDER BY v) - v AS dv FROM j)
        |SELECT e1, e2, n1, n2,
        |  ROUND(CAST(SUM(CAST(ABS(CAST(cum1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))
        |        - CAST(cum2 AS DECIMAL(19,0)) * CAST(n1 AS DECIMAL(19,0))) AS DECIMAL(24,0))
        |      * CAST(dv AS DECIMAL(13,2))) AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 9) AS w1
        |FROM st WHERE dv IS NOT NULL
        |GROUP BY e1, e2, n1, n2 ORDER BY e1, e2""").stripMargin,

    "q_mannwhitney" ->
      (ArmCdfGridSql +
      """, g AS (SELECT e1, e2, n1, n2,
        |    SUM(CAST(c1 AS DECIMAL(19,0)) *
        |      (CAST(cum2 AS DECIMAL(19,0)) * 2 - CAST(c2 AS DECIMAL(19,0)))) AS u2,
        |    SUM(CAST(c1 + c2 AS DECIMAL(13,0)) * CAST(c1 + c2 AS DECIMAL(13,0))
        |      * CAST(c1 + c2 AS DECIMAL(13,0)) - CAST(c1 + c2 AS DECIMAL(13,0))) AS ties
        |  FROM j GROUP BY e1, e2, n1, n2)
        |SELECT e1, e2, n1, n2, CAST(u2 AS DOUBLE) / 2.0 AS u_stat,
        |  ROUND((CAST(u2 AS DOUBLE) / 2.0
        |      - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
        |    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |      ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
        |       - CAST(ties AS DOUBLE) / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |         * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))), 9) AS z_stat
        |FROM g ORDER BY e1, e2""").stripMargin,

    // per-arm decimal-exact moments, arms^2 self-join of the identical
    // fixed double trees
    "q_cohens_d" ->
      """WITH m AS (SELECT event_type AS arm, CAST(count(*) AS BIGINT) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sv,
        |    SUM(CAST(CAST(value AS DECIMAL(18,2))
        |      * CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS svv
        |  FROM events GROUP BY 1)
        |SELECT a.arm AS e1, b.arm AS e2, a.n AS n1, b.n AS n2,
        |  round((CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    / sqrt(((CAST(a.svv AS DOUBLE)
        |        - CAST(a.sv AS DOUBLE) * CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE))
        |      + (CAST(b.svv AS DOUBLE)
        |        - CAST(b.sv AS DOUBLE) * CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE)))
        |      / (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) - 2.0)), 9) AS cohens_d,
        |  round((1.0 - 3.0
        |      / (4.0 * (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE)) - 9.0))
        |    * ((CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    / sqrt(((CAST(a.svv AS DOUBLE)
        |        - CAST(a.sv AS DOUBLE) * CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE))
        |      + (CAST(b.svv AS DOUBLE)
        |        - CAST(b.sv AS DOUBLE) * CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE)))
        |      / (CAST(a.n AS DOUBLE) + CAST(b.n AS DOUBLE) - 2.0))), 9) AS hedges_g
        |FROM m a JOIN m b ON a.arm < b.arm ORDER BY 1, 2""".stripMargin,

    // the U test's own decimal doubled rank-sum, one closing division
    "q_cliffs_delta" ->
      (ArmCdfGridSql +
      """, g AS (SELECT e1, e2, n1, n2,
        |    SUM(CAST(c1 AS DECIMAL(19,0)) *
        |      (CAST(cum2 AS DECIMAL(19,0)) * 2 - CAST(c2 AS DECIMAL(19,0)))) AS u2
        |  FROM j GROUP BY e1, e2, n1, n2)
        |SELECT e1, e2, n1, n2,
        |  round(CAST(u2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    - 1.0, 9) AS cliffs_delta
        |FROM g ORDER BY e1, e2""").stripMargin,

    "q_bootstrap_ci" ->
      """WITH ev AS (SELECT event_type AS arm, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |hw AS (SELECT arm, r, v,
        |    ('0x' || substring(md5('boot:' || CAST(event_id AS VARCHAR)
        |      || ':' || CAST(r AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM ev CROSS JOIN (SELECT unnest(range(200)) AS r)),
        |ww AS (SELECT arm, r, v, CASE
        |    WHEN h < 424136118829305329 THEN 0
        |    WHEN h < 848272237658610659 THEN 1
        |    WHEN h < 1060340297073263324 THEN 2
        |    WHEN h < 1131029650211480879 THEN 3
        |    WHEN h < 1148701988496035267 THEN 4
        |    WHEN h < 1152236456152946145 THEN 5
        |    WHEN h < 1152825534095764625 THEN 6
        |    WHEN h < 1152909688087595836 THEN 7
        |    WHEN h < 1152920207336574738 THEN 8
        |    ELSE 9 END AS w FROM hw),
        |rep AS (SELECT arm, r,
        |    ROUND(CAST(SUM(CAST(v * CAST(w AS DECIMAL(2,0)) AS DECIMAL(28,4))) AS DOUBLE)
        |      / CAST(SUM(w) AS DOUBLE), 9) AS m
        |  FROM ww GROUP BY arm, r),
        |rk AS (SELECT arm, m,
        |    row_number() OVER (PARTITION BY arm ORDER BY m, r) AS rn FROM rep),
        |st AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |    ROUND(CAST(SUM(CAST(v AS DECIMAL(28,4))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE), 9) AS mean
        |  FROM ev GROUP BY arm)
        |SELECT st.arm, n, mean,
        |  MIN(CASE WHEN rn = 5 THEN m END) AS ci_lo,
        |  MAX(CASE WHEN rn = 196 THEN m END) AS ci_hi
        |FROM rk JOIN st ON st.arm = rk.arm
        |GROUP BY st.arm, n, mean""".stripMargin,

    "q_auc" ->
      """WITH h AS (SELECT event_type AS arm, CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |grid AS (SELECT arm, v FROM (SELECT DISTINCT arm FROM h)
        |  CROSS JOIN (SELECT DISTINCT v FROM h)),
        |f AS (SELECT grid.arm, grid.v, COALESCE(h.c, 0) AS c FROM grid
        |  LEFT JOIN h ON h.arm = grid.arm AND h.v = grid.v),
        |cl AS (SELECT arm, v, c,
        |    CAST(COALESCE(SUM(c) OVER (PARTITION BY arm ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumlt
        |  FROM f),
        |vv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS tc,
        |    CAST(SUM(cumlt) AS BIGINT) AS cumlt_tot FROM cl GROUP BY v),
        |per AS (SELECT arm,
        |    SUM(CAST(cl.c AS DECIMAL(18,0)) *
        |      (CAST(vv.cumlt_tot - cl.cumlt AS DECIMAL(18,0)) * 2 +
        |       CAST(vv.tc - cl.c AS DECIMAL(18,0)))) AS u2,
        |    CAST(SUM(cl.c) AS BIGINT) AS n_pos
        |  FROM cl JOIN vv ON vv.v = cl.v GROUP BY arm),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM h)
        |SELECT arm, n_pos, nn - n_pos AS n_neg,
        |  ROUND(CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE)
        |    * CAST(nn - n_pos AS DOUBLE)), 9) AS auc
        |FROM per, tot ORDER BY arm""".stripMargin,

    "q_lift" ->
      """WITH h AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cp
        |  FROM events GROUP BY 1),
        |cl AS (SELECT v, c, cp,
        |    CAST(COALESCE(SUM(c) OVER (ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumlt
        |  FROM h),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn,
        |    CAST(SUM(cp) AS BIGINT) AS np FROM h),
        |b AS (SELECT LEAST(9, CAST(FLOOR(cumlt * 10.0 / nn) AS BIGINT)) AS band,
        |    c, cp, nn, np FROM cl, tot)
        |SELECT band, CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(cp) AS BIGINT) AS n_pos,
        |  ROUND(CAST(SUM(cp) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 9) AS rate,
        |  ROUND((CAST(SUM(cp) AS DOUBLE) * CAST(nn AS DOUBLE))
        |    / (CAST(SUM(c) AS DOUBLE) * CAST(np AS DOUBLE)), 9) AS lift
        |FROM b GROUP BY band, nn, np ORDER BY band""".stripMargin,

    "q_quantile_norm" ->
      """WITH h AS (SELECT source AS src, n_chars AS x,
        |    CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1, 2),
        |grid AS (SELECT src, x FROM (SELECT DISTINCT src FROM h)
        |  CROSS JOIN (SELECT DISTINCT x FROM h)),
        |f AS (SELECT grid.src, grid.x, COALESCE(h.c, 0) AS c FROM grid
        |  LEFT JOIN h ON h.src = grid.src AND h.x = grid.x),
        |cc AS (SELECT src, x, c,
        |    CAST(COALESCE(SUM(c) OVER (PARTITION BY src ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumlt,
        |    CAST(COALESCE(SUM(c) OVER (PARTITION BY src ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c AS BIGINT) AS cum
        |  FROM f),
        |pooled AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cp,
        |    CAST(SUM(cum) AS BIGINT) AS cum_p FROM cc GROUP BY x),
        |ns AS (SELECT src, CAST(SUM(c) AS BIGINT) AS nsrc FROM h GROUP BY src),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM h),
        |kk AS (SELECT cc.src, cc.x,
        |    (CAST(2 * cc.cumlt + cc.c + 1 AS HUGEINT) * nn + 2 * ns.nsrc - 1)
        |      // (2 * ns.nsrc) AS k
        |  FROM cc JOIN ns ON ns.src = cc.src, tot WHERE cc.c > 0)
        |SELECT kk.src AS source, kk.x AS n_chars, p.x AS norm
        |FROM kk JOIN pooled p ON kk.k BETWEEN p.cum_p - p.cp + 1 AND p.cum_p
        |ORDER BY source, n_chars""".stripMargin,

    "q_changepoint" ->
      """WITH daily AS (SELECT event_type AS arm, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sd
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT arm, day, n, sd,
        |    CAST(SUM(n) OVER (PARTITION BY arm ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
        |    SUM(sd) OVER (PARTITION BY arm ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS cs
        |  FROM daily),
        |tot AS (SELECT arm, CAST(SUM(n) AS BIGINT) AS nn, SUM(sd) AS ss,
        |    MAX(day) AS last_day FROM daily GROUP BY arm),
        |dev AS (SELECT cum.arm, cum.day,
        |    ABS(cum.cs * tot.nn - tot.ss * cum.cn) AS dev
        |  FROM cum JOIN tot ON tot.arm = cum.arm
        |  WHERE cum.day < tot.last_day),
        |rk AS (SELECT arm, day, dev,
        |    row_number() OVER (PARTITION BY arm ORDER BY dev DESC, day ASC) AS rn
        |  FROM dev)
        |SELECT arm, day AS cp_day, CAST(dev AS DOUBLE) AS dev
        |FROM rk WHERE rn = 1 ORDER BY arm""".stripMargin,

    "q_arg_minmax" ->
      """SELECT o_custkey,
        |  max(CASE WHEN rn_max = 1 THEN o_orderkey END) AS max_order,
        |  max(CASE WHEN rn_min = 1 THEN o_orderkey END) AS min_order
        |FROM (SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_min
        |  FROM orders)
        |WHERE o_custkey < 50
        |GROUP BY o_custkey""".stripMargin,

    "q_string_agg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q_repetition" ->
      """SELECT doc_id,
        |  1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(greatest(len(tk), 1) AS DOUBLE)
        |    AS dup_ratio
        |FROM (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents)
        |WHERE 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(greatest(len(tk), 1) AS DOUBLE) > 0.5""".stripMargin,

    "q_contamination" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 3),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS sh
        |  FROM t WHERE len(tk) >= 5),
        |train AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id >= 10),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id < 10)
        |SELECT DISTINCT train.doc_id
        |FROM train JOIN bench ON train.g = bench.g""".stripMargin,

    "q_unpivot" ->
      """SELECT measure,
        |  CAST(ROUND(SUM(CAST(val AS DECIMAL(18,2))), 2) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM (
        |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |GROUP BY measure""".stripMargin,

    "q_null_safe" ->
      """SELECT label, count(*) AS n
        |FROM (SELECT nullif(o_orderstatus, 'P') AS k FROM orders) o
        |JOIN (VALUES ('F', 'finished'), ('O', 'open'), (NULL, 'pending'))
        |  AS d(k2, label)
        |ON o.k IS NOT DISTINCT FROM d.k2
        |GROUP BY label""".stripMargin,

    "q_window_extras" ->
      """SELECT o_custkey, o_orderkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin,

    // deliberately the UNSALTED join: salting must be row-invisible
    "q_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q_sample_topk_stratum" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
        |  FROM documents)
        |WHERE rk <= 5""".stripMargin,

    // Efraimidis–Spirakis replay: same 60-bit md5 uniform, same
    // ln(u)/w ranking key; ln decides only the order
    "q_weighted_sample" ->
      """SELECT source, rnk, doc_id FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY
        |      ln((CAST(('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE) + 0.5)
        |         / CAST(1152921504606846976 AS DOUBLE)) / CAST(n_chars AS DOUBLE) DESC,
        |      doc_id ASC) AS INT) AS rnk
        |  FROM documents WHERE n_chars > 0)
        |WHERE rnk <= 5""".stripMargin,

    // per-user event gaps are >> 1 µs, so Spark's µs timestamps and
    // DuckDB's native ns timestamps order identically here
    "q_asof_join" ->
      """SELECT c.event_id AS click_id, arg_max(v.event_id, v.ts) AS view_id
        |FROM events c LEFT JOIN events v
        |  ON v.user_id = c.user_id AND v.event_type = 'view' AND v.ts <= c.ts
        |WHERE c.event_type = 'click'
        |GROUP BY c.event_id""".stripMargin,

    "q_range_join" ->
      """SELECT o_orderkey, count(*) AS n
        |FROM orders JOIN lineitem
        |  ON CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
        | AND CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE) + INTERVAL 7 DAY
        |WHERE o_orderkey % 1000 = 0
        |GROUP BY o_orderkey""".stripMargin,

    // shared near-dup pair + component CTEs (NearDupComponentsSql),
    // then the min-label publish
    "q_dedup_cluster" ->
      (NearDupComponentsSql +
      """SELECT doc.doc_id, CAST(COALESCE(LEAST(c.mn, doc.doc_id), doc.doc_id) AS BIGINT) AS cluster_id
        |FROM documents doc LEFT JOIN comp c ON c.id = doc.doc_id"""
        .stripMargin),

    "q_sample_hash" ->
      """SELECT source, count(*) AS n_sampled FROM documents
        |WHERE substr(md5(text), 1, 4) < '1999'
        |GROUP BY source""".stripMargin,

    "q_sample_stratified" ->
      """SELECT source, count(*) AS n_sampled FROM documents
        |WHERE substr(md5(text), 1, 4) <
        |  CASE source WHEN 'src0' THEN 'ffff' WHEN 'src1' THEN '8000'
        |              WHEN 'src2' THEN '1999' END
        |GROUP BY source""".stripMargin,

    "q_tfidf" ->
      """WITH terms AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS term
        |  FROM documents WHERE doc_id < 200),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT doc_id, term, rnk FROM (
        |  SELECT tf.doc_id, tf.term,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) / CAST(dfq.df AS DOUBLE) DESC,
        |               tf.term ASC) AS rnk
        |  FROM tf JOIN dfq USING (term))
        |WHERE rnk <= 3""".stripMargin,

    "q_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    'user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9-]{7,}', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "q_bigrams" ->
      """WITH t AS (SELECT list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM t WHERE len(tk) >= 2)
        |SELECT bigram, count(*) AS cnt FROM bg
        |GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 50""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS nt
        |  FROM documents),
        |p AS (SELECT source, nt,
        |    CAST((SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
        |                        ROWS UNBOUNDED PRECEDING) - nt) // 512 AS BIGINT) AS bin
        |  FROM t)
        |SELECT source, bin, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS tok_sum
        |FROM p GROUP BY source, bin""".stripMargin,

    "q_shuffle_order" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |FROM documents ORDER BY rnk LIMIT 100""".stripMargin,

    "q_len_histogram" ->
      """SELECT n_chars // 64 AS bucket, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_c, MAX(n_chars) AS max_c
        |FROM documents GROUP BY 1""".stripMargin,

    "q_vocab_top_per_source" ->
      """WITH c AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |  FROM documents),
        |g AS (SELECT source, token, COUNT(*) AS cnt FROM c GROUP BY source, token),
        |r AS (SELECT source, token, cnt,
        |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, token ASC) AS rn
        |  FROM g)
        |SELECT source, token, cnt FROM r WHERE rn = 1""".stripMargin,

    "q_skew_kurt" ->
      """WITH g AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS nd,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(18,4)) AS DECIMAL(28,4))) AS DOUBLE) AS sx2,
        |    CAST(sum(CAST(CAST(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(28,6))) AS DOUBLE) AS sx3,
        |    CAST(sum(CAST(CAST(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(18,4)) * CAST(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sx4
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  ROUND((sx3 / nd - 3.0 * (sx / nd) * (sx2 / nd) + 2.0 * (sx / nd) * (sx / nd) * (sx / nd)) /
        |    ((sx2 / nd - (sx / nd) * (sx / nd)) * sqrt(sx2 / nd - (sx / nd) * (sx / nd))), 9) AS skew_qty,
        |  ROUND((sx4 / nd - 4.0 * (sx / nd) * (sx3 / nd) + 6.0 * (sx / nd) * (sx / nd) * (sx2 / nd) -
        |    3.0 * (sx / nd) * (sx / nd) * (sx / nd) * (sx / nd)) /
        |    ((sx2 / nd - (sx / nd) * (sx / nd)) * (sx2 / nd - (sx / nd) * (sx / nd))) - 3.0, 9) AS kurt_qty
        |FROM g""".stripMargin,

    "q_char_ngrams" ->
      """WITH t AS (SELECT lower(text) AS tx FROM documents WHERE doc_id < 100),
        |g AS (SELECT unnest(list_transform(range(1, len(tx) - 1),
        |    i -> substring(tx, i, 3))) AS gram
        |  FROM t WHERE len(tx) >= 3)
        |SELECT gram, count(*) AS cnt FROM g
        |GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 50""".stripMargin,

    "q_ratio_window" ->
      """SELECT user_id, event_id,
        |  ROUND(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) /
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id) AS DOUBLE), 9) AS share
        |FROM events WHERE user_id < 3""".stripMargin,

    "q_freq_sketch" ->
      """SELECT event_type AS item, COUNT(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,

    "q_cooccur" ->
      """WITH t AS (SELECT list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 200),
        |s AS (SELECT tk, len(tk) AS n FROM t WHERE len(tk) >= 2),
        |p AS (SELECT unnest(flatten(list_transform(range(1, n),
        |    i -> list_transform(range(i + 1, least(i + 4, n) + 1),
        |      j -> least(tk[i], tk[j]) || ' ' || greatest(tk[i], tk[j]))))) AS pair
        |  FROM s)
        |SELECT pair, count(*) AS cnt FROM p
        |GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,

    "q_vocab_overlap" ->
      """WITH d AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |g AS (SELECT token,
        |    MAX(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a,
        |    MAX(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS b
        |  FROM d GROUP BY token)
        |SELECT CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(b) AS BIGINT) AS n_b,
        |  CAST(SUM(a * b) AS BIGINT) AS n_common FROM g""".stripMargin,

    // rebuilds the identical deterministic KMV sketches in SQL — the
    // k-smallest-distinct set is engine-independent by construction
    "q_kmv_overlap" ->
      """WITH tok AS (SELECT DISTINCT source,
        |    ('0x' || substring(md5(token), 1, 15))::BIGINT AS h
        |  FROM (SELECT source,
        |      unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |    FROM documents)),
        |sk AS (SELECT source, (list(h ORDER BY h))[1:256] AS mins
        |  FROM tok GROUP BY source),
        |p AS (SELECT a.source AS s1, b.source AS s2, a.mins AS m1, b.mins AS m2
        |  FROM sk a JOIN sk b ON a.source < b.source),
        |u AS (SELECT s1, s2, m1, m2,
        |    (list_sort(list_distinct(list_concat(m1, m2))))[1:256] AS uk FROM p),
        |e AS (SELECT s1, s2, m1, m2, uk, uk[len(uk)] AS kth,
        |    CASE WHEN len(uk) < 256 THEN CAST(len(uk) AS DOUBLE)
        |      ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE)
        |        / CAST(uk[len(uk)] AS DOUBLE) END AS est_u,
        |    len(list_filter(list_intersect(m1, m2), x -> x <= uk[len(uk)])) AS m
        |  FROM u)
        |SELECT s1, s2, CAST(len(m1) AS BIGINT) AS n1,
        |  CAST(len(m2) AS BIGINT) AS n2, CAST(len(uk) AS BIGINT) AS ku,
        |  CAST(m AS BIGINT) AS m, round(est_u, 2) AS est_union,
        |  round(CAST(m AS DOUBLE) / CAST(len(uk) AS DOUBLE) * est_u, 2) AS est_inter
        |FROM e ORDER BY s1, s2""".stripMargin,

    "q_cms_counts" ->
      """WITH tok AS (SELECT token,
        |    ('0x' || substring(md5(token), 1, 15))::BIGINT AS h
        |  FROM (SELECT
        |      unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |    FROM documents)),
        |bc AS (SELECT i, (h >> (i * 12)) & 4095 AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM tok CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
        |  GROUP BY 1, 2),
        |ex AS (SELECT token, h, CAST(count(*) AS BIGINT) AS exact_n
        |  FROM tok GROUP BY token, h
        |  ORDER BY exact_n DESC, token LIMIT 20)
        |SELECT token, exact_n, MIN(c) AS est_n
        |FROM ex JOIN bc ON ((ex.h >> (bc.i * 12)) & 4095) = bc.b
        |GROUP BY token, exact_n""".stripMargin,

    // quantile-sketch replay: the bottom-256-by-hash sample IS
    // row_number() OVER (ORDER BY hash) <= 256 — a set function, so
    // the sampled order statistics replay exactly; exact side is the
    // bounded value-domain histogram cumulative
    "q_quantile_sketch" ->
      """WITH h AS (SELECT event_type, value,
        |    ('0x' || substring(md5('qs:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM events),
        |hd AS (SELECT event_type, hv, MIN(value) AS value
        |  FROM h GROUP BY event_type, hv),
        |s AS (SELECT event_type, value FROM (
        |    SELECT event_type, value,
        |      row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |    FROM hd) WHERE rn <= 256),
        |sq AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sample,
        |    (list_sort(list(value)))[CAST(ceil(COUNT(*) * 0.5) AS INT)] AS sp50,
        |    (list_sort(list(value)))[CAST(ceil(COUNT(*) * 0.9) AS INT)] AS sp90
        |  FROM s GROUP BY event_type),
        |hist AS (SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, value, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS tot
        |  FROM hist),
        |ex AS (SELECT event_type,
        |    MIN(CASE WHEN cum * 100 >= tot * 50 THEN value END) AS ep50,
        |    MIN(CASE WHEN cum * 100 >= tot * 90 THEN value END) AS ep90
        |  FROM cum GROUP BY event_type)
        |SELECT sq.event_type, n_sample, sp50, sp90, ep50, ep90
        |FROM sq JOIN ex ON sq.event_type = ex.event_type
        |ORDER BY sq.event_type""".stripMargin,

    // per-dimension moment replay: decimal-exact sums, one shared
    // closed-form IEEE tree per statistic, round(9)
    "q_vector_stats" ->
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
        |FROM m ORDER BY dim""".stripMargin,

    // curriculum replay: global exclusive running sum of token counts
    // in (n_chars, doc_id) order, integer stage = cum // budget
    "q_curriculum" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |    COALESCE(SUM(n_tok) OVER (ORDER BY n_chars, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d)
        |SELECT CAST(cum // 4000 AS BIGINT) AS stage,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1 ORDER BY stage""".stripMargin,

    // JL projection replay: deterministic Rademacher signs from the
    // md5-60bit hash of (component, dim); 1e-6-quantized inputs summed
    // in exact decimal — integer-exact arithmetic end to end
    "q_random_projection" ->
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
        |FROM s GROUP BY vec_id, j ORDER BY vec_id, j""".stripMargin,

    // MMR replay: 10 unrolled greedy stages (the BpeOracle idiom);
    // round(9) sims and (1 - 0.7) — the literal Scala 1.0 - lambda
    // subtraction — keep the greedy trajectory engine-identical
    "q_mmr" -> MmrOracle,

    // PERCENTILE_CONT replay: integer-hundredths position, histogram
    // cumulative neighbors, shared interpolation tree
    "q_percentile_cont" ->
      """WITH hist AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT l_returnflag, v, c,
        |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM hist)
        |SELECT l_returnflag,
        |  round(MIN(CASE WHEN cum >= (50 * (tot - 1)) // 100 + 1 THEN v END)
        |    + (COALESCE(MIN(CASE WHEN cum >= (50 * (tot - 1)) // 100 + 2 THEN v END),
        |         MIN(CASE WHEN cum >= (50 * (tot - 1)) // 100 + 1 THEN v END))
        |       - MIN(CASE WHEN cum >= (50 * (tot - 1)) // 100 + 1 THEN v END))
        |      * MAX(CAST((50 * (tot - 1)) % 100 AS DOUBLE) / 100.0), 9) AS p50,
        |  round(MIN(CASE WHEN cum >= (90 * (tot - 1)) // 100 + 1 THEN v END)
        |    + (COALESCE(MIN(CASE WHEN cum >= (90 * (tot - 1)) // 100 + 2 THEN v END),
        |         MIN(CASE WHEN cum >= (90 * (tot - 1)) // 100 + 1 THEN v END))
        |       - MIN(CASE WHEN cum >= (90 * (tot - 1)) // 100 + 1 THEN v END))
        |      * MAX(CAST((90 * (tot - 1)) % 100 AS DOUBLE) / 100.0), 9) AS p90
        |FROM cum GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // DiD replay: 4 decimal-exact cell means, one closed-form tree
    "q_did" ->
      """WITH c AS (SELECT
        |    ('0x' || substring(md5('did:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
        |    CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 0 ELSE 1 END AS period,
        |    round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 9) AS m
        |  FROM events GROUP BY 1, 2)
        |SELECT
        |  MAX(CASE WHEN arm = 0 AND period = 0 THEN m END) AS ctrl_pre,
        |  MAX(CASE WHEN arm = 0 AND period = 1 THEN m END) AS ctrl_post,
        |  MAX(CASE WHEN arm = 1 AND period = 0 THEN m END) AS treat_pre,
        |  MAX(CASE WHEN arm = 1 AND period = 1 THEN m END) AS treat_post,
        |  round((MAX(CASE WHEN arm = 1 AND period = 1 THEN m END)
        |       - MAX(CASE WHEN arm = 1 AND period = 0 THEN m END))
        |      - (MAX(CASE WHEN arm = 0 AND period = 1 THEN m END)
        |       - MAX(CASE WHEN arm = 0 AND period = 0 THEN m END)), 9) AS did
        |FROM c""".stripMargin,

    // OHLC replay: open/close via first/last row_number per candle
    "q_ohlc" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value
        |  FROM events),
        |r AS (SELECT e.*,
        |    row_number() OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS ro,
        |    row_number() OVER (PARTITION BY event_type, day ORDER BY ts DESC, event_id DESC) AS rc
        |  FROM e)
        |SELECT event_type, day,
        |  MAX(CASE WHEN ro = 1 THEN value END) AS open,
        |  MAX(CASE WHEN rc = 1 THEN value END) AS close,
        |  MAX(value) AS high, MIN(value) AS low,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS volume
        |FROM r GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin,

    // time-weighted average replay: lead-interval weights in exact
    // decimal, one shared final division
    "q_twa" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS v, epoch_us(ts) AS us
        |  FROM events),
        |l AS (SELECT user_id, v, us,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
        |  FROM e),
        |g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |    SUM(CAST(v * CAST(next_us - us AS DECIMAL(20,0)) AS DECIMAL(38,2))) AS wsum,
        |    CAST(SUM(next_us - us) AS BIGINT) AS dur
        |  FROM l WHERE next_us IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_intervals,
        |  round(CAST(wsum AS DOUBLE) / CAST(dur AS DOUBLE), 9) AS twa
        |FROM g WHERE dur > 0 ORDER BY user_id""".stripMargin,

    // NDCG replay over the shared brute-force/LSH arm CTEs: per-term
    // round(9) then decimal sum (order-free), one final division
    "q_ndcg" ->
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
        |FROM d JOIN i ON d.q_id = i.q_id ORDER BY d.q_id""".stripMargin,

    // k-anonymity replay: identical class counts, generalization
    // ladder, and suppressed-mass rollup
    "q_k_anonymity" ->
      """WITH g0 AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2),
        |keep0 AS (SELECT CAST(nation AS VARCHAR) AS nation_out,
        |    segment AS segment_out, n, 0 AS level FROM g0 WHERE n >= 10),
        |g1 AS (SELECT nation, SUM(n) AS n FROM g0 WHERE n < 10 GROUP BY nation),
        |keep1 AS (SELECT CAST(nation AS VARCHAR) AS nation_out,
        |    '*' AS segment_out, CAST(n AS BIGINT) AS n, 1 AS level
        |  FROM g1 WHERE n >= 10),
        |rest AS (SELECT '*' AS nation_out, '*' AS segment_out,
        |    CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n, 2 AS level
        |  FROM g1 WHERE n < 10 HAVING COALESCE(SUM(n), 0) > 0)
        |SELECT * FROM keep0 UNION ALL SELECT * FROM keep1
        |UNION ALL SELECT * FROM rest
        |ORDER BY level, nation_out, segment_out""".stripMargin,

    // change-point replay: exact-decimal n*S_t = n*cumsum - t*total
    // argmax with earliest-day tie-break; magnitude divides out n once
    "q_change_point" ->
      """WITH d AS (SELECT
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |c AS (SELECT day,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
        |    SUM(rev) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |  FROM d),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, SUM(rev) AS tot FROM d),
        |dev AS (SELECT day, g.nn, abs(cs * g.nn - g.tot * t) AS devn FROM c, g)
        |SELECT day AS change_day,
        |  round(CAST(devn AS DOUBLE) / CAST(nn AS DOUBLE), 9) AS max_dev
        |FROM dev ORDER BY devn DESC, day LIMIT 1""".stripMargin,

    // chunking replay: same 64/48 window arithmetic, 1-based inclusive
    // list slice, md5-60bit fingerprint of the space-joined window
    "q_chunk_text" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |c AS (SELECT doc_id, tk,
        |    unnest(range(0, ((len(tk) - 1) // 48) + 1)) AS chunk_id
        |  FROM d WHERE len(tk) > 0)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  CAST(len(list_slice(tk, chunk_id*48 + 1, chunk_id*48 + 64)) AS BIGINT) AS n_tok,
        |  ('0x' || substring(md5(array_to_string(
        |    list_slice(tk, chunk_id*48 + 1, chunk_id*48 + 64), ' ')), 1, 15))::BIGINT AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // Heaps replay: per-source (N, V) points, zipf's round(9) decimal
    // moment sums, closed-form slope/intercept round(6)
    "q_heaps" ->
      """WITH tc AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT source,
        |      unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
        |        x -> x <> '')) AS token
        |    FROM documents) GROUP BY source, token),
        |pt AS (SELECT source, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS v
        |  FROM tc GROUP BY source),
        |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS np,
        |    CAST(SUM(CAST(round(log2(CAST(n AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(round(log2(CAST(v AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(round(log2(CAST(n AS DOUBLE)) * log2(CAST(v AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(round(log2(CAST(n AS DOUBLE)) * log2(CAST(n AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
        |  FROM pt)
        |SELECT CAST(np AS BIGINT) AS n_sources,
        |  round((np * sxy - sx * sy) / (np * sxx - sx * sx), 6) AS beta,
        |  round((sy - (np * sxy - sx * sy) / (np * sxx - sx * sx) * sx) / np, 6) AS intercept
        |FROM m""".stripMargin,

    // Kendall tau-b replay: integer pair counts, one shared
    // sqrt/division tree round(9)
    "q_kendall" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
        |      t -> t <> '')) AS BIGINT) AS y
        |  FROM documents WHERE doc_id < 200),
        |p AS (SELECT a.x - b.x AS dx, a.y - b.y AS dy
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM p)
        |SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
        |  round(CAST(c - d AS DOUBLE)
        |    / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 9) AS tau_b
        |FROM c""".stripMargin,

    // truncated-RBO replay: same exact-decimal weight VALUES list, the
    // same max(rank_a, rank_b) >= d overlap expansion, round(9) terms
    // decimal-summed
    "q_rbo" ->
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
        |ORDER BY q_id""".stripMargin,

    // source-overlap replay: the q_contamination gram construction per
    // source, md5-60bit gram identity, distinct per source, equi-join
    // on the hash with source_a < source_b
    "q_source_overlap" ->
      """WITH t AS (SELECT source,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (SELECT source, unnest(list_distinct(list_transform(range(1, len(tk) - 3),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))) AS g
        |  FROM t WHERE len(tk) >= 5),
        |sg AS (SELECT DISTINCT source,
        |    ('0x' || substring(md5('so:' || g), 1, 15))::BIGINT AS gh FROM sh),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sg GROUP BY source),
        |iv AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM sg a JOIN sg b ON a.gh = b.gh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared,
        |  round(CAST(n_shared AS DOUBLE)
        |    / CAST(na.n + nb.n - n_shared AS DOUBLE), 9) AS jaccard
        |FROM iv JOIN sz na ON na.source = iv.source_a
        |  JOIN sz nb ON nb.source = iv.source_b
        |ORDER BY source_a, source_b""".stripMargin,

    // vocab-coverage replay: row_number by (cnt desc, token) over the
    // vocab table, conditional integer sums, shared divisions round(9)
    "q_vocab_coverage" ->
      """WITH v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> x <> '')) AS token
        |    FROM documents) GROUP BY token),
        |r AS (SELECT cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token) AS rnk FROM v)
        |SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
        |  round(CAST(CAST(SUM(CASE WHEN rnk <= 100 THEN cnt ELSE 0 END) AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(CAST(SUM(cnt) AS DECIMAL(38,0)) AS DOUBLE), 9) AS cov_100,
        |  round(CAST(CAST(SUM(CASE WHEN rnk <= 1000 THEN cnt ELSE 0 END) AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(CAST(SUM(cnt) AS DECIMAL(38,0)) AS DOUBLE), 9) AS cov_1000
        |FROM r""".stripMargin,

    // Simpson replay: integer n_t(n_t-1) numerator and N(N-1)
    // denominator, one shared division round(9)
    "q_simpson" ->
      """WITH tc AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT source,
        |      unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
        |        x -> x <> '')) AS token
        |    FROM documents) GROUP BY source, token),
        |ag AS (SELECT source,
        |    CAST(SUM(c) AS DECIMAL(38,0)) AS nt,
        |    CAST(COUNT(*) AS BIGINT) AS vocab,
        |    CAST(SUM(CAST(c * (c - 1) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS num
        |  FROM tc GROUP BY source)
        |SELECT source, CAST(nt AS BIGINT) AS n_tokens, vocab,
        |  round(CAST(num AS DOUBLE) / CAST(nt * (nt - 1) AS DOUBLE), 9) AS simpson
        |FROM ag WHERE nt > 1 ORDER BY source""".stripMargin,

    // script-mix replay: identical literal-range classes, global flag
    "q_script_mix" ->
      """SELECT doc_id,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |  CAST(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS BIGINT) AS n_cjk,
        |  CAST(length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS n_cyrillic
        |FROM documents""".stripMargin,

    // median-of-means replay: 16 hash buckets, round(9) bucket means,
    // discrete median via sorted-list indexing
    "q_mom_mean" ->
      """WITH b AS (SELECT event_type,
        |    ('0x' || substring(md5('mom:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS b,
        |    round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 9) AS m,
        |    CAST(COUNT(*) AS BIGINT) AS c,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  (list_sort(list(m)))[CAST(ceil(COUNT(*) * 0.5) AS INT)] AS mom_mean,
        |  round(CAST(SUM(sv) AS DOUBLE) / SUM(c), 9) AS plain_mean
        |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin,

    // SRM replay: two-arm chi-square reduces to (n_a - n_b)^2 / n
    "q_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT user_id,
        |    ('0x' || substring(md5('srm:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm
        |  FROM u),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM a)
        |SELECT n_a, n_b,
        |  round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
        |    / CAST(n_a + n_b AS DOUBLE), 9) AS chi2,
        |  (CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
        |    / CAST(n_a + n_b AS DOUBLE) > 3.841) AS srm_flag
        |FROM c""".stripMargin,

    "q_snm_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]+', ' ', 'g') AS norm
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(norm, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tk,
        |    row_number() OVER (ORDER BY substring(norm, 1, 16), doc_id) - 1 AS rnk
        |  FROM d),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    len(list_intersect(a.tk, b.tk)) AS inter,
        |    len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)) AS uni
        |  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk <= 10)
        |SELECT id1, id2, CAST(inter AS BIGINT) AS inter,
        |  CAST(uni AS BIGINT) AS uni
        |FROM p WHERE inter * 2 >= uni""".stripMargin,

    "q_neg_sampling" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
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
        |ORDER BY n_drawn DESC, token LIMIT 50""".stripMargin,

    "q_benford" ->
      """WITH d AS (SELECT substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS VARCHAR), 1, 1) AS digit,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM d),
        |e AS (SELECT digit, n, CAST(nn AS DOUBLE) * (CASE digit
        |    WHEN '1' THEN 0.3010299956639812
        |    WHEN '2' THEN 0.17609125905568124
        |    WHEN '3' THEN 0.12493873660829992
        |    WHEN '4' THEN 0.09691001300805642
        |    WHEN '5' THEN 0.07918124604762482
        |    WHEN '6' THEN 0.06694678963061322
        |    WHEN '7' THEN 0.05799194697768673
        |    WHEN '8' THEN 0.05115252244738129
        |    WHEN '9' THEN 0.04575749056067514
        |    ELSE 0.0 END) AS exp
        |  FROM d CROSS JOIN t)
        |SELECT digit, n, ROUND(exp, 6) AS expected,
        |  ROUND((CAST(n AS DOUBLE) - exp) * (CAST(n AS DOUBLE) - exp) / exp, 9)
        |    AS chi2
        |FROM e ORDER BY digit""".stripMargin,

    "q_kcore" ->
      """WITH t AS (SELECT list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |bgp AS (SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS p
        |  FROM t WHERE len(tk) >= 2),
        |bg AS (SELECT string_split(p, ' ')[1] AS src, string_split(p, ' ')[2] AS dst
        |  FROM bgp WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM bg),
        |d1 AS (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY node),
        |s1 AS (SELECT node FROM d1 WHERE d >= 28),
        |e1 AS (SELECT a, b FROM und JOIN s1 x ON x.node = und.a
        |  JOIN s1 y ON y.node = und.b),
        |d2 AS (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) GROUP BY node),
        |s2 AS (SELECT node FROM d2 WHERE d >= 28),
        |e2 AS (SELECT a, b FROM e1 JOIN s2 x ON x.node = e1.a
        |  JOIN s2 y ON y.node = e1.b),
        |d3 AS (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) GROUP BY node),
        |s3 AS (SELECT node FROM d3 WHERE d >= 28),
        |e3 AS (SELECT a, b FROM e2 JOIN s3 x ON x.node = e2.a
        |  JOIN s3 y ON y.node = e2.b),
        |d4 AS (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) GROUP BY node),
        |s4 AS (SELECT node FROM d4 WHERE d >= 28),
        |e4 AS (SELECT a, b FROM e3 JOIN s4 x ON x.node = e3.a
        |  JOIN s4 y ON y.node = e3.b)
        |SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4)
        |GROUP BY node""".stripMargin,

    "q_js_div" ->
      """WITH tk AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |  FROM documents),
        |cst AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |  FROM tk GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cst GROUP BY source),
        |p AS (SELECT cst.source, token,
        |    CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p
        |  FROM cst JOIN ns ON ns.source = cst.source),
        |j AS (SELECT a.source AS s1, b.source AS s2,
        |    ROUND(a.p * log2(a.p / ((a.p + b.p) / 2.0))
        |      + b.p * log2(b.p / ((a.p + b.p) / 2.0)), 9) AS term,
        |    ROUND(a.p, 9) AS pa9, ROUND(b.p, 9) AS pb9
        |  FROM p a JOIN p b ON a.token = b.token AND a.source < b.source),
        |g AS (SELECT s1, s2, SUM(CAST(term AS DECIMAL(28,9))) AS ts,
        |    SUM(CAST(pa9 AS DECIMAL(28,9))) AS sp,
        |    SUM(CAST(pb9 AS DECIMAL(28,9))) AS sq
        |  FROM j GROUP BY s1, s2)
        |SELECT s1, s2, ROUND(0.5 * CAST(ts AS DOUBLE)
        |  + 0.5 * (1.0 - CAST(sp AS DOUBLE))
        |  + 0.5 * (1.0 - CAST(sq AS DOUBLE)), 6) AS js
        |FROM g ORDER BY s1, s2""".stripMargin,

    "q_chunk_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |s AS (SELECT doc_id, tk, len(tk) AS nt FROM t WHERE len(tk) >= 32),
        |hh AS (SELECT unnest(list_transform(range(0, nt // 32),
        |    i -> md5(list_aggregate(tk[(i*32+1):(i*32+32)], 'string_agg', ' ')))) AS h
        |  FROM s),
        |g AS (SELECT h, COUNT(*) AS n_copies FROM hh GROUP BY h HAVING COUNT(*) >= 2)
        |SELECT COUNT(*) AS dup_chunks,
        |  COALESCE(CAST(SUM(n_copies) AS BIGINT), 0) AS copies_total FROM g""".stripMargin,

    "q_funnel" -> FunnelQuery,

    "q_profile" ->
      """SELECT 'o_custkey' AS col_name,
        |  COUNT(*) - COUNT(o_custkey) AS n_nulls,
        |  COUNT(DISTINCT o_custkey) AS n_distinct FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
        |  COUNT(DISTINCT o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
        |  COUNT(DISTINCT o_orderpriority) FROM orders""".stripMargin,

    "q_range_frame" ->
      """SELECT user_id, event_id,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trail_sum
        |FROM events WHERE user_id < 3""".stripMargin,

    "q_regex_extract" ->
      """SELECT w, count(*) AS cnt
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]{5,}')) AS w
        |      FROM documents)
        |GROUP BY w ORDER BY cnt DESC, w ASC LIMIT 20""".stripMargin,

    "q_notin_nullaware" -> NotInNullAwareQuery,

    "q_group_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "q_token_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS nt
        |  FROM documents),
        |c AS (SELECT doc_id, nt, unnest(range(0, (nt + 31) // 32)) AS chunk_idx
        |  FROM t WHERE nt > 0)
        |SELECT doc_id, chunk_idx, least(32, nt - chunk_idx * 32) AS chunk_tok
        |FROM c""".stripMargin,

    "q_lateral" -> LateralQuery,

    "q_recursive_cte" -> RecursiveChainQuery,

    "q_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS i, b.vec_id AS j
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.emb, b.emb) >= 0.4""".stripMargin,

    "q_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch
        |  WHERE ch <> '' GROUP BY doc_id, ch)
        |SELECT doc_id,
        |  round(log2(CAST(sum(c) AS DOUBLE)) -
        |    sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) /
        |      CAST(sum(c) AS DOUBLE), 6) AS entropy
        |FROM c GROUP BY doc_id""".stripMargin,

    "q_unigram_logprob" ->
      """WITH tk AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS c FROM tk GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM c)
        |SELECT doc_id, round(avg(log2(tot / CAST(c AS DOUBLE))), 6) AS surprisal
        |FROM tk JOIN c USING (token), tot
        |GROUP BY doc_id""".stripMargin,

    "q_pmi" ->
      """WITH t AS (SELECT list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 200),
        |s AS (SELECT tk, len(tk) AS n FROM t),
        |p AS (SELECT unnest(flatten(list_transform(range(1, n),
        |    i -> list_transform(range(i + 1, least(i + 4, n) + 1),
        |      j -> least(tk[i], tk[j]) || ' ' || greatest(tk[i], tk[j]))))) AS pair
        |  FROM s WHERE n >= 2),
        |pc AS (SELECT pair, count(*) AS cnt FROM p GROUP BY pair),
        |tok AS (SELECT unnest(tk) AS token FROM s),
        |tcc AS (SELECT token, count(*) AS tc FROM tok GROUP BY token),
        |tt AS (SELECT CAST(sum(tc) AS DOUBLE) AS t_tot FROM tcc),
        |pt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS p_tot FROM pc)
        |SELECT q.pair, q.cnt,
        |  round(log2((CAST(q.cnt AS DOUBLE) / pt.p_tot) /
        |    ((CAST(a.tc AS DOUBLE) / tt.t_tot) *
        |      (CAST(b.tc AS DOUBLE) / tt.t_tot))), 6) AS pmi
        |FROM (SELECT pair, cnt,
        |        string_split(pair, ' ')[1] AS t1, string_split(pair, ' ')[2] AS t2
        |      FROM pc WHERE cnt >= 5) q
        |  JOIN tcc a ON q.t1 = a.token
        |  JOIN tcc b ON q.t2 = b.token, tt, pt
        |ORDER BY pmi DESC, pair ASC LIMIT 20""".stripMargin,

    "q_cluster_sizes" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents),
        |sh AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM sh),
        |shn AS (SELECT doc_id, len(sh) AS n FROM sh),
        |isect AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS MATERIALIZED (SELECT i, j FROM isect
        |  JOIN shn sa ON sa.doc_id = i JOIN shn sb ON sb.doc_id = j
        |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.8),
        |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
        |reach(s, d) AS (SELECT a, b FROM edges
        |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.d = e.a),
        |comp AS (SELECT s AS id, min(d) AS mn FROM reach GROUP BY s),
        |labels AS (SELECT doc.doc_id,
        |    CAST(COALESCE(LEAST(c.mn, doc.doc_id), doc.doc_id) AS BIGINT) AS cluster_id
        |  FROM documents doc LEFT JOIN comp c ON c.id = doc.doc_id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM labels
        |  GROUP BY cluster_id)
        |SELECT cluster_size, count(*) AS n_clusters FROM sz
        |GROUP BY cluster_size""".stripMargin,

    "q_vocab_ids" ->
      """WITH tk AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token
        |  HAVING count(*) >= 2)
        |SELECT token, cnt, tok_id FROM (
        |  SELECT token, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token ASC) AS tok_id FROM c)
        |WHERE tok_id <= 100""".stripMargin,

    "q_decode_docs" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |alltk AS (SELECT unnest(tk) AS token FROM t),
        |c AS (SELECT token, count(*) AS cnt FROM alltk GROUP BY token
        |  HAVING count(*) >= 2),
        |v AS (SELECT token FROM (
        |    SELECT token, row_number() OVER (ORDER BY cnt DESC, token ASC) AS tok_id
        |    FROM c)
        |  WHERE tok_id <= 1000),
        |e AS (SELECT doc_id, unnest(tk) AS token,
        |    generate_subscripts(tk, 1) AS pos FROM t WHERE doc_id < 100),
        |d AS (SELECT e.doc_id, e.pos,
        |    CASE WHEN v.token IS NULL THEN '<unk>' ELSE e.token END AS tok
        |  FROM e LEFT JOIN v ON v.token = e.token)
        |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
        |FROM d GROUP BY doc_id""".stripMargin,

    "q_encode_docs" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |alltk AS (SELECT unnest(tk) AS token FROM t),
        |c AS (SELECT token, count(*) AS cnt FROM alltk GROUP BY token
        |  HAVING count(*) >= 2),
        |v AS (SELECT token, tok_id FROM (
        |    SELECT token, row_number() OVER (ORDER BY cnt DESC, token ASC) AS tok_id
        |    FROM c)
        |  WHERE tok_id <= 1000),
        |e AS (SELECT doc_id, unnest(tk) AS token, generate_subscripts(tk, 1) AS pos
        |  FROM t WHERE doc_id < 100),
        |j AS (SELECT e.doc_id, e.pos, COALESCE(v.tok_id, 0) AS tid
        |  FROM e LEFT JOIN v ON e.token = v.token)
        |SELECT doc_id, array_to_string(list(tid ORDER BY pos), ',') AS ids_csv
        |FROM j GROUP BY doc_id""".stripMargin,

    "q_interarrival" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, ts FROM events),
        |g AS (SELECT es - lag(es) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS gap FROM e)
        |SELECT least(gap // 60, 60) AS gap_min, count(*) AS n
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY gap_min""".stripMargin,

    "q_source_ngrams" ->
      """WITH t AS (SELECT source,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |g AS (SELECT source, unnest(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
        |  FROM t WHERE len(tk) >= 3),
        |fl AS (SELECT gram,
        |    MAX(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS s0,
        |    MAX(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS s1,
        |    MAX(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS s2
        |  FROM g GROUP BY gram)
        |SELECT CAST(SUM(s0) AS BIGINT) AS n0, CAST(SUM(s1) AS BIGINT) AS n1,
        |  CAST(SUM(s2) AS BIGINT) AS n2,
        |  CAST(SUM(s0 * s1) AS BIGINT) AS c01,
        |  CAST(SUM(s0 * s2) AS BIGINT) AS c02,
        |  CAST(SUM(s1 * s2) AS BIGINT) AS c12
        |FROM fl""".stripMargin,

    "q_canonical_docs" ->
      """WITH RECURSIVE d AS (SELECT doc_id, text, n_chars FROM documents
        |  WHERE doc_id < 300),
        |t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM d),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |pairs AS (SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8),
        |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
        |reach(s, dd) AS (SELECT a, b FROM edges
        |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.dd = e.a),
        |comp AS (SELECT s AS id, min(dd) AS mn FROM reach GROUP BY s),
        |labels AS (SELECT d.doc_id AS id, d.n_chars,
        |    CAST(COALESCE(LEAST(c.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_id
        |  FROM d LEFT JOIN comp c ON c.id = d.doc_id),
        |rk AS (SELECT cluster_id, id,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY n_chars DESC, id ASC) AS rn,
        |    count(*) OVER (PARTITION BY cluster_id) AS n_members
        |  FROM labels)
        |SELECT cluster_id, id AS keep_id, n_members
        |FROM rk WHERE rn = 1 AND n_members >= 2""".stripMargin,

    "q_hopping_window" ->
      """WITH e AS (SELECT event_type,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |w AS (SELECT event_type, (es // 1800) * 1800 - k * 1800 AS win_start
        |  FROM e, unnest([0, 1]) AS u(k))
        |SELECT win_start, event_type, count(*) AS n
        |FROM w GROUP BY win_start, event_type""".stripMargin,

    "q_session_window" ->
      """WITH x AS (
        |  SELECT user_id, epoch(ts) AS sec, event_id,
        |    CASE WHEN lag(epoch(ts)) OVER w IS NULL
        |           OR epoch(ts) - lag(epoch(ts)) OVER w >= 1800.0
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, sec,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM x
        |)
        |SELECT user_id, CAST(FLOOR(MIN(sec)) AS BIGINT) AS sess_start,
        |  COUNT(*) AS n_events
        |FROM y GROUP BY user_id, session_seq""".stripMargin,

    "q_levenshtein" ->
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 200)
        |SELECT a.p_partkey AS i, b.p_partkey AS j,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM p a, p b
        |WHERE a.p_partkey < b.p_partkey
        |  AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3""".stripMargin,

    "q_containment" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |sz AS (SELECT doc_id AS i, len(sh) AS size_i FROM sh),
        |pairs AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT p.i, p.j, CAST(p.shared AS BIGINT) AS shared,
        |  CAST(p.shared AS DOUBLE) / CAST(sz.size_i AS DOUBLE) AS containment
        |FROM pairs p JOIN sz ON sz.i = p.i
        |WHERE CAST(p.shared AS DOUBLE) / CAST(sz.size_i AS DOUBLE) >= 0.5""".stripMargin,

    "q_vocab_growth" ->
      """WITH tk AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |  FROM documents),
        |f AS (SELECT token, min(doc_id) AS fd FROM tk GROUP BY token)
        |SELECT CAST(n AS BIGINT) AS n, count(*) AS vocab_size
        |FROM f, unnest([50, 100, 200, 300, 400, 500]) AS u(n)
        |WHERE fd < n GROUP BY n""".stripMargin,

    "q_oov_rate" ->
      """WITH tk AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
        |v AS (SELECT token FROM (
        |    SELECT token, row_number() OVER (ORDER BY cnt DESC, token ASC) AS tok_id
        |    FROM c) WHERE tok_id <= 20),
        |j AS (SELECT tk.source, tk.token, v.token AS inv
        |  FROM tk LEFT JOIN v ON tk.token = v.token)
        |SELECT source, count(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN inv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(CASE WHEN inv IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM j GROUP BY source""".stripMargin,

    // Weights exact via DECIMAL sum; the threshold expression is the
    // same IEEE tree as Sampling.temperatureMix, so T is bit-identical
    // and the hex compare replays Spark's filter verbatim.
    "q_source_mix" ->
      """WITH s AS (SELECT source, count(*) AS n,
        |    round(sqrt(CAST(CAST(sum(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> ''))) AS BIGINT) AS DOUBLE)), 6) AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS ntot, CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS sw FROM s),
        |thr AS (SELECT source, CAST(floor((floor(CAST(ntot AS DOUBLE) * 0.3) * w / (sw * CAST(n AS DOUBLE))) * 4294967296.0) AS BIGINT) AS t
        |  FROM s, tot)
        |SELECT d.source, count(*) AS n_sampled
        |FROM documents d JOIN thr ON d.source = thr.source
        |WHERE t > 4294967295 OR substr(md5(d.text), 1, 8) < lower(lpad(hex(t), 8, '0'))
        |GROUP BY d.source""".stripMargin,

    // chr(769)/chr(771) are the combining acute/tilde the Spark side
    // appends as a decomposed literal; nfc_normalize must compose them
    // into the same code points graft_nfc produces.
    "q_text_norm" ->
      """SELECT doc_id, md5(norm) AS norm_md5, CAST(length(norm) AS BIGINT) AS n_chars_norm
        |FROM (SELECT doc_id,
        |    trim(regexp_replace(lower(nfc_normalize(
        |      text || '  CAFE' || chr(769) || '  nin' || chr(771) || 'o' || chr(9))),
        |      '[ \t\n\x0b\f\r]+', ' ', 'g')) AS norm
        |  FROM documents)""".stripMargin,

    "q_kl_sources" ->
      """WITH tk AS (SELECT source AS stratum,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |  FROM documents),
        |cst AS (SELECT stratum, token, count(*) AS c FROM tk GROUP BY stratum, token),
        |ns AS (SELECT stratum, CAST(sum(c) AS BIGINT) AS n FROM cst GROUP BY stratum),
        |ct AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct FROM cst GROUP BY token),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM ct)
        |SELECT stratum,
        |  round(CAST(sum(CAST(round((CAST(c AS DOUBLE)/CAST(n AS DOUBLE)) *
        |    log2((CAST(c AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(ct AS DOUBLE)/CAST(nt AS DOUBLE))), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS kl
        |FROM cst JOIN ns USING (stratum) JOIN ct USING (token), tot
        |GROUP BY stratum""".stripMargin,

    "q_zipf" ->
      """WITH c AS (SELECT token, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |    FROM documents) GROUP BY token),
        |rk AS (SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS rnk FROM c),
        |t AS (SELECT CAST(rnk AS DOUBLE) AS rd, CAST(cnt AS DOUBLE) AS cd FROM rk WHERE rnk <= 500),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(round(log2(rd), 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(round(log2(cd), 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(round(log2(rd) * log2(cd), 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(round(log2(rd) * log2(rd), 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
        |  FROM t)
        |SELECT CAST(n AS BIGINT) AS n_tokens,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
        |  round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6) AS intercept
        |FROM m""".stripMargin,

    // bigram count-of-counts self-join shifted by one; the 20 smallest
    // distinct counts; integer product, one division round(9);
    // N_{r+1} gaps emit 0
    "q_good_turing" ->
      """WITH t AS (SELECT list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |v AS (SELECT g, CAST(count(*) AS BIGINT) AS r FROM (
        |    SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS g
        |    FROM t WHERE len(tk) >= 2) GROUP BY g),
        |coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM v GROUP BY r),
        |hd AS (SELECT r, n_r FROM coc ORDER BY r LIMIT 20),
        |tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_grams FROM coc)
        |SELECT c.r, c.n_r, CAST(COALESCE(nx.n_r, 0) AS BIGINT) AS n_r1,
        |  n_grams,
        |  round(CAST((c.r + 1) * COALESCE(nx.n_r, 0) AS DOUBLE)
        |    / CAST(c.n_r AS DOUBLE), 9) AS r_star
        |FROM hd c LEFT JOIN coc nx ON nx.r = c.r + 1 CROSS JOIN tot""".stripMargin,

    // top-101 head by (count desc, token asc) — ln ratios round(9)
    // into a DECIMAL sum, the α̂ division round(6)
    "q_hill_tail" ->
      """WITH c AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |    FROM documents) GROUP BY token),
        |hd AS (SELECT c, row_number() OVER (ORDER BY c DESC, token ASC) AS r
        |  FROM c ORDER BY c DESC, token ASC LIMIT 101),
        |k1 AS (SELECT c AS ck1 FROM hd WHERE r = 101),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k, MAX(ck1) AS c_k1,
        |    CAST(SUM(CAST(round(ln(CAST(hd.c AS DOUBLE) / CAST(ck1 AS DOUBLE)), 9)
        |      AS DECIMAL(28,9))) AS DOUBLE) AS s
        |  FROM hd CROSS JOIN k1 WHERE r <= 100)
        |SELECT k, c_k1, round(s / 100.0, 9) AS inv_alpha,
        |  CASE WHEN s = 0.0 THEN 0.0 ELSE round(100.0 / s, 6) END AS alpha
        |FROM m""".stripMargin,

    "q_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t WHERE len(tk) >= 2),
        |cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
        |cu AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(cb) AS BIGINT) AS cu FROM cb GROUP BY 1)
        |SELECT doc_id,
        |  round(CAST(sum(CAST(round(log2(CAST(cu AS DOUBLE) / CAST(cb AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS surprisal
        |FROM bg JOIN cb USING (bg) JOIN cu ON string_split(bg.bg, ' ')[1] = cu.w1
        |WHERE doc_id < 300 GROUP BY doc_id""".stripMargin,

    "q_ppl_filter" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t WHERE len(tk) >= 2),
        |cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
        |cu AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(cb) AS BIGINT) AS cu FROM cb GROUP BY 1),
        |sur AS (SELECT doc_id,
        |    round(CAST(sum(CAST(round(log2(CAST(cu AS DOUBLE) / CAST(cb AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE), 6) AS surprisal
        |  FROM bg JOIN cb USING (bg) JOIN cu ON string_split(bg.bg, ' ')[1] = cu.w1
        |  GROUP BY doc_id),
        |h AS (SELECT surprisal, count(*) AS c FROM sur GROUP BY surprisal),
        |cum AS (SELECT surprisal, c,
        |    sum(c) OVER (ORDER BY surprisal ROWS UNBOUNDED PRECEDING) AS cum FROM h),
        |tot AS (SELECT sum(c) AS tot FROM h),
        |cuts AS (SELECT min(CASE WHEN cum * 5 >= tot THEN surprisal END) AS lo,
        |    min(CASE WHEN cum * 5 >= tot * 4 THEN surprisal END) AS hi
        |  FROM cum, tot)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_scored,
        |  CAST(sum(CASE WHEN surprisal >= lo AND surprisal <= hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM sur JOIN documents USING (doc_id), cuts
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_postings" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |tf AS (SELECT DISTINCT doc_id, term
        |  FROM (SELECT doc_id, unnest(tk) AS term FROM t))
        |SELECT term, count(*) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY term""".stripMargin,

    "q_bm25" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
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
        |FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,

    "q_sparse_cosine" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
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
        |  JOIN norms nj ON dots.j = nj.doc_id""".stripMargin,

    "q_cdc_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS pos FROM t),
        |f AS (SELECT doc_id, pos, tok,
        |    CASE WHEN ('0x' || substring(md5(tok), 1, 15))::BIGINT % 8 = 0
        |      THEN 1 ELSE 0 END AS b
        |  FROM tok),
        |c AS (SELECT doc_id, pos, tok,
        |    COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
        |  FROM f),
        |g AS (SELECT doc_id, chunk, string_agg(tok, ' ' ORDER BY pos) AS chunk_text
        |  FROM c GROUP BY doc_id, chunk)
        |SELECT md5(chunk_text) AS chunk_hash, count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM g GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    "q_interval_join" ->
      """SELECT a.o_orderkey AS a_key, count(*) AS n_overlaps,
        |  min(b.o_orderkey) AS first_b
        |FROM orders a JOIN orders b
        |  ON CAST(a.o_orderdate AS DATE) < CAST(b.o_orderdate AS DATE) + INTERVAL 14 DAY
        | AND CAST(b.o_orderdate AS DATE) < CAST(a.o_orderdate AS DATE) + INTERVAL 14 DAY
        |WHERE a.o_orderkey % 500 = 0 AND b.o_orderkey % 7 = 0
        |  AND a.o_orderkey <> b.o_orderkey
        |GROUP BY a.o_orderkey""".stripMargin,

    "q_minhash_est" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 40),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |sg AS (SELECT doc_id, sh,
        |    list_transform(range(0, 16), i -> list_min(list_transform(sh,
        |      s -> ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || s), 1, 15))::BIGINT)))
        |      AS sig
        |  FROM sh),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j,
        |    CAST(len(list_filter(range(1, 17),
        |      k -> a.sig[k] = b.sig[k])) AS DOUBLE) / 16.0 AS est_jaccard,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
        |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id)
        |SELECT i, j, est_jaccard, jaccard FROM p
        |WHERE est_jaccard > 0 OR jaccard >= 0.5""".stripMargin,

    "q_folds" ->
      """SELECT fold, source, count(*) AS n
        |FROM (SELECT source,
        |    ('0x' || substring(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5
        |      AS fold
        |  FROM documents)
        |GROUP BY fold, source""".stripMargin,

    // shared near-dup component CTEs (NearDupComponentsSql), then the
    // q_folds fold hash keyed on the component label, not the doc id
    "q_leakage_split" ->
      (NearDupComponentsSql +
      """SELECT doc.doc_id,
        |  ('0x' || substring(md5('fold:' ||
        |    CAST(CAST(COALESCE(LEAST(c.mn, doc.doc_id), doc.doc_id) AS BIGINT) AS VARCHAR)), 1, 15))::BIGINT % 5 AS fold
        |FROM documents doc LEFT JOIN comp c ON c.id = doc.doc_id"""
        .stripMargin),

    "q_rendezvous" ->
      """SELECT shard, count(*) AS n FROM (
        |  SELECT CAST(list_position(l, list_max(l)) - 1 AS INTEGER) AS shard FROM (
        |    SELECT list_transform(range(0, 10),
        |      s -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR))) AS l
        |    FROM documents))
        |GROUP BY shard""".stripMargin,

    // clipped-overlap ROUGE over the shared verified-pair set: multiset
    // gram counts per doc, Σ min(ci, cj) per pair, F1 via the harmonic
    // identity 2PR/(P+R) = 2·ov/(li+lj) — one division per score
    "q_rouge" ->
      (NearDupPairsSql +
      """, u AS MATERIALIZED (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(tk) AS g FROM t) GROUP BY 1, 2),
        |b2 AS MATERIALIZED (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS g
        |    FROM t WHERE len(tk) >= 2) GROUP BY 1, 2),
        |l1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM u GROUP BY 1),
        |l2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM b2 GROUP BY 1),
        |ov1 AS (SELECT p.i, p.j, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
        |  FROM pairs p JOIN u a ON a.doc_id = p.i
        |  JOIN u b ON b.doc_id = p.j AND b.g = a.g GROUP BY 1, 2),
        |ov2 AS (SELECT p.i, p.j, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
        |  FROM pairs p JOIN b2 a ON a.doc_id = p.i
        |  JOIN b2 b ON b.doc_id = p.j AND b.g = a.g GROUP BY 1, 2)
        |SELECT p.i, p.j,
        |  CASE WHEN COALESCE(la1.n, 0) = 0 THEN 0.0
        |    ELSE round(CAST(COALESCE(o1.ov, 0) AS DOUBLE) / CAST(la1.n AS DOUBLE), 9) END AS rouge1_p,
        |  CASE WHEN COALESCE(lb1.n, 0) = 0 THEN 0.0
        |    ELSE round(CAST(COALESCE(o1.ov, 0) AS DOUBLE) / CAST(lb1.n AS DOUBLE), 9) END AS rouge1_r,
        |  CASE WHEN COALESCE(la1.n, 0) + COALESCE(lb1.n, 0) = 0 THEN 0.0
        |    ELSE round(CAST(COALESCE(o1.ov, 0) * 2 AS DOUBLE)
        |      / CAST(COALESCE(la1.n, 0) + COALESCE(lb1.n, 0) AS DOUBLE), 9) END AS rouge1_f,
        |  CASE WHEN COALESCE(la2.n, 0) + COALESCE(lb2.n, 0) = 0 THEN 0.0
        |    ELSE round(CAST(COALESCE(o2.ov, 0) * 2 AS DOUBLE)
        |      / CAST(COALESCE(la2.n, 0) + COALESCE(lb2.n, 0) AS DOUBLE), 9) END AS rouge2_f
        |FROM pairs p
        |LEFT JOIN ov1 o1 ON o1.i = p.i AND o1.j = p.j
        |LEFT JOIN ov2 o2 ON o2.i = p.i AND o2.j = p.j
        |LEFT JOIN l1 la1 ON la1.doc_id = p.i LEFT JOIN l1 lb1 ON lb1.doc_id = p.j
        |LEFT JOIN l2 la2 ON la2.doc_id = p.i LEFT JOIN l2 lb2 ON lb2.doc_id = p.j"""
        .stripMargin),

    // same shared pair CTE; per-order clipped precisions with +1
    // smoothing, ln terms round(9) into a DECIMAL sum, brevity term
    // one division — expression-identical to the Spark tree
    "q_bleu" ->
      (NearDupPairsSql +
      """, u1 AS MATERIALIZED (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(tk) AS g FROM t) GROUP BY 1, 2),
        |u2 AS MATERIALIZED (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS g
        |    FROM t WHERE len(tk) >= 2) GROUP BY 1, 2),
        |u3 AS MATERIALIZED (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
        |    FROM t WHERE len(tk) >= 3) GROUP BY 1, 2),
        |u4 AS MATERIALIZED (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS g
        |    FROM t WHERE len(tk) >= 4) GROUP BY 1, 2),
        |l1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM u1 GROUP BY 1),
        |l2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM u2 GROUP BY 1),
        |l3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM u3 GROUP BY 1),
        |l4 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM u4 GROUP BY 1),
        |o1 AS (SELECT p.i, p.j, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
        |  FROM pairs p JOIN u1 a ON a.doc_id = p.i
        |  JOIN u1 b ON b.doc_id = p.j AND b.g = a.g GROUP BY 1, 2),
        |o2 AS (SELECT p.i, p.j, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
        |  FROM pairs p JOIN u2 a ON a.doc_id = p.i
        |  JOIN u2 b ON b.doc_id = p.j AND b.g = a.g GROUP BY 1, 2),
        |o3 AS (SELECT p.i, p.j, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
        |  FROM pairs p JOIN u3 a ON a.doc_id = p.i
        |  JOIN u3 b ON b.doc_id = p.j AND b.g = a.g GROUP BY 1, 2),
        |o4 AS (SELECT p.i, p.j, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
        |  FROM pairs p JOIN u4 a ON a.doc_id = p.i
        |  JOIN u4 b ON b.doc_id = p.j AND b.g = a.g GROUP BY 1, 2)
        |SELECT p.i, p.j, round(
        |  LEAST(0.0, 1.0 - CAST(COALESCE(r1.n, 0) AS DOUBLE)
        |    / GREATEST(CAST(COALESCE(c1.n, 0) AS DOUBLE), 1.0))
        |  + CAST(
        |      CAST(round(ln((CAST(COALESCE(o1.ov, 0) AS DOUBLE) + 1.0)
        |        / (CAST(COALESCE(c1.n, 0) AS DOUBLE) + 1.0)), 9) AS DECIMAL(28,9))
        |    + CAST(round(ln((CAST(COALESCE(o2.ov, 0) AS DOUBLE) + 1.0)
        |        / (CAST(COALESCE(c2.n, 0) AS DOUBLE) + 1.0)), 9) AS DECIMAL(28,9))
        |    + CAST(round(ln((CAST(COALESCE(o3.ov, 0) AS DOUBLE) + 1.0)
        |        / (CAST(COALESCE(c3.n, 0) AS DOUBLE) + 1.0)), 9) AS DECIMAL(28,9))
        |    + CAST(round(ln((CAST(COALESCE(o4.ov, 0) AS DOUBLE) + 1.0)
        |        / (CAST(COALESCE(c4.n, 0) AS DOUBLE) + 1.0)), 9) AS DECIMAL(28,9))
        |    AS DOUBLE) * 0.25, 6) AS log_bleu
        |FROM pairs p
        |LEFT JOIN o1 ON o1.i = p.i AND o1.j = p.j
        |LEFT JOIN o2 ON o2.i = p.i AND o2.j = p.j
        |LEFT JOIN o3 ON o3.i = p.i AND o3.j = p.j
        |LEFT JOIN o4 ON o4.i = p.i AND o4.j = p.j
        |LEFT JOIN l1 c1 ON c1.doc_id = p.i LEFT JOIN l1 r1 ON r1.doc_id = p.j
        |LEFT JOIN l2 c2 ON c2.doc_id = p.i
        |LEFT JOIN l3 c3 ON c3.doc_id = p.i
        |LEFT JOIN l4 c4 ON c4.doc_id = p.i""".stripMargin),

    // same shared pair CTE over the whitespace-stripped text; per-order
    // char-gram P/R one integer division each round(9), DECIMAL
    // order-average × exact 0.25, the β=2 F tree round(6) — the inner
    // select carries the RAW chrP/chrR doubles so the F expression
    // matches the Spark tree bit-for-bit, the outer select rounds.
    // the WINDOWED pair CTE (doc_id < 5000, matching the Spark query's
    // corpus filter — see NearDupPairsSqlWindowed): inactive at the
    // gate corpora, and at sf1+ it pins the whole replay at sf0.1 cost
    // (r14 verdict item 3). bp re-states the window on the pair side
    // for self-documentation (a no-op given the windowed corpus).
    "q_chrf" ->
      (NearDupPairsSqlWindowed +
      """, bp AS (SELECT i, j FROM pairs WHERE i < 5000 AND j < 5000)
        |, cs AS MATERIALIZED (SELECT doc_id, array_to_string(tk, '') AS s FROM t),
        |g1 AS MATERIALIZED (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, length(s) + 1),
        |      i -> substring(s, i, 1))) AS g FROM cs WHERE length(s) >= 1) GROUP BY 1, 2),
        |g2 AS MATERIALIZED (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, length(s)),
        |      i -> substring(s, i, 2))) AS g FROM cs WHERE length(s) >= 2) GROUP BY 1, 2),
        |g3 AS MATERIALIZED (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, length(s) - 1),
        |      i -> substring(s, i, 3))) AS g FROM cs WHERE length(s) >= 3) GROUP BY 1, 2),
        |g4 AS MATERIALIZED (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, length(s) - 2),
        |      i -> substring(s, i, 4))) AS g FROM cs WHERE length(s) >= 4) GROUP BY 1, 2),
        |l1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM g1 GROUP BY 1),
        |l2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM g2 GROUP BY 1),
        |l3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM g3 GROUP BY 1),
        |l4 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM g4 GROUP BY 1),
        |o1 AS (SELECT p.i, p.j, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
        |  FROM bp p JOIN g1 a ON a.doc_id = p.i
        |  JOIN g1 b ON b.doc_id = p.j AND b.g = a.g GROUP BY 1, 2),
        |o2 AS (SELECT p.i, p.j, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
        |  FROM bp p JOIN g2 a ON a.doc_id = p.i
        |  JOIN g2 b ON b.doc_id = p.j AND b.g = a.g GROUP BY 1, 2),
        |o3 AS (SELECT p.i, p.j, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
        |  FROM bp p JOIN g3 a ON a.doc_id = p.i
        |  JOIN g3 b ON b.doc_id = p.j AND b.g = a.g GROUP BY 1, 2),
        |o4 AS (SELECT p.i, p.j, CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
        |  FROM bp p JOIN g4 a ON a.doc_id = p.i
        |  JOIN g4 b ON b.doc_id = p.j AND b.g = a.g GROUP BY 1, 2),
        |scored AS (SELECT p.i, p.j,
        |  CAST(
        |      CAST(CASE WHEN COALESCE(ca1.n, 0) = 0 THEN 0.0
        |        ELSE round(CAST(COALESCE(v1.ov, 0) AS DOUBLE) / CAST(ca1.n AS DOUBLE), 9) END AS DECIMAL(28,9))
        |    + CAST(CASE WHEN COALESCE(ca2.n, 0) = 0 THEN 0.0
        |        ELSE round(CAST(COALESCE(v2.ov, 0) AS DOUBLE) / CAST(ca2.n AS DOUBLE), 9) END AS DECIMAL(28,9))
        |    + CAST(CASE WHEN COALESCE(ca3.n, 0) = 0 THEN 0.0
        |        ELSE round(CAST(COALESCE(v3.ov, 0) AS DOUBLE) / CAST(ca3.n AS DOUBLE), 9) END AS DECIMAL(28,9))
        |    + CAST(CASE WHEN COALESCE(ca4.n, 0) = 0 THEN 0.0
        |        ELSE round(CAST(COALESCE(v4.ov, 0) AS DOUBLE) / CAST(ca4.n AS DOUBLE), 9) END AS DECIMAL(28,9))
        |    AS DOUBLE) * 0.25 AS chrp,
        |  CAST(
        |      CAST(CASE WHEN COALESCE(cb1.n, 0) = 0 THEN 0.0
        |        ELSE round(CAST(COALESCE(v1.ov, 0) AS DOUBLE) / CAST(cb1.n AS DOUBLE), 9) END AS DECIMAL(28,9))
        |    + CAST(CASE WHEN COALESCE(cb2.n, 0) = 0 THEN 0.0
        |        ELSE round(CAST(COALESCE(v2.ov, 0) AS DOUBLE) / CAST(cb2.n AS DOUBLE), 9) END AS DECIMAL(28,9))
        |    + CAST(CASE WHEN COALESCE(cb3.n, 0) = 0 THEN 0.0
        |        ELSE round(CAST(COALESCE(v3.ov, 0) AS DOUBLE) / CAST(cb3.n AS DOUBLE), 9) END AS DECIMAL(28,9))
        |    + CAST(CASE WHEN COALESCE(cb4.n, 0) = 0 THEN 0.0
        |        ELSE round(CAST(COALESCE(v4.ov, 0) AS DOUBLE) / CAST(cb4.n AS DOUBLE), 9) END AS DECIMAL(28,9))
        |    AS DOUBLE) * 0.25 AS chrr
        |FROM bp p
        |LEFT JOIN o1 v1 ON v1.i = p.i AND v1.j = p.j
        |LEFT JOIN o2 v2 ON v2.i = p.i AND v2.j = p.j
        |LEFT JOIN o3 v3 ON v3.i = p.i AND v3.j = p.j
        |LEFT JOIN o4 v4 ON v4.i = p.i AND v4.j = p.j
        |LEFT JOIN l1 ca1 ON ca1.doc_id = p.i LEFT JOIN l1 cb1 ON cb1.doc_id = p.j
        |LEFT JOIN l2 ca2 ON ca2.doc_id = p.i LEFT JOIN l2 cb2 ON cb2.doc_id = p.j
        |LEFT JOIN l3 ca3 ON ca3.doc_id = p.i LEFT JOIN l3 cb3 ON cb3.doc_id = p.j
        |LEFT JOIN l4 ca4 ON ca4.doc_id = p.i LEFT JOIN l4 cb4 ON cb4.doc_id = p.j)
        |SELECT i, j, round(chrp, 9) AS chr_p, round(chrr, 9) AS chr_r,
        |  CASE WHEN 4.0 * chrp + chrr = 0.0 THEN 0.0
        |    ELSE round(5.0 * chrp * chrr / (4.0 * chrp + chrr), 6) END AS chrf2
        |FROM scored""".stripMargin),

    // distinct 5-grams as md5-60bit keys, fold from the q_folds hash,
    // novelty = eval-fold grams with no train-fold match
    "q_fold_novelty" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 3),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
        |           tk[i+3] || ' ' || tk[i+4])) AS sh
        |  FROM t WHERE len(tk) >= 5),
        |g AS (SELECT doc_id,
        |    ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS gh FROM sh),
        |f AS (SELECT doc_id,
        |    ('0x' || substring(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 AS fold
        |  FROM documents),
        |gf AS (SELECT g.doc_id, g.gh, f.fold FROM g JOIN f ON f.doc_id = g.doc_id),
        |tr AS (SELECT DISTINCT gh FROM gf WHERE fold <> 0)
        |SELECT gf.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN tr.gh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN tr.gh IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 9) AS novelty
        |FROM gf LEFT JOIN tr ON tr.gh = gf.gh
        |WHERE gf.fold = 0 GROUP BY gf.doc_id""".stripMargin,

    "q_ewma" ->
      """SELECT event_id,
        |  round((value * 1.0 + lag(value, 1) OVER w * 0.5 +
        |    lag(value, 2) OVER w * 0.25 + lag(value, 3) OVER w * 0.125 +
        |    lag(value, 4) OVER w * 0.0625) / 1.9375, 9) AS ewma
        |FROM events WHERE user_id < 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |QUALIFY row_number() OVER w >= 5""".stripMargin,

    // same tap construction as q_ewma but in exact DECIMAL (2-dp value
    // × ≤8-dp dyadic coefficients) — the identical exact rational on
    // both engines, cast once to double; see the Spark-side comment on
    // why round(9) is unusable here (dyadic half-way ties)
    "q_holt" ->
      """SELECT event_id, CAST(
        |  CAST(value AS DECIMAL(18,2)) * 0.75 +
        |  lag(CAST(value AS DECIMAL(18,2)), 1) OVER w * 0.4375 +
        |  lag(CAST(value AS DECIMAL(18,2)), 2) OVER w * 0.171875 +
        |  lag(CAST(value AS DECIMAL(18,2)), 3) OVER w * (-0.00390625) +
        |  lag(CAST(value AS DECIMAL(18,2)), 4) OVER w * (-0.0078125) +
        |  lag(CAST(value AS DECIMAL(18,2)), 5) OVER w * (-0.34765625)
        |  AS DOUBLE) AS forecast
        |FROM events WHERE user_id < 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |QUALIFY row_number() OVER w >= 6""".stripMargin,

    "q_outliers" ->
      """WITH g AS (SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS nd,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
        |      AS DECIMAL(38,12))) AS DOUBLE) AS sx2
        |  FROM events GROUP BY event_type),
        |s AS (SELECT event_type, sx / nd AS mean,
        |    sqrt((nd * sx2 - sx * sx) / (nd * (nd - 1.0))) AS sd FROM g)
        |SELECT event_id, events.event_type AS event_type,
        |  round((value - mean) / sd, 6) AS z
        |FROM events JOIN s ON events.event_type = s.event_type
        |WHERE sd > 0 AND abs(round((value - mean) / sd, 6)) >= 2.5""".stripMargin,

    "q_pagerank" ->
      """WITH t AS (SELECT list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |bgp AS (SELECT DISTINCT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS p
        |  FROM t WHERE len(tk) >= 2),
        |bg AS (SELECT string_split(p, ' ')[1] AS src, string_split(p, ' ')[2] AS dst
        |  FROM bgp WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
        |od AS (SELECT src, count(*) AS od FROM bg GROUP BY src),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM bg UNION ALL SELECT dst FROM bg)),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT node, CAST(round(1.0 / n, 9) AS DECIMAL(28,9)) AS rank
        |  FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT bg.dst, CAST(sum(CAST(round(CAST(r.rank AS DOUBLE) / od.od, 9)
        |      AS DECIMAL(28,9))) AS DECIMAL(27,9)) AS s
        |  FROM bg JOIN od USING (src) JOIN r0 r ON r.node = bg.src GROUP BY bg.dst),
        |r1 AS (SELECT nodes.node,
        |    CAST(round(0.15 / n, 9) AS DECIMAL(28,9)) + CAST(0.85 AS DECIMAL(3,2)) *
        |      COALESCE(c1.s, CAST(0 AS DECIMAL(27,9))) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.dst = nodes.node),
        |c2 AS (SELECT bg.dst, CAST(sum(CAST(round(CAST(r.rank AS DOUBLE) / od.od, 9)
        |      AS DECIMAL(28,9))) AS DECIMAL(27,9)) AS s
        |  FROM bg JOIN od USING (src) JOIN r1 r ON r.node = bg.src GROUP BY bg.dst),
        |r2 AS (SELECT nodes.node,
        |    CAST(round(0.15 / n, 9) AS DECIMAL(28,9)) + CAST(0.85 AS DECIMAL(3,2)) *
        |      COALESCE(c2.s, CAST(0 AS DECIMAL(27,9))) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.dst = nodes.node),
        |c3 AS (SELECT bg.dst, CAST(sum(CAST(round(CAST(r.rank AS DOUBLE) / od.od, 9)
        |      AS DECIMAL(28,9))) AS DECIMAL(27,9)) AS s
        |  FROM bg JOIN od USING (src) JOIN r2 r ON r.node = bg.src GROUP BY bg.dst),
        |r3 AS (SELECT nodes.node,
        |    CAST(round(0.15 / n, 9) AS DECIMAL(28,9)) + CAST(0.85 AS DECIMAL(3,2)) *
        |      COALESCE(c3.s, CAST(0 AS DECIMAL(27,9))) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.dst = nodes.node)
        |SELECT node, round(CAST(rank AS DOUBLE), 9) AS rank FROM r3""".stripMargin,

    "q_graph_degree" ->
      """WITH t AS (SELECT list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |bgp AS (SELECT DISTINCT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS p
        |  FROM t WHERE len(tk) >= 2),
        |bg AS (SELECT string_split(p, ' ')[1] AS src, string_split(p, ' ')[2] AS dst
        |  FROM bgp WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
        |od AS (SELECT src, count(*) AS od FROM bg GROUP BY src)
        |SELECT od AS degree, count(*) AS n_nodes FROM od GROUP BY degree""".stripMargin,

    "q_bfs" ->
      """WITH RECURSIVE t AS (SELECT list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |bgp AS (SELECT DISTINCT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS p
        |  FROM t WHERE len(tk) >= 2),
        |bg AS (SELECT string_split(p, ' ')[1] AS src, string_split(p, ' ')[2] AS dst
        |  FROM bgp WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
        |walk(node, dist) AS (
        |  SELECT 'spark' AS node, 0 AS dist
        |  UNION
        |  SELECT bg.dst, walk.dist + 1 FROM walk JOIN bg ON bg.src = walk.node
        |  WHERE walk.dist < 3)
        |SELECT node, MIN(dist) AS dist FROM walk GROUP BY node""".stripMargin,

    "q_ttr" ->
      """WITH ex AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY doc_id, tok),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types, n_hapax,
        |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9) AS ttr
        |FROM a""".stripMargin,

    "q_window_users" ->
      """WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |w AS (SELECT user_id, (es // 1800) * 1800 - k * 1800 AS win_start
        |  FROM e, unnest([0, 1]) AS u(k))
        |SELECT win_start, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM w GROUP BY win_start""".stripMargin,

    "q_rolling_distinct" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |contrib AS (SELECT DISTINCT day + i AS day, user_id
        |  FROM du CROSS JOIN unnest([0,1,2,3,4,5,6]) AS t(i)),
        |u7 AS (SELECT c.day, count(*) AS u7
        |  FROM contrib c JOIN days USING (day) GROUP BY c.day),
        |u1 AS (SELECT day, count(*) AS u1 FROM du GROUP BY day)
        |SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS day, u1, u7
        |FROM u1 JOIN u7 USING (day) ORDER BY day""".stripMargin,

    "q_clamped_balance" ->
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, event_id, CAST(value AS DECIMAL(18,2)) - 50 AS d,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |walk(user_id, event_id, rn, balance) AS (
        |  SELECT user_id, event_id, rn,
        |    CAST(GREATEST(CAST(0 AS DECIMAL(18,2)), d) AS DECIMAL(18,2))
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.user_id, s.event_id, s.rn,
        |    CAST(GREATEST(CAST(0 AS DECIMAL(18,2)), w.balance + s.d) AS DECIMAL(18,2))
        |  FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.rn = w.rn + 1)
        |SELECT event_id, round(CAST(balance AS DOUBLE), 2) AS balance FROM walk""".stripMargin,

    "q_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 604800 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS wk0 FROM e GROUP BY user_id)
        |SELECT wk0 AS cohort_week, wk - wk0 AS week_offset, count(*) AS n_users
        |FROM e JOIN c USING (user_id) GROUP BY cohort_week, week_offset""".stripMargin,

    "q_domains" ->
      """WITH d AS (SELECT
        |    'https://WWW.' || source || '-' || CAST(doc_id % 20 AS VARCHAR) ||
        |      '.Example.COM/p/' || CAST(doc_id AS VARCHAR) || '?ref=' || lang AS url,
        |    n_chars
        |  FROM documents)
        |SELECT regexp_replace(lower(regexp_extract(url, '^https?://([^/?]+)', 1)),
        |    '^www\.', '') AS domain,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d GROUP BY domain""".stripMargin,

    "q_gopher_rules" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(list_sum(list_transform(tk, x -> len(x))), 0) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(tk, x -> x IN ('the','a','of','to','and','in','is','that'))) AS BIGINT) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_tokens, sum_len, n_stop,
        |  CAST(CASE WHEN n_tokens >= 50 AND n_tokens <= 100000
        |    AND sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10
        |    AND n_stop * 50 >= n_tokens THEN 1 ELSE 0 END AS INT) AS keep
        |FROM m""".stripMargin,

    "q_ann_recall" ->
      s"""WITH bf AS ($AnnBruteSql),
        |ls AS ($AnnLshSql)
        |SELECT bf.q_id, count(ls.n_id) AS n_hit
        |FROM bf LEFT JOIN ls ON bf.q_id = ls.q_id AND bf.n_id = ls.n_id
        |GROUP BY bf.q_id""".stripMargin,

    "q_media_shards" ->
      """WITH m AS (SELECT 'text' AS kind, doc_id AS media_id,
        |    CAST(octet_length(encode(text)) AS INT) AS n_bytes FROM documents),
        |p AS (SELECT kind, n_bytes,
        |    CAST((SUM(n_bytes) OVER (PARTITION BY kind ORDER BY media_id
        |                             ROWS UNBOUNDED PRECEDING) - n_bytes) // 16384 AS BIGINT) AS bin
        |  FROM m)
        |SELECT kind, bin, COUNT(*) AS n_docs, CAST(SUM(n_bytes) AS BIGINT) AS byte_sum
        |FROM p GROUP BY kind, bin""".stripMargin,

    "q_cum_distinct" ->
      """SELECT user_id, event_id,
        |  CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_types_seen
        |FROM (SELECT user_id, event_id, ts,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM events WHERE user_id < 100)""".stripMargin,

    "q_tpch_q3" ->
      s"""SELECT l_orderkey,
        |  CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS o_date,
        |  $RevenueSql AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_date
        |ORDER BY revenue DESC, o_date, l_orderkey LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      s"""SELECT n_name, $RevenueSql AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    // canonical correlated-EXISTS form — proves the semi-join rewrite
    "q_tpch_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_tpch_q7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(YEAR(l_shipdate) AS INT) AS l_year, $RevenueSql AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_shipdate > o_orderdate
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_tpch_q13" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_tpch_q15" ->
      s"""WITH rev AS (SELECT l_suppkey AS supplier_no, $RevenueSql AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    // canonical correlated-scalar-subquery form of the per-part mean
    "q_tpch_q17" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND l_quantity < (
        |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |                  / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q_tpch_q19" ->
      s"""SELECT $RevenueSql AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // canonical EXISTS / NOT-EXISTS form — proves the per-order
    // aggregate reformulation (n_supp ≥ 2 ∧ n_late = 1)
    "q_tpch_q21" ->
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1
        |    FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
        |  AND s_nationkey = n_nationkey
        |  AND n_name IN ('NATION_1','NATION_3','NATION_5','NATION_7',
        |                 'NATION_9','NATION_11','NATION_13','NATION_15')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,

    "q_tpch_q22" ->
      """WITH cc AS (SELECT c_custkey, c_acctbal, c_custkey % 7 AS cntrycode
        |            FROM customer),
        |ab AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |         / COUNT(*) AS avgbal
        |       FROM cc WHERE c_acctbal > 0.0 AND cntrycode IN (0,1,2,3,4))
        |SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS totacctbal
        |FROM cc, ab
        |WHERE cntrycode IN (0,1,2,3,4) AND c_acctbal > avgbal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin,

    "q_tpch_q2" ->
      s"""WITH $PartsuppCte,
        |eps AS MATERIALIZED (
        |  SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
        |  FROM partsupp, supplier, nation, region
        |  WHERE s_suppkey = ps_suppkey AND s_nationkey = n_nationkey
        |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
        |FROM part, eps
        |WHERE p_partkey = ps_partkey AND p_size = 15
        |  AND ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM eps e2
        |                       WHERE e2.ps_partkey = p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q9" ->
      s"""WITH $PartsuppCte
        |SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
        |  CAST(ROUND(SUM(
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4)) -
        |    CAST(CAST(ps_supplycost AS DECIMAL(18,2)) *
        |         CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))
        |  ), 2) AS DOUBLE) AS sum_profit
        |FROM part, supplier, lineitem, partsupp, orders, nation
        |WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
        |  AND ps_partkey = l_partkey AND p_partkey = l_partkey
        |  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |  AND p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    // threshold from the EXACT decimal sum (never a re-sum of rounded
    // doubles — that float sum is order-dependent across engines)
    "q_tpch_q11" ->
      s"""WITH $PartsuppCte,
        |nps AS MATERIALIZED (
        |  SELECT ps_partkey,
        |    SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty) AS vdec
        |  FROM partsupp, supplier, nation
        |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name IN ('NATION_3','NATION_7','NATION_11')
        |  GROUP BY ps_partkey)
        |SELECT ps_partkey, CAST(ROUND(vdec, 2) AS DOUBLE) AS value
        |FROM nps
        |WHERE CAST(ROUND(vdec, 2) AS DOUBLE) >
        |  (SELECT CAST(SUM(vdec) AS DOUBLE) * 0.001 FROM nps)
        |ORDER BY value DESC, ps_partkey""".stripMargin,

    "q_tpch_q16" ->
      s"""WITH $PartsuppCte
        |SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM partsupp, part
        |WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#3'
        |  AND p_type <> 'PROMO' AND p_size IN (1,5,10,15,20,25,30,35)
        |  AND ps_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q_tpch_q20" ->
      s"""WITH $PartsuppCte,
        |shipped AS MATERIALIZED (
        |  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_partkey, l_suppkey)
        |SELECT s_suppkey, s_name FROM supplier, nation
        |WHERE s_nationkey = n_nationkey AND n_name IN ('NATION_1','NATION_2')
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM partsupp, shipped
        |    WHERE ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |      AND ps_partkey IN
        |        (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |      AND ps_availqty > 0.5 * qty)
        |ORDER BY s_name""".stripMargin,

    "q_len_deciles" ->
      """WITH h AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars),
        |cum AS (SELECT n_chars, c,
        |    sum(c) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum FROM h),
        |tot AS (SELECT sum(c) AS tot FROM h),
        |cuts AS (SELECT d, min(n_chars) AS cut
        |  FROM cum CROSS JOIN tot CROSS JOIN unnest([1,2,3,4,5,6,7,8,9]) AS u(d)
        |  WHERE cum * 10 >= d * tot GROUP BY d),
        |ca AS (SELECT list(cut ORDER BY cut) AS cuts FROM cuts),
        |b AS (SELECT doc_id, n_chars,
        |    CAST(len(list_filter(ca.cuts, x -> x <= n_chars)) AS BIGINT) AS decile
        |  FROM documents CROSS JOIN ca)
        |SELECT decile, count(*) AS n_docs, min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars
        |FROM b GROUP BY decile""".stripMargin,

    // full recompute — exactly what the incremental merge must equal
    "q_incr_agg" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> ''))) AS BIGINT) AS tok_sum,
        |  ROUND(CAST(SUM(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> ''))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS avg_tokens
        |FROM documents GROUP BY source""".stripMargin,

    "q_expectations" ->
      """WITH s AS (SELECT
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkey,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
        |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
        |      OR o_orderdate >= TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS date_oob
        |  FROM orders),
        |orph AS (SELECT CAST(COUNT(*) AS BIGINT) AS orphan_custkey
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL)
        |SELECT check_name, n_violations, CAST(n_violations = 0 AS INT) AS pass
        |FROM (
        |  SELECT 'o_orderkey_unique' AS check_name, dup_orderkey AS n_violations FROM s
        |  UNION ALL SELECT 'o_custkey_not_null', null_custkey FROM s
        |  UNION ALL SELECT 'o_totalprice_positive', nonpos_price FROM s
        |  UNION ALL SELECT 'o_orderdate_in_range', date_oob FROM s
        |  UNION ALL SELECT 'o_custkey_in_customer', orphan_custkey FROM orph)""".stripMargin,

    "q_spearman" -> SpearmanQuery,

    "q_mad" ->
      """WITH med AS (SELECT l_returnflag AS rf,
        |    quantile_cont(l_quantity, 0.5) AS med
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, ROUND(any_value(med), 9) AS med,
        |  ROUND(quantile_cont(abs(l_quantity - med), 0.5), 9) AS mad
        |FROM lineitem JOIN med ON l_returnflag = rf
        |GROUP BY l_returnflag""".stripMargin,

    "q_scd_apply" ->
      """WITH ch AS (SELECT o_custkey AS key,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS newbal, o_orderdate AS ts, o_orderkey AS seq
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01'),
        |last AS (SELECT key, op, newbal FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY ts DESC, seq DESC) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT c_custkey AS key, COALESCE(l.newbal, c_acctbal) AS bal
        |FROM customer LEFT JOIN last l ON c_custkey = l.key
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,

    // the merge SINK's write-then-read round trip replayed as one
    // relational MERGE: full-outer of the %7-windowed snapshot with
    // the last-writer change set — matched deletes drop, matched
    // updates take the source bal, source-only non-deletes insert,
    // target-only rows pass through
    "q_merge_upsert" ->
      """WITH snap AS (SELECT c_custkey AS key, c_acctbal AS bal
        |  FROM customer WHERE c_custkey % 7 <> 0),
        |ch AS (SELECT o_custkey AS key,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS newbal, o_orderdate AS ts, o_orderkey AS seq
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-06-01' AND o_custkey IS NOT NULL),
        |last AS (SELECT key, op, newbal FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY ts DESC, seq DESC) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT COALESCE(s.key, l.key) AS key,
        |  CASE WHEN l.key IS NOT NULL THEN l.newbal ELSE s.bal END AS bal
        |FROM snap s FULL OUTER JOIN last l ON s.key = l.key
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,

    // the version chain replayed relationally: v2 = MERGE(v1, ch1),
    // v3 = MERGE(v2, ch2); per-version fingerprints close in exact
    // decimal(28,2) sums
    "q_time_travel" ->
      """WITH v1 AS (SELECT c_custkey AS key, c_acctbal AS bal
        |  FROM customer WHERE c_custkey % 7 <> 0),
        |ch1 AS (SELECT o_custkey AS key,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS newbal, o_orderdate AS ts, o_orderkey AS seq
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-07-01'
        |    AND o_custkey IS NOT NULL),
        |last1 AS (SELECT key, op, newbal FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY ts DESC, seq DESC) AS rn FROM ch1)
        |  WHERE rn = 1),
        |v2 AS (SELECT COALESCE(s.key, l.key) AS key,
        |    CASE WHEN l.key IS NOT NULL THEN l.newbal ELSE s.bal END AS bal
        |  FROM v1 s FULL OUTER JOIN last1 l ON s.key = l.key
        |  WHERE l.op IS NULL OR l.op <> 'D'),
        |ch2 AS (SELECT o_custkey AS key,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS newbal, o_orderdate AS ts, o_orderkey AS seq
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |    AND o_orderdate < TIMESTAMP '1999-01-01'
        |    AND o_custkey IS NOT NULL),
        |last2 AS (SELECT key, op, newbal FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY ts DESC, seq DESC) AS rn FROM ch2)
        |  WHERE rn = 1),
        |v3 AS (SELECT COALESCE(s.key, l.key) AS key,
        |    CASE WHEN l.key IS NOT NULL THEN l.newbal ELSE s.bal END AS bal
        |  FROM v2 s FULL OUTER JOIN last2 l ON s.key = l.key
        |  WHERE l.op IS NULL OR l.op <> 'D')
        |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  SUM(CAST(bal AS DECIMAL(28,2))) AS sum_bal FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  SUM(CAST(bal AS DECIMAL(28,2))) FROM v2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  SUM(CAST(bal AS DECIMAL(28,2))) FROM v3
        |ORDER BY version""".stripMargin,

    // identical relational replay — the format() read path must resolve
    // each version to the same state the Scala API does
    "q_time_travel_sql" ->
      """WITH v1 AS (SELECT c_custkey AS key, c_acctbal AS bal
        |  FROM customer WHERE c_custkey % 7 <> 0),
        |ch1 AS (SELECT o_custkey AS key,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS newbal, o_orderdate AS ts, o_orderkey AS seq
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-07-01'
        |    AND o_custkey IS NOT NULL),
        |last1 AS (SELECT key, op, newbal FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY ts DESC, seq DESC) AS rn FROM ch1)
        |  WHERE rn = 1),
        |v2 AS (SELECT COALESCE(s.key, l.key) AS key,
        |    CASE WHEN l.key IS NOT NULL THEN l.newbal ELSE s.bal END AS bal
        |  FROM v1 s FULL OUTER JOIN last1 l ON s.key = l.key
        |  WHERE l.op IS NULL OR l.op <> 'D'),
        |ch2 AS (SELECT o_custkey AS key,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice AS newbal, o_orderdate AS ts, o_orderkey AS seq
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |    AND o_orderdate < TIMESTAMP '1999-01-01'
        |    AND o_custkey IS NOT NULL),
        |last2 AS (SELECT key, op, newbal FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY ts DESC, seq DESC) AS rn FROM ch2)
        |  WHERE rn = 1),
        |v3 AS (SELECT COALESCE(s.key, l.key) AS key,
        |    CASE WHEN l.key IS NOT NULL THEN l.newbal ELSE s.bal END AS bal
        |  FROM v2 s FULL OUTER JOIN last2 l ON s.key = l.key
        |  WHERE l.op IS NULL OR l.op <> 'D')
        |SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |  SUM(CAST(bal AS DECIMAL(28,2))) AS sum_bal FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  SUM(CAST(bal AS DECIMAL(28,2))) FROM v2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  SUM(CAST(bal AS DECIMAL(28,2))) FROM v3
        |ORDER BY version""".stripMargin,

    "q_scd2" ->
      """WITH c AS (SELECT o_custkey AS key, o_orderpriority AS attr,
        |    o_orderdate AS ts, o_orderkey AS seq,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |ch AS (SELECT key, attr, ts, seq FROM c
        |  WHERE prev IS NULL OR prev <> attr)
        |SELECT key, CAST(row_number() OVER w AS INT) AS version, attr,
        |  CAST(epoch(ts) AS BIGINT) AS eff_from,
        |  CAST(COALESCE(epoch(lead(ts) OVER w), 253402300800) AS BIGINT) AS eff_to,
        |  CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
        |FROM ch WINDOW w AS (PARTITION BY key ORDER BY ts, seq)""".stripMargin,

    // literal BETWEEN-range join against the version table — proves the
    // as-of union-window rewrite
    "q_scd2_join" ->
      s"""WITH c AS (SELECT o_custkey AS key, o_orderpriority AS attr,
        |    o_orderdate AS ts, o_orderkey AS seq,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |d AS (SELECT key, attr, ts AS eff_from,
        |    lead(ts) OVER (PARTITION BY key ORDER BY ts, seq) AS eff_to
        |  FROM c WHERE prev IS NULL OR prev <> attr),
        |f AS (SELECT o_custkey AS key, l_shipdate, l_extendedprice, l_discount
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT d.attr, CAST(COUNT(*) AS BIGINT) AS n_lines, $RevenueSql AS revenue
        |FROM f JOIN d ON f.key = d.key AND f.l_shipdate >= d.eff_from
        |  AND (d.eff_to IS NULL OR f.l_shipdate < d.eff_to)
        |GROUP BY d.attr ORDER BY d.attr""".stripMargin,

    // ground truth the prefix filter must equal: all-pairs exact Jaccard
    "q_prefix_join" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 600),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |  CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jac
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.5""".stripMargin,

    "q_zorder" -> ZOrderOracle,

    "q_gapfill" ->
      """WITH e AS (SELECT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    ts, event_id, value
        |  FROM events WHERE user_id < 30),
        |daily AS (SELECT user_id, day, v FROM (
        |    SELECT user_id, day, value AS v, row_number() OVER (
        |      PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM e) WHERE rn = 1),
        |g AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM g)
        |SELECT grid.user_id, grid.day,
        |  last_value(daily.v IGNORE NULLS) OVER (PARTITION BY grid.user_id
        |    ORDER BY grid.day ROWS UNBOUNDED PRECEDING) AS value
        |FROM grid LEFT JOIN daily
        |  ON grid.user_id = daily.user_id AND grid.day = daily.day""".stripMargin,

    "q_funnel_latency" ->
      """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |lat AS (SELECT (datediff('second', su.s_ts, min(e.ts)) // 3600) AS h
        |  FROM events e JOIN su ON su.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
        |  GROUP BY e.user_id, su.s_ts),
        |hist AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY h),
        |cum AS (SELECT h, c, CAST(SUM(c) OVER (ORDER BY h
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM hist),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM hist)
        |SELECT max(nn) AS n_users,
        |  min(CASE WHEN cum >= (nn + 1) // 2 THEN h END) AS p50_hours,
        |  min(CASE WHEN cum >= (9 * nn + 9) // 10 THEN h END) AS p90_hours
        |FROM cum, tot""".stripMargin,

    "q_movers" ->
      """WITH spend AS (SELECT
        |    CASE WHEN year(o_orderdate) <= 1997 THEN 'p1' ELSE 'p2' END AS period,
        |    o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1, 2),
        |rk AS (SELECT period, o_custkey,
        |    CAST(row_number() OVER (PARTITION BY period
        |      ORDER BY spend DESC, o_custkey ASC) AS BIGINT) AS rnk
        |  FROM spend)
        |SELECT a.o_custkey, a.rnk AS r1, b.rnk AS r2, a.rnk - b.rnk AS delta
        |FROM rk a JOIN rk b ON a.o_custkey = b.o_custkey
        |  AND a.period = 'p1' AND b.period = 'p2'
        |ORDER BY delta DESC, a.o_custkey ASC LIMIT 20""".stripMargin,

    "q_smape" ->
      """WITH d AS (SELECT event_type AS arm, CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT arm, x, lag(x) OVER (PARTITION BY arm ORDER BY day) AS prev
        |  FROM d),
        |t AS (SELECT arm, CAST(ROUND(2.0 * abs(CAST(x AS DOUBLE) - CAST(prev AS DOUBLE))
        |    / (abs(CAST(x AS DOUBLE)) + abs(CAST(prev AS DOUBLE))), 9)
        |    AS DECIMAL(24,9)) AS term
        |  FROM l WHERE prev IS NOT NULL)
        |SELECT arm, CAST(count(*) AS BIGINT) AS n_days,
        |  ROUND(CAST(SUM(term) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS smape
        |FROM t GROUP BY arm ORDER BY arm""".stripMargin,

    "q_power" ->
      """WITH g AS (SELECT event_type AS arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
        |      AS DECIMAL(28,4))) AS DOUBLE) AS sx2
        |  FROM events GROUP BY 1),
        |v AS (SELECT arm, n, sx,
        |    (CAST(n AS DOUBLE) * sx2 - sx * sx)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS s2
        |  FROM g)
        |SELECT arm, n,
        |  ROUND(2.801585 * sqrt(2.0 * s2 / CAST(n AS DOUBLE)), 9) AS mde_abs,
        |  ROUND(2.801585 * sqrt(2.0 * s2 / CAST(n AS DOUBLE))
        |    / (sx / CAST(n AS DOUBLE)), 9) AS mde_rel
        |FROM v ORDER BY arm""".stripMargin,

    "q_concurrency" ->
      """WITH x AS (
        |  SELECT user_id, event_id, epoch(ts) AS sec,
        |    CASE WHEN lag(epoch(ts)) OVER w IS NULL
        |           OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, sec,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM x
        |), sess AS (
        |  SELECT CAST(FLOOR(MIN(sec)) AS BIGINT) AS start_s,
        |    CAST(FLOOR(MAX(sec)) AS BIGINT) AS end_s
        |  FROM y GROUP BY user_id, session_seq
        |), clipped AS (
        |  SELECT d, GREATEST(start_s, d * 86400) AS cs,
        |    LEAST(end_s, d * 86400 + 86399) AS ce
        |  FROM (SELECT start_s, end_s,
        |      unnest(generate_series(start_s // 86400, end_s // 86400)) AS d
        |    FROM sess)
        |), bounds AS (
        |  SELECT d, t, CAST(SUM(delta) AS BIGINT) AS net,
        |    CAST(SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS plus
        |  FROM (SELECT d, cs AS t, 1 AS delta FROM clipped
        |    UNION ALL SELECT d, ce + 1 AS t, -1 AS delta FROM clipped)
        |  GROUP BY d, t
        |), swept AS (
        |  SELECT d, t, net, plus,
        |    CAST(SUM(net) OVER (PARTITION BY d ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM bounds
        |), gm AS (SELECT d, t, cum - net + plus AS gm FROM swept),
        |mx AS (SELECT d, t, gm, MAX(gm) OVER (PARTITION BY d) AS mxg FROM gm)
        |SELECT d AS day, CAST(MAX(gm) AS BIGINT) AS peak,
        |  MIN(CASE WHEN gm = mxg THEN t END) AS at_s
        |FROM mx GROUP BY d ORDER BY day""".stripMargin,

    "q_decompose" ->
      """WITH daily AS (SELECT
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |tr AS (SELECT day, x,
        |    CAST(count(*) OVER w AS BIGINT) AS nw,
        |    ROUND(CAST(SUM(x) OVER w AS DOUBLE)
        |      / CAST(count(*) OVER w AS DOUBLE), 9) AS trend
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dt AS (SELECT day, x, trend,
        |    ROUND(CAST(x AS DOUBLE) - trend, 9) AS det,
        |    (day + 4) % 7 AS dow
        |  FROM tr WHERE nw = 7),
        |seas AS (SELECT dow,
        |    ROUND(CAST(SUM(CAST(det AS DECIMAL(24,9))) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE), 9) AS seasonal
        |  FROM dt GROUP BY dow)
        |SELECT day, CAST(x AS DOUBLE) AS revenue, trend, seasonal,
        |  ROUND(det - seasonal, 9) AS residual
        |FROM dt JOIN seas ON seas.dow = dt.dow
        |ORDER BY day""".stripMargin,

    "q_eb_shrinkage" ->
      """WITH src AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM documents GROUP BY source),
        |r AS (SELECT source, n, x,
        |    ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 9) AS rate FROM src),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS kk,
        |    SUM(CAST(rate AS DECIMAL(24,9))) AS sr FROM r),
        |m AS (SELECT CAST(sr AS DOUBLE) / CAST(kk AS DOUBLE) AS m,
        |    CAST(kk AS DOUBLE) AS kk FROM k),
        |v AS (SELECT m.m, m.kk,
        |    CAST(SUM(CAST(ROUND((rate - m.m) * (rate - m.m), 9)
        |      AS DECIMAL(24,9))) AS DOUBLE) / m.kk AS v
        |  FROM r, m GROUP BY m.m, m.kk),
        |ab AS (SELECT m, m * (1.0 - m) / v - 1.0 AS ab FROM v),
        |pr AS (SELECT m * ab AS alpha, (1.0 - m) * ab AS beta FROM ab)
        |SELECT source, n, x, rate,
        |  ROUND((CAST(x AS DOUBLE) + alpha)
        |    / (CAST(n AS DOUBLE) + alpha + beta), 6) AS shrunk
        |FROM r, pr ORDER BY source""".stripMargin,

    "q_dp_counts" ->
      """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
        |  FROM events GROUP BY event_type),
        |u AS (SELECT event_type, true_n,
        |    CAST(('0x' || substring(md5('dp:' || event_type), 1, 15))::BIGINT
        |      AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM c)
        |SELECT event_type,
        |  ROUND(CAST(true_n AS DOUBLE)
        |    + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) / 1.0), 6) AS noisy_n
        |FROM u ORDER BY event_type""".stripMargin,

    "q_cuped" ->
      """WITH per AS (SELECT user_id,
        |    SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS pre,
        |    SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |      THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS post
        |  FROM events GROUP BY user_id),
        |pa AS (SELECT pre, post,
        |    CAST(('0x' || substring(md5('cuped:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS INTEGER) AS arm
        |  FROM per),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(pre AS DECIMAL(28,4))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(post AS DECIMAL(28,4))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(pre * pre AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(pre * post AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(post * post AS DECIMAL(28,4))) AS DOUBLE) AS syy
        |  FROM pa),
        |th AS (SELECT
        |    (CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n AS DOUBLE) * sxx - sx * sx) AS th,
        |    sx / CAST(n AS DOUBLE) AS mx,
        |    ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
        |      / ((CAST(n AS DOUBLE) * sxx - sx * sx)
        |        * (CAST(n AS DOUBLE) * syy - sy * sy)) AS vr
        |  FROM g),
        |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
        |    CAST(SUM(CAST(pre AS DECIMAL(28,4))) AS DOUBLE) AS sxa,
        |    CAST(SUM(CAST(post AS DECIMAL(28,4))) AS DOUBLE) AS sya
        |  FROM pa GROUP BY arm)
        |SELECT arm, n_arm,
        |  ROUND(sya / CAST(n_arm AS DOUBLE), 9) AS mean_post,
        |  ROUND(sya / CAST(n_arm AS DOUBLE)
        |    - th * (sxa / CAST(n_arm AS DOUBLE) - mx), 9) AS adj_mean,
        |  ROUND(vr, 9) AS var_reduction
        |FROM arms, th ORDER BY arm""".stripMargin,

    "q_burstiness" ->
      """WITH td AS (SELECT doc_id, unnest(list_filter(
        |      string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM td GROUP BY 1, 2),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS dd FROM documents),
        |pt AS (SELECT token, CAST(SUM(c) AS BIGINT) AS s1,
        |    CAST(SUM(c * c) AS BIGINT) AS s2 FROM c GROUP BY token)
        |SELECT token, s1 AS n_occ,
        |  ROUND((CAST(dd AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |    / (CAST(dd AS DOUBLE) * CAST(s1 AS DOUBLE)), 9) AS vmr
        |FROM pt, d ORDER BY n_occ DESC, token ASC LIMIT 50""".stripMargin,

    "q_growth_accounting" ->
      """WITH da AS (SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |f AS (SELECT user_id, day,
        |    lag(day) OVER w AS prev, lead(day) OVER w AS nxt
        |  FROM da WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |md AS (SELECT max(day) AS max_day FROM da),
        |act AS (SELECT day,
        |    CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_resurrected
        |  FROM f GROUP BY day),
        |ch AS (SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM f, md
        |  WHERE (nxt IS NULL OR nxt > day + 1) AND day + 1 <= max_day
        |  GROUP BY day + 1)
        |SELECT act.day, n_new, n_retained, n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned,
        |  CASE WHEN COALESCE(n_churned, 0) > 0
        |    THEN ROUND(CAST(n_new + n_resurrected AS DOUBLE)
        |      / CAST(n_churned AS DOUBLE), 9) END AS quick_ratio
        |FROM act LEFT JOIN ch ON ch.day = act.day
        |ORDER BY act.day""".stripMargin,

    "q_session_paths" ->
      """WITH s AS (SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1 || '>' || e2 || '>' || e3 AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20""".stripMargin,

    // coincidence-matrix replay: the per-unit diagonal fractions are
    // the identical round(9) double divisions into a DECIMAL sum,
    // marginals stay integer
    "q_krippendorff" ->
      """WITH r AS (SELECT user_id % 100 AS unit, event_type AS rater,
        |    CAST(floor(value / 25.0) AS INT) AS v FROM events),
        |rr AS (SELECT unit, rater, MIN(v) AS v FROM r GROUP BY 1, 2),
        |cu AS (SELECT unit, v, CAST(count(*) AS BIGINT) AS c FROM rr GROUP BY 1, 2),
        |mu AS (SELECT unit, CAST(SUM(c) AS BIGINT) AS m FROM cu GROUP BY 1),
        |j AS (SELECT cu.unit, cu.v, cu.c, mu.m FROM cu
        |  JOIN mu ON mu.unit = cu.unit WHERE m >= 2),
        |occ AS (SELECT SUM(CAST(round(CAST(c * (c - 1) AS DOUBLE)
        |    / CAST(m - 1 AS DOUBLE), 9) AS DECIMAL(28,9))) AS occ FROM j),
        |tt AS (SELECT CAST(SUM(nc) AS BIGINT) AS n,
        |    CAST(SUM(nc * (nc - 1)) AS BIGINT) AS s2
        |  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS nc FROM j GROUP BY v))
        |SELECT n, CAST(occ AS DOUBLE) AS o_cc, s2,
        |  round(CASE WHEN 1.0 - CAST(s2 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) = 0.0 THEN 0.0
        |    ELSE (CAST(occ AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
        |      / (1.0 - CAST(s2 AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END, 9) AS alpha
        |FROM occ CROSS JOIN tt""".stripMargin,

    "q_cohen_kappa" ->
      ("""WITH b AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS toks
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS en,
        |  len(list_filter(toks, x -> x IN ('el','la','de','y','que'))) AS es,
        |  len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS de,
        |  len(list_filter(toks, x -> x IN ('le','les','et','des','une'))) AS fr
        |  FROM b),
        |lang_pred AS (SELECT doc_id,
        |  CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |       WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |       WHEN de >= fr AND de > 0 THEN 'de'
        |       WHEN fr > 0 THEN 'fr'
        |       ELSE 'unknown' END AS lang_pred
        |FROM sc)""".stripMargin +
      """, conf AS (SELECT d.lang, p.lang_pred AS pred,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents d JOIN lang_pred p ON p.doc_id = d.doc_id
        |  GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM conf),
        |agree AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS po_n
        |  FROM conf WHERE lang = pred),
        |pe AS (SELECT CAST(COALESCE(SUM(rt * ct), 0) AS BIGINT) AS pe_n FROM
        |  (SELECT lang, CAST(SUM(c) AS BIGINT) AS rt FROM conf GROUP BY lang) r
        |  JOIN (SELECT pred, CAST(SUM(c) AS BIGINT) AS ct FROM conf
        |    GROUP BY pred) cc ON cc.pred = r.lang)
        |SELECT nn, ROUND(CAST(po_n AS DOUBLE) / CAST(nn AS DOUBLE), 9) AS po,
        |  ROUND((CAST(po_n AS DOUBLE) / CAST(nn AS DOUBLE)
        |      - CAST(pe_n AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)))
        |    / (1.0 - CAST(pe_n AS DOUBLE)
        |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))), 9) AS kappa
        |FROM tot, agree, pe""".stripMargin),

    "q_threshold_metrics" ->
      """WITH ev AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    event_type = 'purchase' AS y FROM events),
        |h AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY v),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM h),
        |med AS (SELECT MIN(CASE WHEN cum >= (nn + 1) // 2 THEN v END) AS p50
        |  FROM (SELECT v, CAST(SUM(c) OVER (ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h), tot),
        |cm AS (SELECT
        |    CAST(SUM(CASE WHEN y AND v >= p50 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN NOT y AND v >= p50 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN y AND v < p50 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT y AND v < p50 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM ev, med)
        |SELECT tp, fp, fn, tn,
        |  ROUND(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)), 9)
        |    AS precision,
        |  ROUND(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)), 9)
        |    AS recall,
        |  ROUND(2.0 * CAST(tp AS DOUBLE) / (2.0 * CAST(tp AS DOUBLE)
        |    + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)), 9) AS f1,
        |  ROUND((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
        |      - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
        |    / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
        |      * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
        |      * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
        |      * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))), 9) AS mcc
        |FROM cm""".stripMargin,

    "q_kneser_ney" ->
      """WITH t AS (SELECT
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |bg AS (SELECT p.w1 AS w1, p.w2 AS w2
        |  FROM (SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS p
        |    FROM t WHERE len(tk) >= 2)),
        |cxy AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy
        |  FROM bg GROUP BY 1, 2),
        |lt AS (SELECT w1, CAST(SUM(cxy) AS BIGINT) AS cx,
        |    CAST(count(*) AS BIGINT) AS n1l FROM cxy GROUP BY 1),
        |rt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM cxy GROUP BY 1),
        |ty AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM cxy)
        |SELECT cxy.w1, cxy.w2, cxy.cxy,
        |  ROUND((CAST(cxy.cxy AS DOUBLE) - 0.75) / CAST(cx AS DOUBLE)
        |    + (0.75 * CAST(n1l AS DOUBLE) / CAST(cx AS DOUBLE))
        |      * (CAST(n1r AS DOUBLE) / CAST(bt AS DOUBLE)), 9) AS p_kn
        |FROM cxy JOIN lt ON lt.w1 = cxy.w1 JOIN rt ON rt.w2 = cxy.w2, ty
        |ORDER BY cxy.cxy DESC, cxy.w1 ASC, cxy.w2 ASC LIMIT 50""".stripMargin,

    "q_entropy_rate" ->
      """WITH t AS (SELECT source,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |bg AS (SELECT source, p.w1 AS w1, p.w2 AS w2
        |  FROM (SELECT source, unnest(list_transform(range(1, len(tk)),
        |      i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS p
        |    FROM t WHERE len(tk) >= 2)),
        |cxy AS (SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS cxy
        |  FROM bg GROUP BY 1, 2, 3),
        |cx AS (SELECT source, w1, CAST(SUM(cxy) AS BIGINT) AS cx
        |  FROM cxy GROUP BY 1, 2),
        |nt AS (SELECT source, CAST(SUM(cxy) AS BIGINT) AS nb
        |  FROM cxy GROUP BY 1)
        |SELECT cxy.source, nb AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(ROUND((CAST(cxy.cxy AS DOUBLE) / CAST(nb AS DOUBLE))
        |      * ln(CAST(cx.cx AS DOUBLE) / CAST(cxy.cxy AS DOUBLE)), 9)
        |    AS DECIMAL(24,9))) AS DOUBLE), 6) AS h_rate
        |FROM cxy JOIN cx ON cx.source = cxy.source AND cx.w1 = cxy.w1
        |JOIN nt ON nt.source = cxy.source
        |GROUP BY cxy.source, nb ORDER BY cxy.source""".stripMargin,

    "q_acf" ->
      """WITH d AS (SELECT event_type AS arm, CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx
        |  FROM d GROUP BY arm),
        |stm AS (SELECT arm, ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 9)
        |    AS mean FROM st),
        |dm AS (SELECT d.arm, d.day, d.x, mean FROM d
        |  JOIN stm ON stm.arm = d.arm),
        |den AS (SELECT arm, SUM(CAST(ROUND((CAST(x AS DOUBLE) - mean)
        |    * (CAST(x AS DOUBLE) - mean), 9) AS DECIMAL(24,9))) AS den
        |  FROM dm GROUP BY arm),
        |pr AS (SELECT dm.arm, k, dm.day + CAST(k AS INTEGER) AS day2,
        |    dm.x AS x1, mean
        |  FROM dm CROSS JOIN (SELECT unnest(range(1, 8)) AS k)),
        |pairs AS (SELECT pr.arm, pr.k, pr.x1, d.x AS x2, pr.mean
        |  FROM pr JOIN d ON d.arm = pr.arm AND d.day = pr.day2),
        |num AS (SELECT arm AS narm, k, SUM(CAST(ROUND((CAST(x1 AS DOUBLE) - mean)
        |      * (CAST(x2 AS DOUBLE) - mean), 9) AS DECIMAL(24,9))) AS num,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM pairs GROUP BY arm, k)
        |SELECT narm AS arm, CAST(k AS BIGINT) AS k, m,
        |  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
        |FROM num JOIN den ON den.arm = num.narm ORDER BY arm, k""".stripMargin,

    "q_winsorized_mean" ->
      """WITH h AS (SELECT event_type AS arm, CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |cum AS (SELECT arm, v, c, CAST(SUM(c) OVER (PARTITION BY arm
        |    ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h),
        |tot AS (SELECT arm, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY arm),
        |cuts AS (SELECT cum.arm, n,
        |    MIN(CASE WHEN cum >= (n + 19) // 20 THEN v END) AS p5,
        |    MIN(CASE WHEN cum >= (19 * n + 19) // 20 THEN v END) AS p95
        |  FROM cum JOIN tot ON tot.arm = cum.arm GROUP BY cum.arm, n),
        |w AS (SELECT h.arm, n,
        |    GREATEST(p5, LEAST(p95, v)) AS wv, c
        |  FROM h JOIN cuts ON cuts.arm = h.arm)
        |SELECT arm, n,
        |  ROUND(CAST(SUM(wv * c) AS DOUBLE) / CAST(n AS DOUBLE), 6) AS wmean
        |FROM w GROUP BY arm, n ORDER BY arm""".stripMargin,

    "q_theil_sen" ->
      """WITH d AS (SELECT event_type AS arm, CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS x
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.arm, a.day AS d1, b.day AS d2,
        |    ROUND(CAST(b.x - a.x AS DOUBLE)
        |      / CAST(datediff('day', a.day, b.day) AS DOUBLE), 9) AS slope
        |  FROM d a JOIN d b ON a.arm = b.arm AND a.day < b.day),
        |r AS (SELECT arm, slope, CAST(row_number() OVER (PARTITION BY arm
        |      ORDER BY slope, d1, d2) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY arm) AS BIGINT) AS m
        |  FROM p)
        |SELECT arm, m AS n_pairs, slope AS sen_slope
        |FROM r WHERE rn = (m + 1) // 2 ORDER BY arm""".stripMargin,

    "q_mann_kendall" ->
      """WITH d AS (SELECT event_type AS arm, CAST(ts AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT a.arm,
        |    CAST(SUM(CASE WHEN b.x > a.x THEN 1
        |      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM d a JOIN d b ON a.arm = b.arm AND a.day < b.day
        |  GROUP BY a.arm),
        |nd AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY arm),
        |ties AS (SELECT arm, CAST(SUM(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tie
        |  FROM (SELECT arm, x, CAST(count(*) AS BIGINT) AS t
        |    FROM d GROUP BY arm, x) GROUP BY arm),
        |j AS (SELECT s.arm, s_stat, n,
        |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
        |      * (CAST(n AS DOUBLE) * 2.0 + 5.0) - CAST(tie AS DOUBLE)) / 18.0 AS vars
        |  FROM s JOIN nd ON nd.arm = s.arm JOIN ties ON ties.arm = s.arm)
        |SELECT arm, s_stat, n,
        |  ROUND(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(vars)
        |    WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(vars)
        |    ELSE 0.0 END, 9) AS z_stat
        |FROM j ORDER BY arm""".stripMargin,

    "q_survival" ->
      """WITH hz AS (SELECT CAST(FLOOR(max(epoch(ts))) AS BIGINT) AS hz FROM events),
        |u AS (SELECT
        |    (COALESCE(CAST(FLOOR(min(CASE WHEN event_type = 'purchase'
        |          AND value > 300.0 THEN epoch(ts) END)) AS BIGINT),
        |        (SELECT hz FROM hz))
        |      - CAST(FLOOR(min(epoch(ts))) AS BIGINT)) // 86400 AS dur,
        |    (min(CASE WHEN event_type = 'purchase' AND value > 300.0
        |        THEN epoch(ts) END) IS NULL) AS censored
        |  FROM events GROUP BY user_id),
        |hd AS (SELECT dur, CAST(count(*) AS BIGINT) AS all_n,
        |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM u GROUP BY dur),
        |tot AS (SELECT CAST(SUM(all_n) AS BIGINT) AS nn FROM hd),
        |ar AS (SELECT dur, d, nn - CAST(COALESCE(SUM(all_n) OVER (ORDER BY dur
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n
        |  FROM hd, tot),
        |ev AS (SELECT dur, d, n,
        |    CASE WHEN d < n THEN CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE)
        |      / CAST(n AS DOUBLE)), 9) AS DECIMAL(20,9)) END AS lt
        |  FROM ar WHERE d > 0),
        |cm AS (SELECT dur, d, n,
        |    MAX(CASE WHEN d = n THEN 1 ELSE 0 END) OVER (ORDER BY dur
        |      ROWS UNBOUNDED PRECEDING) AS dead,
        |    SUM(lt) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ev)
        |SELECT dur, d, n,
        |  CASE WHEN dead = 1 THEN 0.0
        |    ELSE ROUND(exp(CAST(cum AS DOUBLE)), 6) END AS surv
        |FROM cm ORDER BY dur""".stripMargin,

    "q_psi" ->
      """WITH o AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    CASE WHEN year(o_orderdate) <= 1997 THEN 'p' ELSE 'q' END AS per
        |  FROM orders),
        |bh AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM o
        |  WHERE per = 'p' GROUP BY v),
        |nb AS (SELECT CAST(SUM(c) AS BIGINT) AS nbase FROM bh),
        |cl AS (SELECT v, c, CAST(COALESCE(SUM(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumlt
        |  FROM bh),
        |cuts AS (SELECT LEAST(9, CAST(FLOOR(cumlt * 10.0 / nbase) AS BIGINT)) AS band,
        |    MIN(v) AS cut FROM cl, nb GROUP BY 1),
        |ph AS (SELECT per, v, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1, 2),
        |bd AS (SELECT ph.per, ph.v, ph.c,
        |    GREATEST(0, CAST(count(cuts.cut) AS BIGINT) - 1) AS band
        |  FROM ph LEFT JOIN cuts ON cuts.cut <= ph.v
        |  GROUP BY ph.per, ph.v, ph.c),
        |bands AS (SELECT band,
        |    CAST(SUM(CASE WHEN per = 'p' THEN c ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(SUM(CASE WHEN per = 'q' THEN c ELSE 0 END) AS BIGINT) AS cq
        |  FROM bd GROUP BY band),
        |tots AS (SELECT
        |    CAST(SUM(CASE WHEN per = 'p' THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN per = 'q' THEN 1 ELSE 0 END) AS BIGINT) AS nq
        |  FROM o),
        |sh AS (SELECT band, cp, cq,
        |    GREATEST(ROUND(CAST(cp AS DOUBLE) / CAST(np AS DOUBLE), 9), 1e-6) AS ps,
        |    GREATEST(ROUND(CAST(cq AS DOUBLE) / CAST(nq AS DOUBLE), 9), 1e-6) AS qs
        |  FROM bands, tots)
        |SELECT band, cp, cq,
        |  ROUND((ps - qs) * ln(ps / qs), 9) AS psi_term
        |FROM sh ORDER BY band""".stripMargin,

    "q_rfm" ->
      """WITH base AS (SELECT o_custkey,
        |    max(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS last_day,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY o_custkey),
        |t AS (SELECT o_custkey,
        |    CAST(ntile(5) OVER (ORDER BY last_day, o_custkey) AS BIGINT) AS r,
        |    CAST(ntile(5) OVER (ORDER BY freq, o_custkey) AS BIGINT) AS f,
        |    CAST(ntile(5) OVER (ORDER BY spend, o_custkey) AS BIGINT) AS m
        |  FROM base)
        |SELECT r * 100 + f * 10 + m AS rfm,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM t GROUP BY 1 ORDER BY rfm""".stripMargin,

    "q_seasonal_index" ->
      """WITH base AS (SELECT event_type AS arm,
        |    (datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7 AS dow,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |bd AS (SELECT arm, dow, CAST(count(*) AS BIGINT) AS nd,
        |    SUM(v) AS sd FROM base GROUP BY 1, 2),
        |ba AS (SELECT arm, CAST(count(*) AS BIGINT) AS tn,
        |    SUM(v) AS ts FROM base GROUP BY 1)
        |SELECT bd.arm, bd.dow, bd.nd AS n,
        |  ROUND((CAST(sd AS DOUBLE) * CAST(tn AS DOUBLE))
        |    / (CAST(nd AS DOUBLE) * CAST(ts AS DOUBLE)), 9) AS idx
        |FROM bd JOIN ba ON ba.arm = bd.arm
        |ORDER BY bd.arm, bd.dow""".stripMargin,

    "q_lorenz" ->
      """WITH spend AS (SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY o_custkey),
        |rk AS (SELECT spend, CAST(row_number() OVER (
        |    ORDER BY spend, o_custkey) AS BIGINT) AS rnk FROM spend),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn, SUM(spend) AS ts
        |  FROM spend),
        |bands AS (SELECT (10 * (rnk - 1)) // nn AS band, ts,
        |    CAST(count(*) AS BIGINT) AS n_cust, SUM(spend) AS bs
        |  FROM rk, tot GROUP BY 1, 2),
        |cum AS (SELECT band, ts, n_cust, bs,
        |    SUM(bs) OVER (ORDER BY band ROWS UNBOUNDED PRECEDING) AS cs
        |  FROM bands)
        |SELECT band, n_cust,
        |  ROUND(CAST(bs AS DOUBLE) / CAST(ts AS DOUBLE), 9) AS share,
        |  ROUND(CAST(cs AS DOUBLE) / CAST(ts AS DOUBLE), 9) AS cum_share
        |FROM cum ORDER BY band""".stripMargin,

    "q_attribution_linear" ->
      """WITH convs AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, ts, event_id, event_type AS ch FROM events
        |  WHERE event_type IN ('click', 'view')),
        |per AS (SELECT c.event_id AS cid,
        |    CAST(count(CASE WHEN t.ch = 'click' THEN 1 END) AS BIGINT) AS nc,
        |    CAST(count(CASE WHEN t.ch = 'view' THEN 1 END) AS BIGINT) AS nv
        |  FROM convs c LEFT JOIN tch t ON t.user_id = c.user_id
        |    AND t.ts <= c.ts AND t.ts > c.ts - INTERVAL 7 DAY
        |  GROUP BY c.event_id),
        |cr AS (
        |  SELECT 'click' AS channel, CAST(ROUND(CAST(nc AS DOUBLE)
        |      / CAST(nc + nv AS DOUBLE), 9) AS DECIMAL(20,9)) AS share
        |    FROM per WHERE nc + nv > 0
        |  UNION ALL
        |  SELECT 'view', CAST(ROUND(CAST(nv AS DOUBLE)
        |      / CAST(nc + nv AS DOUBLE), 9) AS DECIMAL(20,9))
        |    FROM per WHERE nc + nv > 0
        |  UNION ALL
        |  SELECT '(none)', CAST(1 AS DECIMAL(20,9)) FROM per WHERE nc + nv = 0)
        |SELECT channel, CAST(SUM(share) AS DOUBLE) AS attr_convs
        |FROM cr GROUP BY channel ORDER BY channel""".stripMargin,

    "q_attribution" ->
      """WITH touches AS (SELECT user_id, ts, event_id, event_type AS channel
        |  FROM events WHERE event_type IN ('click', 'view')),
        |convs AS (SELECT user_id, ts, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS cv
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.user_id, c.event_id AS cid, c.cv, t.channel,
        |    row_number() OVER (PARTITION BY c.user_id, c.event_id
        |      ORDER BY t.ts DESC, t.event_id DESC) AS rn
        |  FROM convs c LEFT JOIN touches t
        |    ON t.user_id = c.user_id AND t.ts <= c.ts
        |    AND t.ts > c.ts - INTERVAL 7 DAY),
        |a AS (SELECT COALESCE(channel, '(none)') AS channel, cv
        |  FROM j WHERE rn = 1)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_conv,
        |  CAST(SUM(cv) AS DOUBLE) AS attr_value
        |FROM a GROUP BY channel ORDER BY channel""".stripMargin,

    "q_interpolate" ->
      """WITH e AS (SELECT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    ts, event_id, value
        |  FROM events WHERE user_id < 30),
        |daily AS (SELECT user_id, day,
        |    CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc FROM (
        |    SELECT user_id, day, value AS v, row_number() OVER (
        |      PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM e) WHERE rn = 1),
        |g AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM g),
        |br AS (SELECT grid.user_id, grid.day,
        |    last_value(CASE WHEN daily.vc IS NOT NULL THEN grid.day END IGNORE NULLS)
        |      OVER (PARTITION BY grid.user_id ORDER BY grid.day
        |        ROWS UNBOUNDED PRECEDING) AS dp,
        |    last_value(daily.vc IGNORE NULLS)
        |      OVER (PARTITION BY grid.user_id ORDER BY grid.day
        |        ROWS UNBOUNDED PRECEDING) AS vp,
        |    first_value(CASE WHEN daily.vc IS NOT NULL THEN grid.day END IGNORE NULLS)
        |      OVER (PARTITION BY grid.user_id ORDER BY grid.day
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn,
        |    first_value(daily.vc IGNORE NULLS)
        |      OVER (PARTITION BY grid.user_id ORDER BY grid.day
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn
        |  FROM grid LEFT JOIN daily
        |    ON grid.user_id = daily.user_id AND grid.day = daily.day)
        |SELECT user_id, day,
        |  ROUND(CASE WHEN dn = dp THEN CAST(vp AS DOUBLE) / 100.0
        |    ELSE (CAST(vp AS DOUBLE) +
        |      CAST(vn - vp AS DOUBLE) * CAST(day - dp AS DOUBLE)
        |        / CAST(dn - dp AS DOUBLE)) / 100.0 END, 9) AS value
        |FROM br""".stripMargin,

    "q_triangles" ->
      """WITH tk AS (SELECT list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 50),
        |p AS (SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> struct_pack(u := tk[i], v := tk[i+1]))) AS x
        |  FROM tk WHERE len(tk) >= 2),
        |e AS (SELECT DISTINCT least(x.u, x.v) AS u, greatest(x.u, x.v) AS v
        |  FROM p WHERE x.u <> x.v)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,

    // quadratic ground truth the deletion-neighborhood join must equal
    "q_edjoin" ->
      """WITH f AS (SELECT c_name AS w FROM customer WHERE c_custkey < 500)
        |SELECT a.w AS w1, b.w AS w2, CAST(levenshtein(a.w, b.w) AS INT) AS dist
        |FROM f a, f b WHERE a.w < b.w AND levenshtein(a.w, b.w) <= 1""".stripMargin,

    "q_chi2" -> Chi2Query,

    "q_cramers_v" -> CramersVQuery,

    "q_snapshot_diff" ->
      """WITH v1 AS (SELECT o_orderkey AS key,
        |    md5(o_orderstatus || '|' || o_orderpriority) AS h1
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |v2 AS (SELECT o_orderkey AS key2,
        |    md5(o_orderstatus || '|' ||
        |      CASE WHEN o_orderkey % 97 = 0 THEN 'CORRECTED'
        |           ELSE o_orderpriority END) AS h2
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 13 = 0))
        |SELECT CASE WHEN key IS NULL THEN 'added'
        |            WHEN key2 IS NULL THEN 'removed'
        |            WHEN h1 <> h2 THEN 'changed'
        |            ELSE 'unchanged' END AS class,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM v1 FULL OUTER JOIN v2 ON key = key2
        |GROUP BY 1""".stripMargin,

    // exact regime: per-source vocabulary ≤ the 64-counter budget
    "q_freq_grouped" ->
      """WITH tk AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
        |      x -> x <> '')) AS item
        |  FROM documents)
        |SELECT source, item, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM tk GROUP BY source, item""".stripMargin,

    "q_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
        |  FROM events WHERE user_id < 200),
        |i AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM d),
        |s AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS longest,
        |    MIN(day) AS start_day
        |  FROM i GROUP BY user_id, grp),
        |r AS (SELECT user_id, longest, start_day, row_number() OVER (
        |    PARTITION BY user_id ORDER BY longest DESC, start_day) AS rn
        |  FROM s)
        |SELECT user_id, longest, start_day FROM r WHERE rn = 1""".stripMargin,

    "q_autocorr" ->
      """WITH p AS (SELECT user_id,
        |    CAST(value AS DECIMAL(18,6)) AS x,
        |    lag(CAST(value AS DECIMAL(18,6)), 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS xl
        |  FROM events),
        |g AS (SELECT user_id,
        |    COUNT(*) AS n,
        |    COUNT(DISTINCT x) AS dx,
        |    COUNT(DISTINCT xl) AS dxl,
        |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(xl AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * xl AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(xl * xl AS DECIMAL(38,12))) AS DOUBLE) AS sy2
        |  FROM p WHERE xl IS NOT NULL GROUP BY user_id),
        |f AS (SELECT user_id, CAST(n AS DOUBLE) AS nd, sx, sy, sxy, sx2, sy2
        |  FROM g WHERE n >= 10 AND dx >= 2 AND dxl >= 2)
        |SELECT user_id,
        |  ROUND((nd * sxy - sx * sy) /
        |    sqrt((nd * sx2 - sx * sx) * (nd * sy2 - sy * sy)), 9) AS autocorr_1
        |FROM f""".stripMargin,

    "q_mom_change" ->
      """WITH m AS (SELECT
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |l AS (SELECT ym, rev, lag(rev, 1) OVER (ORDER BY ym) AS prev FROM m)
        |SELECT ym, rev, ROUND((rev - prev) / prev * 100.0, 9) AS mom_pct
        |FROM l WHERE prev IS NOT NULL""".stripMargin,

    "q_trending" ->
      """WITH e AS (SELECT CAST(json_extract_string(props, '$.k') AS INT) AS item,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |m AS (SELECT MAX(day) AS max_day FROM e),
        |w AS (SELECT item,
        |    CASE WHEN max_day - day <= 30
        |      THEN (CAST(1 AS BIGINT) << CAST(30 - (max_day - day) AS INT))
        |      ELSE CAST(0 AS BIGINT) END AS w
        |  FROM e CROSS JOIN m)
        |SELECT item, CAST(SUM(w) AS DOUBLE) / 1073741824.0 AS score
        |FROM w GROUP BY item ORDER BY score DESC, item LIMIT 20""".stripMargin,

    "q_rolling_median" ->
      """WITH d AS (SELECT
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT day, rev,
        |    row_number() OVER (ORDER BY day) AS rn,
        |    median(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med
        |  FROM d)
        |SELECT day, rev, med FROM r WHERE rn >= 7""".stripMargin,

    "q_pareto" -> ParetoQuery,

    "q_basket_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM li),
        |ic AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY part),
        |p AS (SELECT a.part AS i, b.part AS j, CAST(COUNT(*) AS BIGINT) AS support
        |  FROM li a JOIN li b ON a.okey = b.okey AND a.part < b.part
        |  GROUP BY a.part, b.part)
        |SELECT i, j, support,
        |  CAST(support * n_orders AS DOUBLE) / CAST(ci.cnt * cj.cnt AS DOUBLE) AS lift
        |FROM p JOIN ic ci ON p.i = ci.part JOIN ic cj ON p.j = cj.part
        |  CROSS JOIN n
        |ORDER BY support DESC, i, j LIMIT 30""".stripMargin,

    "q_transitions" ->
      """WITH m AS (SELECT prev AS from_type, event_type AS to_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT event_type, lag(event_type, 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events)
        |  WHERE prev IS NOT NULL GROUP BY prev, event_type)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM m""".stripMargin,

    "q_tpch_q6" ->
      """SELECT CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q_tpch_q10" ->
      s"""SELECT c_custkey, c_name, n_name, $RevenueSql AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_tpch_q14" ->
      """WITH j AS (SELECT p_type,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01')
        |SELECT ROUND(100.0 *
        |    CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
        |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) /
        |    CAST(SUM(rev) AS DOUBLE), 9) AS promo_pct
        |FROM j""".stripMargin,

    "q_tpch_q8" ->
      """WITH j AS (SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4)) AS vol
        |  FROM lineitem
        |    JOIN part ON l_partkey = p_partkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |    JOIN region ON n1.n_regionkey = r_regionkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO')
        |SELECT o_year,
        |  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN vol
        |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) /
        |    CAST(SUM(vol) AS DOUBLE), 9) AS mkt_share
        |FROM j GROUP BY o_year""".stripMargin,

    // ground truth: all near-dup pairs whose redundant side is incoming
    "q_dedup_incremental" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |ex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM sh),
        |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
        |isect AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM ex a JOIN ex b ON a.g = b.g
        |  WHERE b.doc_id >= 250
        |    AND (a.doc_id < 250 OR a.doc_id < b.doc_id)
        |    AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j,
        |  CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jac
        |FROM isect
        |JOIN sz sa ON sa.doc_id = i
        |JOIN sz sb ON sb.doc_id = j
        |WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.8""".stripMargin,

    // the telescoped-product pass@k with the same ten left-folded
    // double factors and explicit n<k / n−c<k branches
    "q_pass_at_k" ->
      """WITH b AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN value > 80.0 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM events WHERE user_id < 200 GROUP BY user_id)
        |SELECT user_id, n, c,
        |  CASE WHEN n < 10 THEN NULL
        |       WHEN n - c < 10 THEN 1.0
        |       ELSE round(1.0 -
        |    ((CAST(n - c AS DOUBLE) - 0.0) / (CAST(n AS DOUBLE) - 0.0))
        |  * ((CAST(n - c AS DOUBLE) - 1.0) / (CAST(n AS DOUBLE) - 1.0))
        |  * ((CAST(n - c AS DOUBLE) - 2.0) / (CAST(n AS DOUBLE) - 2.0))
        |  * ((CAST(n - c AS DOUBLE) - 3.0) / (CAST(n AS DOUBLE) - 3.0))
        |  * ((CAST(n - c AS DOUBLE) - 4.0) / (CAST(n AS DOUBLE) - 4.0))
        |  * ((CAST(n - c AS DOUBLE) - 5.0) / (CAST(n AS DOUBLE) - 5.0))
        |  * ((CAST(n - c AS DOUBLE) - 6.0) / (CAST(n AS DOUBLE) - 6.0))
        |  * ((CAST(n - c AS DOUBLE) - 7.0) / (CAST(n AS DOUBLE) - 7.0))
        |  * ((CAST(n - c AS DOUBLE) - 8.0) / (CAST(n AS DOUBLE) - 8.0))
        |  * ((CAST(n - c AS DOUBLE) - 9.0) / (CAST(n AS DOUBLE) - 9.0)), 9)
        |  END AS pass_at_k
        |FROM b""".stripMargin,

    // histogram cum-count order statistic; the rank test is the
    // all-integer 10·cum >= 9·(n+1); n < 9 groups emit NULL q̂
    "q_conformal" ->
      """WITH h AS (SELECT event_type, value, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, value, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM h)
        |SELECT event_type, MAX(tot) AS n,
        |  CAST(floor(CAST((MAX(tot) + 1) * 9 + 9 AS DOUBLE) / 10.0) AS BIGINT) AS k,
        |  MIN(CASE WHEN cum * 10 >= (tot + 1) * 9 THEN value END) AS qhat
        |FROM cum GROUP BY event_type""".stripMargin,

    "q_percentile_disc" ->
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS p25,
        |  quantile_disc(l_quantity, 0.5) AS p50,
        |  quantile_disc(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_lag_features" ->
      """WITH l AS (SELECT user_id, event_id,
        |    lag(CAST(value AS DECIMAL(18,6)), 1) OVER w AS lag1,
        |    lag(CAST(value AS DECIMAL(18,6)), 2) OVER w AS lag2,
        |    lag(CAST(value AS DECIMAL(18,6)), 3) OVER w AS lag3
        |  FROM events WHERE user_id < 50
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id,
        |  CAST(lag1 AS DOUBLE) AS lag1, CAST(lag2 AS DOUBLE) AS lag2,
        |  CAST(lag3 AS DOUBLE) AS lag3,
        |  ROUND(CAST(lag1 + lag2 + lag3 AS DOUBLE) / 3.0, 9) AS mean3
        |FROM l WHERE lag3 IS NOT NULL""".stripMargin,

    "q_labels" ->
      """SELECT user_id, event_id,
        |  COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY epoch(ts)
        |      RANGE BETWEEN 1 FOLLOWING AND 86400 FOLLOWING), 0) AS label
        |FROM events WHERE user_id < 50""".stripMargin,

    "q_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 30 AS mo,
        |    o_totalprice
        |  FROM orders),
        |c AS (SELECT o_custkey, MIN(mo) AS mo0 FROM o GROUP BY o_custkey),
        |cell AS (SELECT mo0 AS cohort_month, mo - mo0 AS age,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
        |  FROM o JOIN c USING (o_custkey)
        |  GROUP BY mo0, mo - mo0)
        |SELECT cohort_month, age, rev,
        |  CAST(ROUND(SUM(CAST(rev AS DECIMAL(18,2))) OVER (
        |    PARTITION BY cohort_month ORDER BY age
        |    ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS cum_rev
        |FROM cell""".stripMargin,

    "q_tpch_q18" ->
      """WITH big AS (SELECT l_orderkey,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_bloom_join" ->
      """SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
        |FROM orders JOIN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000) c
        |  ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q_gini" -> GiniQuery,

    "q_hhi" ->
      """WITH cust AS (SELECT c_nationkey AS nation, o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, o_custkey)
        |SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  ROUND(CAST(SUM(CAST(rev * rev AS DECIMAL(38,4))) AS DOUBLE) /
        |    (CAST(SUM(CAST(rev AS DECIMAL(38,2))) AS DOUBLE) *
        |     CAST(SUM(CAST(rev AS DECIMAL(38,2))) AS DOUBLE)), 9) AS hhi
        |FROM cust GROUP BY nation""".stripMargin,

    // paired-classifier discordant counts; the md5-parity coin replays
    // via the same hex-prefix composition NativeExprSpec pins
    "q_mcnemar" ->
      """WITH ev AS (SELECT event_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    event_type = 'purchase' AS y FROM events),
        |h AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY v),
        |cc AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM h),
        |med AS (SELECT MIN(CASE WHEN cum >= (nn + 1) // 2 THEN v END) AS p50
        |  FROM cc CROSS JOIN tot),
        |cl AS (SELECT (v >= p50) AS pa,
        |    (('0x' || substring(md5('mcn:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 2 = 0) AS pb,
        |    y FROM ev CROSS JOIN med),
        |cm AS (SELECT
        |    CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS n01
        |  FROM cl)
        |SELECT n10, n01,
        |  CASE WHEN n10 + n01 = 0 THEN NULL
        |    ELSE ROUND((abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0)
        |      * (abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0)
        |      / (CAST(n10 AS DOUBLE) + CAST(n01 AS DOUBLE)), 9) END AS chi2
        |FROM cm""".stripMargin,

    "q_bradley_terry" -> BradleyTerrySql,

    // ln terms round(9) into DECIMAL sums; mi/h/nmi close round(6)
    "q_mutual_info" ->
      """WITH cxy AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |cx AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS nx FROM cxy GROUP BY lang),
        |cy AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ny FROM cxy GROUP BY source),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cxy),
        |mi AS (SELECT SUM(CAST(ROUND(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * ln(CAST(c AS DOUBLE) * CAST(nn AS DOUBLE)
        |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 9) AS DECIMAL(28,9))) AS smi
        |  FROM cxy JOIN cx USING (lang) JOIN cy USING (source) CROSS JOIN tot),
        |hx AS (SELECT SUM(CAST(ROUND(CAST(nx AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * ln(CAST(nx AS DOUBLE) / CAST(nn AS DOUBLE)), 9) AS DECIMAL(28,9))) AS shx
        |  FROM cx CROSS JOIN tot),
        |hy AS (SELECT SUM(CAST(ROUND(CAST(ny AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * ln(CAST(ny AS DOUBLE) / CAST(nn AS DOUBLE)), 9) AS DECIMAL(28,9))) AS shy
        |  FROM cy CROSS JOIN tot)
        |SELECT nn, ROUND(CAST(smi AS DOUBLE), 6) AS mi,
        |  ROUND(-CAST(shx AS DOUBLE), 6) AS h_lang,
        |  ROUND(-CAST(shy AS DOUBLE), 6) AS h_source,
        |  CASE WHEN shx = 0 OR shy = 0 THEN 0.0
        |    ELSE ROUND(CAST(smi AS DOUBLE)
        |      / sqrt(CAST(shx AS DOUBLE) * CAST(shy AS DOUBLE)), 6) END AS nmi
        |FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN tot""".stripMargin,

    // vocab-sized integer counts, one division per ratio
    "q_distinct_n" ->
      """WITH t AS (SELECT source,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |ug AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c FROM
        |    (SELECT source, unnest(tk) AS g FROM t) GROUP BY 1, 2),
        |uni AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_uni,
        |    CAST(count(*) AS BIGINT) AS d_uni FROM ug GROUP BY source),
        |bg AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c FROM
        |    (SELECT source, unnest(list_transform(range(1, len(tk)),
        |       i -> tk[i] || ' ' || tk[i+1])) AS g
        |     FROM t WHERE len(tk) >= 2) GROUP BY 1, 2),
        |bi AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_bi,
        |    CAST(count(*) AS BIGINT) AS d_bi FROM bg GROUP BY source)
        |SELECT uni.source, n_uni, d_uni,
        |  ROUND(CAST(d_uni AS DOUBLE) / CAST(n_uni AS DOUBLE), 9) AS distinct_1,
        |  n_bi, d_bi,
        |  ROUND(CAST(d_bi AS DOUBLE) / CAST(n_bi AS DOUBLE), 9) AS distinct_2
        |FROM uni JOIN bi ON bi.source = uni.source ORDER BY uni.source""".stripMargin,

    // the Good–Turing bigram COC table closed with the Chao1 tree
    "q_chao1" ->
      """WITH t AS (SELECT list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |v AS (SELECT g, CAST(count(*) AS BIGINT) AS r FROM (
        |    SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS g
        |    FROM t WHERE len(tk) >= 2) GROUP BY g),
        |coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM v GROUP BY r),
        |m AS (SELECT CAST(SUM(n_r) AS BIGINT) AS v_obs,
        |    CAST(COALESCE(SUM(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT) AS f1,
        |    CAST(COALESCE(SUM(CASE WHEN r = 2 THEN n_r END), 0) AS BIGINT) AS f2
        |  FROM coc)
        |SELECT v_obs, f1, f2,
        |  ROUND(CAST(v_obs AS DOUBLE) + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
        |    / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 9) AS chao1
        |FROM m""".stripMargin,

    // full-panel units only; S_o and S_e stay integer so kappa is one
    // shared tree
    "q_fleiss_kappa" ->
      """WITH r AS (SELECT user_id % 100 AS unit, event_type AS rater,
        |    CAST(floor(value / 25.0) AS INT) AS v FROM events),
        |rr AS (SELECT unit, rater, MIN(v) AS v FROM r GROUP BY 1, 2),
        |kt AS (SELECT CAST(count(DISTINCT rater) AS BIGINT) AS k FROM rr),
        |mu AS (SELECT unit, CAST(count(*) AS BIGINT) AS m FROM rr GROUP BY unit),
        |full_u AS (SELECT unit FROM mu CROSS JOIN kt WHERE m = k),
        |cu AS (SELECT rr.unit, v, CAST(count(*) AS BIGINT) AS c
        |  FROM rr JOIN full_u ON full_u.unit = rr.unit GROUP BY 1, 2),
        |so AS (SELECT CAST(COALESCE(SUM(c * (c - 1)), 0) AS BIGINT) AS s_o FROM cu),
        |se AS (SELECT CAST(COALESCE(SUM(sc * sc), 0) AS BIGINT) AS s_e
        |  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS sc FROM cu GROUP BY v)),
        |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM full_u)
        |SELECT n_units, k AS m, s_o, s_e,
        |  ROUND(CAST(s_o AS DOUBLE) / (CAST(n_units AS DOUBLE) * CAST(k AS DOUBLE)
        |    * (CAST(k AS DOUBLE) - 1.0)), 9) AS p_bar,
        |  ROUND(CAST(s_e AS DOUBLE) / (CAST(n_units AS DOUBLE) * CAST(k AS DOUBLE)
        |    * (CAST(n_units AS DOUBLE) * CAST(k AS DOUBLE))), 9) AS p_e,
        |  CASE WHEN 1.0 - CAST(s_e AS DOUBLE) / (CAST(n_units AS DOUBLE) * CAST(k AS DOUBLE)
        |      * (CAST(n_units AS DOUBLE) * CAST(k AS DOUBLE))) = 0.0 THEN 0.0
        |  ELSE ROUND((CAST(s_o AS DOUBLE) / (CAST(n_units AS DOUBLE) * CAST(k AS DOUBLE)
        |      * (CAST(k AS DOUBLE) - 1.0))
        |    - CAST(s_e AS DOUBLE) / (CAST(n_units AS DOUBLE) * CAST(k AS DOUBLE)
        |      * (CAST(n_units AS DOUBLE) * CAST(k AS DOUBLE))))
        |    / (1.0 - CAST(s_e AS DOUBLE) / (CAST(n_units AS DOUBLE) * CAST(k AS DOUBLE)
        |      * (CAST(n_units AS DOUBLE) * CAST(k AS DOUBLE)))), 9) END AS kappa
        |FROM nu CROSS JOIN kt CROSS JOIN so CROSS JOIN se""".stripMargin,

    // same stride-init + round(9)-argmax assignment and contingency
    // table as q_rand_index; ln terms round(9) into DECIMAL sums, h/c
    // close round(6), V is the harmonic mean of the ROUNDED h and c
    "q_v_measure" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |st AS (SELECT greatest(count(*) // 16, 1) AS stride FROM e),
        |c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, ve AS ce
        |      FROM e, st WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT 16),
        |sims AS (SELECT e.vec_id AS id, c.cid,
        |    round(list_cosine_similarity(ve, ce), 9) AS sim FROM e CROSS JOIN c),
        |rk AS (SELECT id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cid) AS rr FROM sims),
        |asn AS (SELECT id, cid FROM rk WHERE rr = 1),
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
        |FROM r""".stripMargin,

    // q_mutual_info's sums, one division each, round(6)
    "q_theil_u" ->
      """WITH cxy AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |cx AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS nx FROM cxy GROUP BY lang),
        |cy AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ny FROM cxy GROUP BY source),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cxy),
        |mi AS (SELECT SUM(CAST(ROUND(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * ln(CAST(c AS DOUBLE) * CAST(nn AS DOUBLE)
        |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 9) AS DECIMAL(28,9))) AS smi
        |  FROM cxy JOIN cx USING (lang) JOIN cy USING (source) CROSS JOIN tot),
        |hx AS (SELECT SUM(CAST(ROUND(CAST(nx AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * ln(CAST(nx AS DOUBLE) / CAST(nn AS DOUBLE)), 9) AS DECIMAL(28,9))) AS shx
        |  FROM cx CROSS JOIN tot),
        |hy AS (SELECT SUM(CAST(ROUND(CAST(ny AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * ln(CAST(ny AS DOUBLE) / CAST(nn AS DOUBLE)), 9) AS DECIMAL(28,9))) AS shy
        |  FROM cy CROSS JOIN tot)
        |SELECT nn,
        |  ROUND(CAST(smi AS DOUBLE) / -CAST(shx AS DOUBLE), 6) AS u_lang,
        |  ROUND(CAST(smi AS DOUBLE) / -CAST(shy AS DOUBLE), 6) AS u_source
        |FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN tot""".stripMargin,

    // block-end tie convention on the descending 2-dp histogram
    "q_avg_precision" ->
      """WITH h AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cp
        |  FROM events GROUP BY 1),
        |cum AS (SELECT v, c, cp,
        |    CAST(SUM(c) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
        |    CAST(SUM(cp) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tp
        |  FROM h),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn, CAST(SUM(cp) AS BIGINT) AS np FROM h),
        |s AS (SELECT SUM(CAST(ROUND(CAST(cp * cum_tp AS DOUBLE)
        |    / CAST(cum_n AS DOUBLE), 9) AS DECIMAL(28,9))) AS s FROM cum)
        |SELECT nn, np, ROUND(CAST(s AS DOUBLE) / CAST(np AS DOUBLE), 6) AS avg_prec
        |FROM s CROSS JOIN tot""".stripMargin,

    // three paired classifiers; all counts integer, one closing tree
    "q_cochran_q" ->
      """WITH ev AS (SELECT event_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    event_type = 'purchase' AS y FROM events),
        |h AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY v),
        |cc AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM h),
        |cuts AS (SELECT MIN(CASE WHEN cum >= (nn + 1) // 2 THEN v END) AS p50,
        |    MIN(CASE WHEN cum * 4 >= nn + 1 THEN v END) AS p25
        |  FROM cc CROSS JOIN tot),
        |rows_t AS (SELECT
        |    CASE WHEN (v >= p50) = y THEN 1 ELSE 0 END AS a,
        |    CASE WHEN (v >= p25) = y THEN 1 ELSE 0 END AS b,
        |    CASE WHEN (('0x' || substring(md5('cq:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 2 = 0) = y THEN 1 ELSE 0 END AS cq
        |  FROM ev CROSS JOIN cuts),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(a) AS BIGINT) AS c_a, CAST(SUM(b) AS BIGINT) AS c_b,
        |    CAST(SUM(cq) AS BIGINT) AS c_c,
        |    CAST(SUM(a + b + cq) AS BIGINT) AS s1,
        |    CAST(SUM((a + b + cq) * (a + b + cq)) AS BIGINT) AS s2
        |  FROM rows_t)
        |SELECT n, c_a, c_b, c_c,
        |  CASE WHEN s1 * 3 - s2 = 0 THEN NULL
        |    ELSE ROUND(2.0 * (3.0 * (CAST(c_a AS DOUBLE) * CAST(c_a AS DOUBLE)
        |        + CAST(c_b AS DOUBLE) * CAST(c_b AS DOUBLE)
        |        + CAST(c_c AS DOUBLE) * CAST(c_c AS DOUBLE))
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |      / (3.0 * CAST(s1 AS DOUBLE) - CAST(s2 AS DOUBLE)), 9) END AS q_stat
        |FROM agg""".stripMargin,

    // integer replicate deltas off the shared deterministic Poisson
    // weights; p(A better) is the only division
    "q_paired_bootstrap" ->
      """WITH ev0 AS (SELECT event_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    event_type = 'purchase' AS y FROM events),
        |h AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM ev0 GROUP BY v),
        |cc AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM h),
        |med AS (SELECT MIN(CASE WHEN cum >= (nn + 1) // 2 THEN v END) AS p50
        |  FROM cc CROSS JOIN tot),
        |ev AS (SELECT event_id,
        |    (CASE WHEN (v >= p50) = y THEN 1 ELSE 0 END)
        |      - (CASE WHEN (('0x' || substring(md5('mcn:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 2 = 0) = y THEN 1 ELSE 0 END) AS d
        |  FROM ev0 CROSS JOIN med),
        |hw AS (SELECT d, r,
        |    ('0x' || substring(md5('boot:' || CAST(event_id AS VARCHAR)
        |      || ':' || CAST(r AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM ev CROSS JOIN (SELECT unnest(range(200)) AS r)),
        |ww AS (SELECT d, r, CASE
        |    WHEN h < 424136118829305329 THEN 0
        |    WHEN h < 848272237658610659 THEN 1
        |    WHEN h < 1060340297073263324 THEN 2
        |    WHEN h < 1131029650211480879 THEN 3
        |    WHEN h < 1148701988496035267 THEN 4
        |    WHEN h < 1152236456152946145 THEN 5
        |    WHEN h < 1152825534095764625 THEN 6
        |    WHEN h < 1152909688087595836 THEN 7
        |    WHEN h < 1152920207336574738 THEN 8
        |    ELSE 9 END AS w FROM hw),
        |rep AS (SELECT r, CAST(SUM(w * d) AS BIGINT) AS delta
        |  FROM ww GROUP BY r),
        |rk AS (SELECT delta,
        |    row_number() OVER (ORDER BY delta, r) AS rn FROM rep)
        |SELECT CAST(count(*) AS BIGINT) AS n_repl,
        |  CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wins,
        |  CAST(SUM(CASE WHEN delta = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
        |  ROUND(CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 9) AS p_a_better,
        |  MIN(CASE WHEN rn = 5 THEN delta END) AS d_lo,
        |  MAX(CASE WHEN rn = 196 THEN delta END) AS d_hi
        |FROM rk""".stripMargin,

    // brute-force rank-1 located in the LSH top-10; rank 0 = miss
    "q_mrr" ->
      (s"""WITH bf AS ($AnnBruteSql),
        |lf AS ($AnnLshSql)
        |SELECT bf.q_id, bf.n_id AS true_top1,
        |  CAST(COALESCE(lf.rn, 0) AS BIGINT) AS rank,
        |  COALESCE(ROUND(1.0 / CAST(lf.rn AS DOUBLE), 9), 0.0) AS rr
        |FROM bf LEFT JOIN lf ON lf.q_id = bf.q_id AND lf.n_id = bf.n_id
        |WHERE bf.rn = 1 ORDER BY bf.q_id""").stripMargin,

    // integer rank sums over domain-sized per-arm windows
    "q_kendall_w" ->
      """WITH sc AS (SELECT event_type AS arm, user_id % 20 AS obj,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS score
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT arm, obj, ROW_NUMBER() OVER (PARTITION BY arm
        |    ORDER BY score DESC, obj) AS rk FROM sc),
        |rs AS (SELECT obj, CAST(SUM(rk) AS BIGINT) AS r_i FROM rk GROUP BY obj),
        |dims AS (SELECT CAST(count(DISTINCT arm) AS BIGINT) AS m,
        |    CAST(count(DISTINCT obj) AS BIGINT) AS n FROM rk),
        |s2 AS (SELECT CAST(SUM(r_i * r_i) AS BIGINT) AS sum_r2 FROM rs)
        |SELECT m, n, sum_r2,
        |  ROUND((12.0 * CAST(sum_r2 AS DOUBLE)
        |      - 3.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) + 1.0) * (CAST(n AS DOUBLE) + 1.0))
        |    / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
        |      * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(n AS DOUBLE))), 9) AS w
        |FROM s2 CROSS JOIN dims""".stripMargin,

    // Monroe et al. log-odds with the corpus-count Dirichlet prior;
    // each ln rounds 9, the z tree closes round 9
    "q_log_odds" ->
      """WITH tk AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS w
        |  FROM documents),
        |prior AS (SELECT w, CAST(count(*) AS BIGINT) AS aw FROM tk GROUP BY w),
        |a0 AS (SELECT CAST(SUM(aw) AS BIGINT) AS a0 FROM prior),
        |y1 AS (SELECT w, CAST(count(*) AS BIGINT) AS y1 FROM tk
        |  WHERE source = 'src0' GROUP BY w),
        |y2 AS (SELECT w, CAST(count(*) AS BIGINT) AS y2 FROM tk
        |  WHERE source = 'src1' GROUP BY w),
        |n1 AS (SELECT CAST(COALESCE(SUM(y1), 0) AS BIGINT) AS n1 FROM y1),
        |n2 AS (SELECT CAST(COALESCE(SUM(y2), 0) AS BIGINT) AS n2 FROM y2),
        |j AS (SELECT prior.w, COALESCE(y1.y1, 0) AS y1, COALESCE(y2.y2, 0) AS y2,
        |    aw, a0, n1, n2
        |  FROM prior LEFT JOIN y1 ON y1.w = prior.w LEFT JOIN y2 ON y2.w = prior.w
        |  CROSS JOIN a0 CROSS JOIN n1 CROSS JOIN n2),
        |d AS (SELECT w, y1, y2, aw,
        |    ROUND(ln((CAST(y1 AS DOUBLE) + CAST(aw AS DOUBLE))
        |      / (CAST(n1 AS DOUBLE) + CAST(a0 AS DOUBLE) - CAST(y1 AS DOUBLE)
        |        - CAST(aw AS DOUBLE))), 9) AS l1,
        |    ROUND(ln((CAST(y2 AS DOUBLE) + CAST(aw AS DOUBLE))
        |      / (CAST(n2 AS DOUBLE) + CAST(a0 AS DOUBLE) - CAST(y2 AS DOUBLE)
        |        - CAST(aw AS DOUBLE))), 9) AS l2,
        |    1.0 / (CAST(y1 AS DOUBLE) + CAST(aw AS DOUBLE))
        |      + 1.0 / (CAST(y2 AS DOUBLE) + CAST(aw AS DOUBLE)) AS vr
        |  FROM j)
        |SELECT w, y1, y2, aw, ROUND(l1 - l2, 9) AS delta,
        |  ROUND((l1 - l2) / sqrt(vr), 9) AS z
        |FROM d ORDER BY z DESC, w LIMIT 20""".stripMargin,
  )
}
