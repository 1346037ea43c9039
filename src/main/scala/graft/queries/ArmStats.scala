package graft
package queries

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions
import graft.operators.BoundedWindow.boundedGlobal

import Shared._

/** Two-sample and per-arm experiment statistics over `events.value` by
  * arm. The rank and CDF tests share one per-arm cumulative histogram
  * ([[armCumGrid]]) and its oracle twin ([[ArmCumGridSql]]). */
object ArmStats {

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

  /** Shared (arm, bin) calibration grid for q_calibration and
    * q_murphy: pooled midrank-CDF scores off [[armCumGrid]], integer
    * deciles, bin sizes/score-sums and per-arm positives — returns
    * (the joined frame with arm, bin, nb, pos, s2, N, plus the per-arm
    * totals). Everything after the events histogram is domain-sized. */
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

  /** The per-arm cumulative histogram [[armCdfGrid]] pair-joins:
    * (arm, v, c, cum) on the FILLED 2-dp grid plus per-arm totals —
    * exposed separately for the single-distribution consumers
    * (q_calibration's pooled-rank bins). */
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

  val defs: Seq[QueryDef] = Seq(

    // #197: pairwise Welch t-test across experiment arms (A/B-testing
    // statistic): one decimal-exact moment pass per arm (n, Σv, Σv²),
    // then the t statistic and Welch–Satterthwaite df are closed-form
    // double ops on the 5-row arm table self-joined into 10 pairs —
    // the corpus is scanned once, the pair math touches only
    // arm-count-sized rows. round(9)/round(6) soak FMA ULP.
    QueryDef("q_welch_ttest", (s, dir) => {
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
    },
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
        |FROM v ORDER BY e1, e2""".stripMargin),

    // #199: two-sample Kolmogorov–Smirnov across all arm pairs.
    // D = max_x |F1(x) − F2(x)| needs the empirical CDFs at pooled
    // x — but never a global sort of events: quantizing to the
    // 2-dp value domain bounds the histogram regardless of corpus
    // size, the cumulative runs per-arm over that domain-sized
    // grid, and the max comparison is INTEGER-exact
    // (|cum1·n2 − cum2·n1| in decimal(38,0), divided once at the
    // end) so no float-accumulation order can flip the argmax.
    QueryDef("q_ks_test", (s, dir) => {
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
    },
      (ArmCdfGridSql +
      """SELECT e1, e2, n1, n2,
        |  ROUND(CAST(MAX(ABS(CAST(cum1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))
        |      - CAST(cum2 AS DECIMAL(19,0)) * CAST(n1 AS DECIMAL(19,0)))) AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 9) AS d_stat
        |FROM j GROUP BY e1, e2, n1, n2 ORDER BY e1, e2""").stripMargin),

    // #273: Wasserstein-1 (earth-mover) distance across all arm pairs —
    // the MAGNITUDE-weighted drift metric beside q_ks_test's max
    // deviation (KS sees only the worst point; W1 integrates how much
    // mass moved how far, the number a mixture rebalance acts on). On
    // the same 2-dp pooled grid: W1 = Σ_v |F1−F2|·Δv with the CDF
    // difference kept INTEGER (|cum1·n2 − cum2·n1|) and Δv an exact
    // 2-dp decimal, so the sum is decimal(38,2)-exact and order-free;
    // one division at the end. The Δv lead window is partitioned by
    // arm pair over the domain-sized grid — never the events scan.
    QueryDef("q_wasserstein", (s, dir) => {
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
    },

      // KS's grid with SUM·gap instead of MAX: the CDF-difference
      // integral, integer/decimal-exact until the one closing division
      (ArmCdfGridSql +
      """, st AS (SELECT e1, e2, n1, n2, cum1, cum2,
        |    lead(v) OVER (PARTITION BY e1, e2 ORDER BY v) - v AS dv FROM j)
        |SELECT e1, e2, n1, n2,
        |  ROUND(CAST(SUM(CAST(ABS(CAST(cum1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))
        |        - CAST(cum2 AS DECIMAL(19,0)) * CAST(n1 AS DECIMAL(19,0))) AS DECIMAL(24,0))
        |      * CAST(dv AS DECIMAL(13,2))) AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 9) AS w1
        |FROM st WHERE dv IS NOT NULL
        |GROUP BY e1, e2, n1, n2 ORDER BY e1, e2""").stripMargin),

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
    QueryDef("q_brier", (s, dir) => {
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
    },

      // pooled midrank score (integer m2 per grid value), integer floor-
      // division bins, decimal bin sums — three closing divisions
      // same pooled grid; the per-(arm, value) Brier term is the
      // identical double tree round(9) into a DECIMAL sum
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
        |GROUP BY te.arm, tot.n, te.N ORDER BY te.arm""").stripMargin),

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
    QueryDef("q_murphy", (s, dir) => {
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
    },

      // calibration's grid CTEs verbatim; per-bin REL/RES terms are the
      // identical double trees round(9) into DECIMAL sums
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
        |FROM ag ORDER BY arm""").stripMargin),

    QueryDef("q_calibration", (s, dir) => {
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
    },
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
        |ORDER BY pos.arm, pos.bin""").stripMargin),

    // #200: Mann–Whitney U (rank-sum) with tie correction, same
    // pooled-CDF grid as q_ks_test — ranks are never materialized:
    // 2·U1 = Σ_v c1(v)·(2·cum2(v) − c2(v)) and the tie term
    // Σ(t³−t) both accumulate in decimal(38,0) off per-value
    // counts, so the only doubles are the closed-form z at the end.
    QueryDef("q_mannwhitney", (s, dir) => {
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
    },
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
        |FROM g ORDER BY e1, e2""").stripMargin),

    // #291: Cohen's d / Hedges' g across all arm pairs — the
    // PARAMETRIC effect size beside q_welch_ttest's significance
    // (a p-value says "a difference exists", d says "how many pooled
    // standard deviations wide"; Hedges' J = 1 − 3/(4N−9) debiases
    // small samples). The arm moments (n, Σv, Σv²) ride ONE
    // decimal-exact aggregation per arm — 2-dp values make both sums
    // exact and order-free — and everything after is an arms²-sized
    // self-join of fixed double trees, round(9).
    QueryDef("q_cohens_d", (s, dir) => {
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
    },

      // per-arm decimal-exact moments, arms^2 self-join of the identical
      // fixed double trees
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
        |FROM m a JOIN m b ON a.arm < b.arm ORDER BY 1, 2""".stripMargin),

    // #292: Cliff's delta across all arm pairs — the ORDINAL effect
    // size beside q_mannwhitney's rank-sum significance and #291's
    // parametric d: δ = P(x1 > x2) − P(x1 < x2) = 2U/(n1·n2) − 1,
    // read off the SAME decimal-exact doubled rank-sum
    // 2U = Σ_v c1·(2·cum2 − c2) the U test accumulates — scale-free,
    // outlier-immune, no normality assumption. One closing double
    // tree round(9); grid-sized work throughout.
    QueryDef("q_cliffs_delta", (s, dir) => {
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
    },

      // the U test's own decimal doubled rank-sum, one closing division
      (ArmCdfGridSql +
      """, g AS (SELECT e1, e2, n1, n2,
        |    SUM(CAST(c1 AS DECIMAL(19,0)) *
        |      (CAST(cum2 AS DECIMAL(19,0)) * 2 - CAST(c2 AS DECIMAL(19,0)))) AS u2
        |  FROM j GROUP BY e1, e2, n1, n2)
        |SELECT e1, e2, n1, n2,
        |  round(CAST(u2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    - 1.0, 9) AS cliffs_delta
        |FROM g ORDER BY e1, e2""").stripMargin),

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
    QueryDef("q_bootstrap_ci", (s, dir) => {
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
    },
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
        |GROUP BY st.arm, n, mean""".stripMargin),

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
    QueryDef("q_auc", (s, dir) => {
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
    },
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
        |FROM per, tot ORDER BY arm""".stripMargin),

    // #209: decile gains/lift table for `value` scoring 'purchase'
    // (the campaign-targeting companion of q_auc): events are split
    // into 10 equal-count score bands WITHOUT a global sort — the
    // band of a value is floor(10·cumlt(v)/N) off the quantized-value
    // histogram's strictly-below cumulative (ties share one band by
    // construction, so the assignment is deterministic and
    // engine-identical); per band, positive rate and lift vs the base
    // rate are exact-integer ratios rounded once. Scans events once;
    // every shuffle after the first agg is value-domain-sized.
    QueryDef("q_lift", (s, dir) => {
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
    },
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
        |FROM b GROUP BY band, nn, np ORDER BY band""".stripMargin),

    // #254: difference-in-differences estimator — the quasi-
    // experimental lift read when randomization isn't available:
    // hash-assigned arms × a fixed pre/post cutoff, decimal-exact cell
    // means, DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre)
    // as one shared closed-form tree round(9). One events scan to a
    // 4-cell table.
    QueryDef("q_did", (s, dir) => {
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
    },

      // DiD replay: 4 decimal-exact cell means, one closed-form tree
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
        |FROM c""".stripMargin),

    // #246: median-of-means robust mean (the heavy-tail-robust
    // estimator; Nemirovsky–Yudin shape): b=16 deterministic hash
    // buckets per arm, decimal-exact bucket means, exact DISCRETE
    // median of the bucket means (element_at of the sorted bucket-mean
    // array — 16 rows per arm, engine-stable). Beside it the plain
    // mean, so the report shows what the outliers moved. Scale: one
    // hash agg to 16×arms rows; the median never touches data-sized
    // state.
    QueryDef("q_mom_mean", (s, dir) => {
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
    },

      // median-of-means replay: 16 hash buckets, round(9) bucket means,
      // discrete median via sorted-list indexing
      """WITH b AS (SELECT event_type,
        |    ('0x' || substring(md5('mom:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS b,
        |    round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 9) AS m,
        |    CAST(COUNT(*) AS BIGINT) AS c,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  (list_sort(list(m)))[CAST(ceil(COUNT(*) * 0.5) AS INT)] AS mom_mean,
        |  round(CAST(SUM(sv) AS DOUBLE) / SUM(c), 9) AS plain_mean
        |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin),

    // #247: sample-ratio-mismatch (SRM) guardrail — the experiment
    // health check that must pass before any metric read (Fabijan et
    // al. 2019): users assigned to two arms by content hash, observed
    // split vs 50/50 expected as a chi-square stat (integer counts,
    // one shared closed-form tree, round 9) and the α=0.05 flag.
    QueryDef("q_srm", (s, dir) => {
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
    },

      // SRM replay: two-arm chi-square reduces to (n_a - n_b)^2 / n
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
        |FROM c""".stripMargin),

    // #237: empirical-Bayes shrinkage of per-source long-doc rates
    // (beta-binomial, method-of-moments prior — the small-sample
    // leaderboard fix: a 3-doc source's 100% rate shouldn't outrank a
    // 500-doc source's 80%): per-source (x, n) are exact integers;
    // the prior moments over the 20 source rates use the per-term
    // round(9) decimal-sum pattern (order-free), and the shrunk rate
    // (x+α)/(n+α+β) is one shared closed-form tree, round(6).
    QueryDef("q_eb_shrinkage", (s, dir) => {
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
    },
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
        |FROM r, pr ORDER BY source""".stripMargin),

    // #240: experiment power planning — minimum detectable effect per
    // arm at α=0.05, power=0.80 (z-sum 1.959964+0.841621 as literal
    // constants, like q_benford's probability literals — no engine
    // erf): MDE_abs = (z_{α/2}+z_β)·√(2s²/n) for an equal-split
    // two-sample test at current traffic, MDE_rel over the arm mean.
    // Sample variance from ONE decimal-exact moment pass; the z
    // constants and the two outputs are one shared IEEE tree,
    // round(9). The planning companion to q_welch_ttest's inference.
    QueryDef("q_power", (s, dir) => {
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
    },
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
        |FROM v ORDER BY arm""".stripMargin),

    // #235: CUPED variance reduction (Deng et al. WSDM'13, the
    // industry-standard experiment-sensitivity trick): adjust each
    // arm's experiment-period mean by θ·(pre-period deviation), with
    // θ = cov(pre, post)/var(pre) pooled across arms. Assignment is
    // the deterministic md5-hash arm (replayable in SQL, like
    // q_folds); per-user pre/post sums and all four pooled moments
    // are exact decimals off ONE pass; θ, the adjusted means, and the
    // variance-reduction fraction (corr²) are closed-form doubles on
    // those exact sums, round(9). User-sized shuffles only.
    QueryDef("q_cuped", (s, dir) => {
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
    },
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
        |FROM arms, th ORDER BY arm""".stripMargin),

    // #231: threshold classification metrics (precision / recall / F1
    // / MCC) for "value ≥ discrete median" predicting 'purchase' —
    // the threshold-eval companion to q_auc's ranking eval. The
    // threshold is the exact discrete p50 off the value histogram,
    // the confusion quadrant counts are one conditional aggregation
    // over the corpus, and every metric is one shared IEEE tree over
    // those four integers, rounded once.
    QueryDef("q_threshold_metrics", (s, dir) => {
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
    },
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
        |FROM cm""".stripMargin),

    // #226: 90% winsorized mean per arm (the robust location estimate
    // beside q_mad's robust scale — heavy-tail-safe KPI averaging):
    // p5/p95 are DISCRETE order statistics off the arm-partitioned
    // value-histogram cumulative (integer ceil targets, the
    // percentile_disc machinery), and the winsorized sum clamps each
    // histogram VALUE row into [p5, p95] with greatest/least on exact
    // decimals — corpus scanned once, all shuffles value-domain-sized,
    // one final round(6) division.
    QueryDef("q_winsorized_mean", (s, dir) => {
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
    },
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
        |FROM w GROUP BY arm, n ORDER BY arm""".stripMargin),

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
    QueryDef("q_psi", (s, dir) => {
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
    },
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
        |FROM sh ORDER BY band""".stripMargin),

    // #286: split-conformal quantile per event_type (Vovk et al.;
    // Lei et al. 2018) — the distribution-free prediction-interval
    // primitive: q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration score
    // at α = 0.1, an EXACT order statistic read off the value
    // histogram's cumulative counts. The rank test cum ≥ ⌈9(n+1)/10⌉
    // is equivalent to the all-integer 10·cum ≥ 9·(n+1) (cum integer),
    // so no float touches the selection; groups with n < 9 emit a NULL
    // q̂ — the honest "interval is (−∞, ∞)" answer, not a silent drop.
    QueryDef("q_conformal", (s, dir) => {
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
    },

      // histogram cum-count order statistic; the rank test is the
      // all-integer 10·cum >= 9·(n+1); n < 9 groups emit NULL q̂
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
        |FROM cum GROUP BY event_type""".stripMargin),

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
    QueryDef("q_bradley_terry", (s, dir) => {
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
    },
      BradleyTerrySql),

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
    QueryDef("q_avg_precision", (s, dir) => {
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
    },

      // block-end tie convention on the descending 2-dp histogram
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
        |FROM s CROSS JOIN tot""".stripMargin),

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
    QueryDef("q_kendall_w", (s, dir) => {
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
    },

      // integer rank sums over domain-sized per-arm windows
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
        |FROM s2 CROSS JOIN dims""".stripMargin),
  )
}
