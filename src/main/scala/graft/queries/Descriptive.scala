package graft
package queries

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.BoundedWindow.boundedGlobal

import Shared._

/** Descriptive statistics, robust estimators, concentration measures
  * and time-series analysis. */
object Descriptive {

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

  val defs: Seq[QueryDef] = Seq(

    // #62: exact sample variance / correlation from decimal sums — the
    // naive per-partition float accumulation is order-dependent, so
    // both engines compute the moment sums in exact decimal and share
    // one double expression tree (SURVEY §4 determinism rule)
    QueryDef("q_stats_agg", (s, dir) => {
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
    },
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
        |FROM g""".stripMargin),

    // #194: grouped OLS TREND FIT (price ~ quantity per return flag) —
    // distributed linear regression from the same exact decimal moment
    // algebra as q_stats_agg: one partial-aggregated pass collects
    // (n, Σx, Σy, Σxy, Σx²) decimal-exact, the closed-form slope /
    // intercept are a few double ops on the group row, round(9) soaks
    // the FMA-contraction ULP. No solver iterations, no second scan —
    // the 100 TB cost is one map-side-combined agg.
    QueryDef("q_trend_fit", (s, dir) => {
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
    },
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
        |FROM g ORDER BY l_returnflag""".stripMargin),

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
    QueryDef("q_quantile_norm", (s, dir) => {
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
    },
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
        |ORDER BY source, n_chars""".stripMargin),

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
    QueryDef("q_changepoint", (s, dir) => {
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
    },
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
        |FROM rk WHERE rn = 1 ORDER BY arm""".stripMargin),

    // #77: skewness/kurtosis from exact decimal moment sums (order-
    // independent; derived doubles share the oracle's expression tree,
    // round(9) absorbs FMA-contraction ULPs — q_stats_agg pattern)
    QueryDef("q_skew_kurt", (s, dir) => {
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
    },
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
        |FROM g""".stripMargin),

    // #248: OHLC candles per (event_type, day) — the market-data /
    // metrics rollup: open/close via min_by/max_by on (ts, event_id)
    // so the whole candle is ONE hash agg over the events scan (no
    // per-group window sort); high/low/volume ride the same agg.
    QueryDef("q_ohlc", (s, dir) =>
      t(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("volume"))
        .orderBy(col("event_type"), col("day")),

      // OHLC replay: open/close via first/last row_number per candle
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
        |ORDER BY event_type, day""".stripMargin),

    // #249: time-weighted average value per user (the monitoring /
    // position-exposure average where sample spacing is uneven): each
    // value is weighted by its holding interval to the NEXT event —
    // one (user → ts, event_id) window pass for the lead timestamp,
    // decimal-exact value×µs products, one shared final division
    // rounded 9. Single-event users (zero total duration) drop.
    QueryDef("q_twa", (s, dir) => {
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
    },

      // time-weighted average replay: lead-interval weights in exact
      // decimal, one shared final division
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
        |FROM g WHERE dur > 0 ORDER BY user_id""".stripMargin),

    // #269: CUSUM change-point on daily revenue — the batch twin of
    // the streaming CUSUM detector (64k): argmax_t |Σ_{≤t}(x − x̄)|.
    // The mean is a RATIONAL, so the deviation scales exactly:
    // n·S_t = n·cumsum_t − t·total is decimal-EXACT — the argmax
    // compares exact decimals (no float tree at all), tie-break
    // earliest day; only the reported magnitude divides out n,
    // round(9). Day-table-sized after the rollup.
    QueryDef("q_change_point", (s, dir) => {
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
    },

      // change-point replay: exact-decimal n*S_t = n*cumsum - t*total
      // argmax with earliest-day tie-break; magnitude divides out n once
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
        |FROM dev ORDER BY devn DESC, day LIMIT 1""".stripMargin),

    // #264: Kendall τ-b between doc length and token count over a
    // bounded id range — the tie-aware rank-correlation beside
    // q_spearman (whose ρ needs distinct ranks to be comparable;
    // τ-b's tie corrections don't): C/D/tie counts from the all-pairs
    // join (id-bounded ⇒ pairs bounded; at scale the same counts come
    // from a merge-sort inversion pass), every count an exact integer,
    // τ-b one shared sqrt/division tree round(9) — IEEE sqrt is
    // correctly rounded on every engine, unlike pow/log.
    QueryDef("q_kendall", (s, dir) => {
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
    },

      // Kendall tau-b replay: integer pair counts, one shared
      // sqrt/division tree round(9)
      raw"""WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(list_filter(${wsSplitSql("lower(text)")},
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
        |FROM c""".stripMargin),

    // #205: Benford first-digit audit (fraud / synthetic-data smell
    // test on monetary columns): leading digit comes from the STRING
    // of exact integer cents — integer→string is engine-identical,
    // where log10-of-double digit extraction would wobble at powers of
    // ten; Benford probabilities are pre-computed double literals (not
    // engine log10 calls), and the χ² contributions are one fixed IEEE
    // tree over (count, N, p). One hash-agg over orders; 9-row output.
    QueryDef("q_benford", (s, dir) => {
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
    },
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
        |FROM e ORDER BY digit""".stripMargin),

    // #126: EWMA smoothing over the event stream (truncated to 5 taps)
    // — decay c = 0.5 is a binary power, so every tap product is EXACT
    // in IEEE double and the fixed expression tree is bit-identical on
    // any engine; one window pass per user, no state
    QueryDef("q_ewma", (s, dir) => {
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
    },
      """SELECT event_id,
        |  round((value * 1.0 + lag(value, 1) OVER w * 0.5 +
        |    lag(value, 2) OVER w * 0.25 + lag(value, 3) OVER w * 0.125 +
        |    lag(value, 4) OVER w * 0.0625) / 1.9375, 9) AS ewma
        |FROM events WHERE user_id < 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |QUALIFY row_number() OVER w >= 5""".stripMargin),

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
    QueryDef("q_holt", (s, dir) => {
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
    },

      // same tap construction as q_ewma but in exact DECIMAL (2-dp value
      // × ≤8-dp dyadic coefficients) — the identical exact rational on
      // both engines, cast once to double; see the Spark-side comment on
      // why round(9) is unusable here (dyadic half-way ties)
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
        |QUALIFY row_number() OVER w >= 6""".stripMargin),

    // #127: z-score outlier detection per event_type — mean/sd from
    // exact decimal moment sums (order-independent, q_stats_agg
    // pattern), broadcast back; the outlier predicate is a narrow
    // filter, no second corpus shuffle
    QueryDef("q_outliers", (s, dir) => {
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
    },
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
        |WHERE sd > 0 AND abs(round((value - mean) / sd, 6)) >= 2.5""".stripMargin),

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
    QueryDef("q_spearman", (s, dir) => {
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
    },
      SpearmanQuery),

    // #141: median absolute deviation per group — the robust outlier
    // scale signal (z-scores melt under heavy tails; MAD doesn't). Two
    // exact-percentile passes: per-group median, broadcast back, median
    // of |x − med|. Quantities are quarter-exact doubles, so both
    // interpolated medians are bit-identical across engines; at 100 TB
    // the exact percentile swaps for approx_percentile on an unchanged
    // plan (the sketch is mergeable, same two-phase agg shape).
    QueryDef("q_mad", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity"))
      val med = li.groupBy(col("l_returnflag").as("rf"))
        .agg(percentile(col("l_quantity"), lit(0.5)).as("med"))
      li.join(broadcast(med), col("l_returnflag") === col("rf"))
        .groupBy(col("l_returnflag"))
        .agg(first(col("med")).as("med"),
          percentile(abs(col("l_quantity") - col("med")), lit(0.5)).as("mad"))
        .select(col("l_returnflag"), round(col("med"), 9).as("med"),
          round(col("mad"), 9).as("mad"))
    },
      """WITH med AS (SELECT l_returnflag AS rf,
        |    quantile_cont(l_quantity, 0.5) AS med
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, ROUND(any_value(med), 9) AS med,
        |  ROUND(quantile_cont(abs(l_quantity - med), 0.5), 9) AS mad
        |FROM lineitem JOIN med ON l_returnflag = rf
        |GROUP BY l_returnflag""".stripMargin),

    // #145: time-series gap fill + forward fill (resample-to-daily):
    // per-user daily grid from sequence(min,max) explode — grid size is
    // span-bounded, never a cross join — left-joined with each day's
    // last observation, then last(ignoreNulls) carries values across
    // gaps. Grid build and fill share one hash partitioning on user_id.
    QueryDef("q_gapfill", (s, dir) => {
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
    },
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
        |  ON grid.user_id = daily.user_id AND grid.day = daily.day""".stripMargin),

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
    QueryDef("q_movers", (s, dir) => {
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
    },
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
        |ORDER BY delta DESC, a.o_custkey ASC LIMIT 20""".stripMargin),

    // #241: forecastability baseline — sMAPE of the persistence
    // (naive x̂_t = x_{t−1}) forecast per daily series: the floor any
    // real forecasting model must beat, and the standard first
    // question before investing in one. One lag over the day-domain
    // series; each symmetric error term 2|Δ|/(|x_t|+|x_{t−1}|) is a
    // round(9) IEEE tree on exact decimals, summed IN DECIMAL
    // (order-free), one final round(6) mean.
    QueryDef("q_smape", (s, dir) => {
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
    },
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
        |FROM t GROUP BY arm ORDER BY arm""".stripMargin),

    // #238: additive seasonal decomposition of the daily revenue
    // series (STL-lite: trend = centered 7-day moving average,
    // seasonal = day-of-week mean of the detrended part, residual =
    // remainder — the anomaly input that raw z-scores get wrong on
    // weekly-patterned data): daily sums exact decimals; the trend
    // window is a ±3-row frame on the day-domain table; detrended
    // values round(9) then the seasonal means use the decimal-sum
    // pattern (order-free); interior days only (full MA support).
    QueryDef("q_decompose", (s, dir) => {
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
    },
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
        |ORDER BY day""".stripMargin),

    // #227: multi-lag autocorrelation function (lags 1..7) per daily
    // series — the seasonality/persistence diagnostic beside
    // q_autocorr's single per-user lag-1: pairs align on CALENDAR day
    // + k via an equi-join on (arm, day+k) (gap days drop their
    // pairs; no window over the corpus), so the pair table is
    // calendar×7-bounded. Deviation products are per-term round(9)
    // doubles SUMMED IN DECIMAL (order-free, the q_js_div pattern)
    // against the full-series variance term, one final round(6).
    QueryDef("q_acf", (s, dir) => {
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
    },
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
        |FROM num JOIN den ON den.arm = num.narm ORDER BY arm, k""".stripMargin),

    // #224: Mann–Kendall trend test per series (the nonparametric
    // is-there-a-monotonic-trend companion to q_trend_fit's OLS slope
    // — robust to outliers and any monotone transform): S = Σ_{i<j}
    // sgn(x_j − x_i) over DAILY decimal sums, so the pairwise
    // self-join is day-domain² per series (≤ ~500 rows here, bounded
    // by calendar span however large the corpus) and every sgn
    // compares exact decimals. Tie-corrected variance and the
    // continuity-corrected z are the only float steps, one shared
    // tree rounded once.
    QueryDef("q_mann_kendall", (s, dir) => {
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
    },
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
        |FROM j ORDER BY arm""".stripMargin),

    // #225: Theil–Sen robust slope per series (the estimator paired
    // with row 224's Mann–Kendall test: median of all pairwise
    // slopes, 29% breakdown point vs OLS's 0): the pair table is the
    // same day-domain² join; each slope is one decimal-difference /
    // integer-day division rounded at 9 so both engines rank the same
    // doubles, ties broken on (d1, d2); the median is the rank
    // ceil(m/2) order statistic via a window over the ≤500-row pair
    // set per series — never a corpus-sized sort.
    QueryDef("q_theil_sen", (s, dir) => {
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
    },
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
        |FROM r WHERE rn = (m + 1) // 2 ORDER BY arm""".stripMargin),

    // #219: day-of-week seasonality index per event series (the
    // classical decomposition's seasonal factor): idx(dow) =
    // mean(dow) / mean(overall), computed as the cross-multiplied
    // (sd·tn)/(nd·ts) over exact decimal sums so the only float step
    // is one shared 4-op IEEE tree rounded once. Day-of-week from the
    // epoch-day arithmetic (d+4) mod 7 (Sunday=0) — locale-free and
    // engine-identical, where each engine's dayofweek() disagrees on
    // origin. One hash-agg over events; 35-row output.
    QueryDef("q_seasonal_index", (s, dir) => {
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
    },
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
        |ORDER BY bd.arm, bd.dow""".stripMargin),

    // #217: revenue-concentration deciles (the Lorenz-curve TABLE
    // beside q_gini's scalar): customers ranked by exact-decimal
    // spend through GroupRank.rowNumber (distributed two-pass rank —
    // no single-task global sort), banded by integer floor(10(r−1)/N),
    // then per-band spend shares and the cumulative curve from exact
    // decimal sums — the only doubles are the two final round(9)
    // divisions, identical IEEE trees in both engines.
    QueryDef("q_lorenz", (s, dir) => {
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
    },
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
        |FROM cum ORDER BY band""".stripMargin),

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
    QueryDef("q_interpolate", (s, dir) => {
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
    },
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
        |FROM br""".stripMargin),

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
    QueryDef("q_autocorr", (s, dir) => {
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
    },
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
        |FROM f""".stripMargin),

    // #157: period-over-period change (the BI month-over-month shape):
    // monthly revenue from exact decimal sums — month keyed as
    // year*100+month so the series is one integer column — then lag()
    // over the month table (months-sized, trivially small after the
    // rollup) and one shared double pct expression, round(9).
    QueryDef("q_mom_change", (s, dir) => {
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
    },
      """WITH m AS (SELECT
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |l AS (SELECT ym, rev, lag(rev, 1) OVER (ORDER BY ym) AS prev FROM m)
        |SELECT ym, rev, ROUND((rev - prev) / prev * 100.0, 9) AS mom_pct
        |FROM l WHERE prev IS NOT NULL""".stripMargin),

    // #158: exponential time-decay trending score — the reference's
    // top-10 shape with recency weighting (trending topics): per-item
    // decayed count Σ 2^(−age_days). The decay base is 2 and ages are
    // integers, so weights are SCALED TO INTEGERS (2^(30−age)) and the
    // per-item sum is an exact long — the double score is one exact
    // division by 2^30 at the end, bit-identical on any engine and
    // independent of summation order. One scan + one item-keyed agg;
    // the max-day scalar broadcasts.
    QueryDef("q_trending", (s, dir) => {
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
    },
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
        |FROM w GROUP BY item ORDER BY score DESC, item LIMIT 20""".stripMargin),

    // #159: rolling 7-day median of daily revenue — windowed exact
    // percentile: the frame's values sort per row (7 elements), the
    // median is the 4th — deterministic, and exact because daily
    // revenue is already a 2-decimal-exact double. The window runs on
    // the DAY table (the rollup shrinks the corpus to one row per day
    // before any sort); only full frames emit. At 100 TB the rollup is
    // the only corpus-sized stage — same plan.
    QueryDef("q_rolling_median", (s, dir) => {
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
    },
      """WITH d AS (SELECT
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT day, rev,
        |    row_number() OVER (ORDER BY day) AS rn,
        |    median(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med
        |  FROM d)
        |SELECT day, rev, med FROM r WHERE rn >= 7""".stripMargin),

    // #160: Pareto frontier (skyline) per group — shared ANSI text: in
    // (price asc, qty desc, unique keys) order a row survives iff its
    // qty beats the running max over all prior rows, which is exactly
    // the non-dominated set under (lower price, higher qty) weak
    // dominance with keep-first on duplicate points. One window pass
    // per group; a GLOBAL frontier runs the same plan after a range
    // repartition on price (per-partition frontier + merge of the
    // partition maxima).
    //
    // Pareto frontier per return flag, shared verbatim: the running-max
    // window formulation of the skyline — row survives iff no prior row
    // in (price asc, qty desc, key) order has qty ≥ its own.
    QueryDef.sql("q_pareto",
      """WITH s AS (SELECT l_returnflag AS rf, l_extendedprice AS price,
        |    l_quantity AS qty, l_orderkey, l_linenumber,
        |    max(l_quantity) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_quantity DESC, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_qty
        |  FROM lineitem)
        |SELECT rf, price, qty, l_orderkey, l_linenumber FROM s
        |WHERE best_qty IS NULL OR qty > best_qty""".stripMargin),

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
    QueryDef("q_gini", (s, dir) => {
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
    },
      GiniQuery),

    // #164: Herfindahl–Hirschman concentration index per nation — HHI
    // = Σ shareᵢ² over customer revenue shares. Summing squared DOUBLE
    // shares would be order-dependent; instead Σ revᵢ² and (Σ revᵢ)²
    // accumulate as exact decimals and ONE double division lands the
    // index — bit-identical on any engine and partitioning.
    QueryDef("q_hhi", (s, dir) => {
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
    },
      """WITH cust AS (SELECT c_nationkey AS nation, o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, o_custkey)
        |SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  ROUND(CAST(SUM(CAST(rev * rev AS DECIMAL(38,4))) AS DOUBLE) /
        |    (CAST(SUM(CAST(rev AS DECIMAL(38,2))) AS DOUBLE) *
        |     CAST(SUM(CAST(rev AS DECIMAL(38,2))) AS DOUBLE)), 9) AS hhi
        |FROM cust GROUP BY nation""".stripMargin),
  )
}
