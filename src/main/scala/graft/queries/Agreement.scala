package graft
package queries

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NativeExpressions, TextAnalysis}
import graft.operators.BoundedWindow.boundedGlobal

import Shared._

/** Agreement, paired-classifier and contingency-table statistics. */
object Agreement {

  /** The lang × source contingency entropies q_mutual_info and
    * q_theil_u read, as one row (smi, shx, shy, nn): smi = Σ p·ln(p/pxpy)
    * over the cells, shx and shy = Σ p·ln p over each marginal — every
    * ln term round(9) into a DECIMAL sum (order-free). The contingency
    * table feeds cx, cy, tot and mi, so it is checkpointed once
    * (9 documents scans → 1). */
  private def langSourceEntropies(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** langSourceEntropies' oracle: WITH cxy … hy, no trailing comma. */
  private val LangSourceEntropySql =
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
      |  FROM cy CROSS JOIN tot)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

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
    QueryDef("q_krippendorff", (s, dir) => {
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
    },

      // coincidence-matrix replay: the per-unit diagonal fractions are
      // the identical round(9) double divisions into a DECIMAL sum,
      // marginals stay integer
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
        |FROM occ CROSS JOIN tt""".stripMargin),

    // #230: Cohen's kappa of the language-ID heuristic against the
    // gold labels — agreement BEYOND CHANCE, the metric that keeps a
    // majority-class-happy classifier honest (zh docs have no gold
    // counterpart in the heuristic's label set, so raw accuracy
    // overstates). Confusion, marginal, and agreement counts are all
    // exact integers; po, pe and kappa are one shared IEEE tree
    // rounded once. Confusion-matrix-sized shuffles only.
    QueryDef("q_cohen_kappa", (s, dir) => {
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
    },
      (raw"""WITH b AS (SELECT doc_id,
        |  ${tokensSql("lower(text)")} AS toks
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
        |FROM tot, agree, pe""".stripMargin)),

    // #148: chi-square contingency cells (event_type × user bucket —
    // the drift / independence diagnostic): observed counts are
    // integers, marginals come from window sums over the CELL table
    // (cells-sized, never a corpus re-scan), and only the final
    // expected/contrib expressions touch doubles (shared text, round 9)
    //
    // Chi-square contingency cells, shared verbatim: integer observed
    // counts, marginals as window sums over the cell table, expected /
    // contribution as shared double expressions rounded to 9 (the
    // q_stats_agg rule). Per-cell rows — never a cross-cell double sum,
    // whose accumulation order would be engine-dependent.
    QueryDef.sql("q_chi2",
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
        |FROM w""".stripMargin),

    // #284: Cramér's V — the [0,1] effect-size summary of the q_chi2
    // contingency table (χ² scales with n; V answers "how strong is
    // the association" at any corpus size). Shared-verbatim SQL on
    // both engines, the q_chi2/q_pareto/q_gini convention.
    //
    // Cramér's V over the q_chi2 contingency table, shared verbatim:
    // the EFFECT-SIZE summary beside the per-cell χ² contributions
    // (χ² grows with n, so "is the association big" needs
    // V = √(χ²/(n·(min(r,c)−1))) ∈ [0,1]). Cell contribs round(9) sum
    // in DECIMAL (order-free, exactly the q_chi2 values); the V tree is
    // one division and an IEEE-correctly-rounded sqrt, round(9).
    QueryDef.sql("q_cramers_v",
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
        |FROM agg""".stripMargin),

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
    QueryDef("q_pass_at_k", (s, dir) => {
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
    },

      // the telescoped-product pass@k with the same ten left-folded
      // double factors and explicit n<k / n−c<k branches
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
        |FROM b""".stripMargin),

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
    QueryDef("q_mcnemar", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          col("value").cast("decimal(18,2)").as("v"),
          (col("event_type") === "purchase").as("y"))
      val med = ArmStats.p50Cut(ev)
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
    },

      // paired-classifier discordant counts; the md5-parity coin replays
      // via the same hex-prefix composition NativeExprSpec pins
      s"""WITH ev AS (SELECT event_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    event_type = 'purchase' AS y FROM events),
        |${ArmStats.valueHistogramSql("ev")}
        |med AS (SELECT ${ArmStats.P50Sql}
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
        |FROM cm""".stripMargin),

    // #297: mutual information of the (lang, source) contingency table
    // — the INFORMATION-theoretic association beside q_cramers_v's
    // normalized-χ² strength (MI reads in nats: "how many nats does
    // knowing the source tell you about the language" — the quantity a
    // stratified sampler or a leakage audit actually budgets), plus
    // both marginal entropies and the sqrt-normalized NMI ∈ [0,1].
    // Cell/marginal counts are exact integers off ONE doc scan; every
    // ln term is round(9) into a DECIMAL sum (order-free), the four
    // outputs close in round(6) per the transcendental rule.
    QueryDef("q_mutual_info", (s, dir) => {
      def nd(c: Column) = c.cast("double")
      langSourceEntropies(s, dir)
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
    },

      // ln terms round(9) into DECIMAL sums; mi/h/nmi close round(6)
      s"""$LangSourceEntropySql
        |SELECT nn, ROUND(CAST(smi AS DOUBLE), 6) AS mi,
        |  ROUND(-CAST(shx AS DOUBLE), 6) AS h_lang,
        |  ROUND(-CAST(shy AS DOUBLE), 6) AS h_source,
        |  CASE WHEN shx = 0 OR shy = 0 THEN 0.0
        |    ELSE ROUND(CAST(smi AS DOUBLE)
        |      / sqrt(CAST(shx AS DOUBLE) * CAST(shy AS DOUBLE)), 6) END AS nmi
        |FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN tot""".stripMargin),

    // #300: Fleiss' kappa over the FULL-PANEL units (Fleiss 1971 — the
    // fixed-panel multi-rater agreement beside q_krippendorff's alpha:
    // alpha admits missing ratings via the coincidence matrix, Fleiss
    // is the classical m-raters-per-unit statistic reviewers expect on
    // a complete annotation grid; same units/raters/ratings as the
    // alpha row, restricted to units all k arms rated). Both agreement
    // sums are INTEGERS — S_o = ΣΣ c(c−1) and S_e = Σ(Σc)² — so P̄,
    // P̄e and kappa close in one shared tree round(9); everything after
    // the (unit, rater) dedup is rating-domain-sized.
    QueryDef("q_fleiss_kappa", (s, dir) => {
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
    },

      // full-panel units only; S_o and S_e stay integer so kappa is one
      // shared tree
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
        |FROM nu CROSS JOIN kt CROSS JOIN so CROSS JOIN se""".stripMargin),

    // #302: Theil's uncertainty coefficient U(lang|source) and
    // U(source|lang) — the ASYMMETRIC association beside q_mutual_info
    // (MI is symmetric; U answers the directional question a feature
    // audit asks: "what fraction of the LANGUAGE's uncertainty does
    // knowing the source resolve", and its transpose — the two differ
    // exactly when the marginals do). Same contingency scan and
    // round(9)-term DECIMAL sums as q_mutual_info; each U is one
    // division of those sums, round(6).
    QueryDef("q_theil_u", (s, dir) => {
      def nd(c: Column) = c.cast("double")
      langSourceEntropies(s, dir)
        .select(col("nn"),
          round(nd(col("smi")) / -nd(col("shx")), 6).as("u_lang"),
          round(nd(col("smi")) / -nd(col("shy")), 6).as("u_source"))
    },

      // q_mutual_info's sums, one division each, round(6)
      s"""$LangSourceEntropySql
        |SELECT nn,
        |  ROUND(CAST(smi AS DOUBLE) / -CAST(shx AS DOUBLE), 6) AS u_lang,
        |  ROUND(CAST(smi AS DOUBLE) / -CAST(shy AS DOUBLE), 6) AS u_source
        |FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN tot""".stripMargin),

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
    QueryDef("q_cochran_q", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          col("value").cast("decimal(18,2)").as("v"),
          (col("event_type") === "purchase").as("y"))
      val cuts = ArmStats.p50Cut(ev,
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
    },

      // three paired classifiers; all counts integer, one closing tree
      s"""WITH ev AS (SELECT event_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    event_type = 'purchase' AS y FROM events),
        |${ArmStats.valueHistogramSql("ev")}
        |cuts AS (SELECT ${ArmStats.P50Sql},
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
        |FROM agg""".stripMargin),

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
    QueryDef("q_paired_bootstrap", (s, dir) => {
      val B = 200
      val ev0 = tp(s, dir, "events")
        .select(col("event_id"),
          col("value").cast("decimal(18,2)").as("v"),
          (col("event_type") === "purchase").as("y"))
      val med = ArmStats.p50Cut(ev0)
      val coin = NativeExpressions.md5Prefix60(
        concat(lit("mcn:"), col("event_id"))) % 2 === 0
      val ev = ev0.crossJoin(broadcast(med))
        .select(col("event_id"),
          (when((col("v") >= col("p50")) === col("y"), 1L).otherwise(0L) -
            when(coin === col("y"), 1L).otherwise(0L)).as("d"))
      // staged hash column — same 9×-duplicated-md5 fix as
      // q_bootstrap_ci in ArmStats (guide §7.2); values identical
      val rep = ev.withColumn("r", explode(sequence(lit(0), lit(B - 1))))
        .withColumn("_h", NativeExpressions.md5Prefix60(concat(lit("boot:"),
          col("event_id"), lit(":"), col("r"))))
        .withColumn("w", ArmStats.poissonWeight(col("_h"))).drop("_h")
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
    },

      // integer replicate deltas off the shared deterministic Poisson
      // weights; p(A better) is the only division
      s"""WITH ev0 AS (SELECT event_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    event_type = 'purchase' AS y FROM events),
        |${ArmStats.valueHistogramSql("ev0")}
        |med AS (SELECT ${ArmStats.P50Sql}
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
        |ww AS (SELECT d, r, ${ArmStats.PoissonWeightSql} FROM hw),
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
        |FROM rk""".stripMargin),
  )
}
