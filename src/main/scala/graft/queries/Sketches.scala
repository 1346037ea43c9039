package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NativeExpressions, TextAnalysis}

import Shared._

/** Mergeable sketches (KMV, Count-Min, quantile, frequent items) and
  * their accuracy against the exact answer. */
object Sketches {

  val defs: Seq[QueryDef] = Seq(

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
    QueryDef("q_kmv_overlap", (s, dir) => {
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
    },

      // rebuilds the identical deterministic KMV sketches in SQL — the
      // k-smallest-distinct set is engine-independent by construction
      raw"""WITH tok AS (SELECT DISTINCT source,
        |    ('0x' || substring(md5(token), 1, 15))::BIGINT AS h
        |  FROM (SELECT source,
        |      unnest(${tokensSql("lower(text)")}) AS token
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
        |FROM e ORDER BY s1, s2""".stripMargin),

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
    QueryDef("q_cms_counts", (s, dir) => {
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
    },
      raw"""WITH tok AS (SELECT token,
        |    ('0x' || substring(md5(token), 1, 15))::BIGINT AS h
        |  FROM (SELECT
        |      unnest(${tokensSql("lower(text)")}) AS token
        |    FROM documents)),
        |bc AS (SELECT i, (h >> (i * 12)) & 4095 AS b, CAST(count(*) AS BIGINT) AS c
        |  FROM tok CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
        |  GROUP BY 1, 2),
        |ex AS (SELECT token, h, CAST(count(*) AS BIGINT) AS exact_n
        |  FROM tok GROUP BY token, h
        |  ORDER BY exact_n DESC, token LIMIT 20)
        |SELECT token, exact_n, MIN(c) AS est_n
        |FROM ex JOIN bc ON ((ex.h >> (bc.i * 12)) & 4095) = bc.b
        |GROUP BY token, exact_n""".stripMargin),

    // #242: mergeable QUANTILE sketch (§2.5 family) — the deterministic
    // bottom-k-by-hash value sample (functions.QuantileSample): per
    // event arm, p50/p90 from a 256-value uniform sample beside the
    // exact bounded-histogram percentiles (the q_cms_counts est-vs-
    // exact contract, carried to order statistics). Each partition
    // ships ≤ k (hash, value) pairs per arm — no per-group data sort;
    // sample determinism (bottom-k of a content hash is a set
    // function) is what lets the SAMPLED quantiles be oracle-checked
    // value-for-value, not just bounds-tested.
    QueryDef("q_quantile_sketch", (s, dir) => {
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
    },

      // quantile-sketch replay: the bottom-256-by-hash sample IS
      // row_number() OVER (ORDER BY hash) <= 256 — a set function, so
      // the sampled order statistics replay exactly; exact side is the
      // bounded value-domain histogram cumulative
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
        |ORDER BY sq.event_type""".stripMargin),

    // #86: Misra-Gries frequent-items native aggregate. k=64 exceeds
    // event_type's cardinality, so no counter ever evicts and the
    // mergeable sketch's lower bounds ARE the exact counts — which is
    // what makes this oracle-checkable; the approximation regime is
    // pinned down by FreqItemsSpec instead
    QueryDef("q_freq_sketch", (s, dir) =>
      t(s, dir, "events")
        .agg(graft.functions.FreqItems.freqItems(col("event_type"), 64).as("fi"))
        .select(explode(col("fi")).as("e"))
        .select(col("e.item").as("item"), col("e.lb").as("cnt")),
      """SELECT event_type AS item, COUNT(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin),

    // #150: GROUPED frequent-items via the native Misra–Gries aggregate
    // (§2.5 row 51d with grouping keys): one sketch per group, merged
    // map-side like any partial aggregate — the per-source heavy-hitter
    // profile at a fixed 64-counter budget per group regardless of
    // corpus size. Exact (lb = true count) while per-group cardinality
    // ≤ counters, which the corpus vocabulary satisfies — so the oracle
    // is the plain group count; the approximation regime is pinned by
    // FreqItemsSpec.
    QueryDef("q_freq_grouped", (s, dir) =>
      tp(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .groupBy(col("source"))
        .agg(graft.functions.FreqItems.freqItems(col("tok"), 64).as("fi"))
        .select(col("source"), explode(col("fi")).as("e"))
        .select(col("source"), col("e.item").as("item"),
          col("e.lb").as("cnt")),

      // exact regime: per-source vocabulary ≤ the 64-counter budget
      raw"""WITH tk AS (SELECT source,
        |    unnest(list_filter(${wsSplitSql("lower(text)")},
        |      x -> x <> '')) AS item
        |  FROM documents)
        |SELECT source, item, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM tk GROUP BY source, item""".stripMargin),
  )
}
