package graft
package queries

import graft.Materialize._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NativeExpressions, TextAnalysis}
import graft.operators.{Multimodal, Sampling}
import graft.operators.BoundedWindow.boundedGlobal

import Shared._

/** Training-data curation and sampling: splits, mixing, packing,
  * privacy releases and the curation funnel. */
object Curation {

  val defs: Seq[QueryDef] = Seq(

    // #43: multimodal lake-table shape — binary payload + typed meta
    QueryDef("q_multimodal_meta", (s, dir) =>
      Multimodal.fromDocuments(t(s, dir, "documents"))
        .select(col("mediaId").as("media_id"), col("kind"),
          length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("checksum"),
          col("meta.widthPx").as("width_px"),
          col("meta.durationMs").as("duration_ms")),
      """SELECT doc_id AS media_id, 'text' AS kind,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS checksum,
        |  CAST((doc_id * 37) % 1024 + 64 AS INT) AS width_px,
        |  CAST(length(text) * 40 AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin),

    // #66: exactly-k-per-stratum deterministic sample (eval-set cut)
    QueryDef("q_sample_topk_stratum", (s, dir) =>
      Sampling.topKPerStratum(t(s, dir, "documents"), "doc_id", "source", 5)
        .select(col("source"), col("doc_id")),
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
        |  FROM documents)
        |WHERE rk <= 5""".stripMargin),

    // #178: Efraimidis–Spirakis weighted k-sample per source, weight =
    // n_chars — the deterministic weighted counterpart of
    // q_sample_topk_stratum (source-mixing by importance weight);
    // output is (source, rank, id) ints — the transcendental key only
    // orders, it is never emitted
    QueryDef("q_weighted_sample", (s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"),
          "doc_id", "source", "n_chars", 5)
        .select(col("source"), col("rnk"), col("doc_id")),

      // Efraimidis–Spirakis replay: same 60-bit md5 uniform, same
      // ln(u)/w ranking key; ln decides only the order
      """SELECT source, rnk, doc_id FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY
        |      ln((CAST(('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE) + 0.5)
        |         / CAST(1152921504606846976 AS DOUBLE)) / CAST(n_chars AS DOUBLE) DESC,
        |      doc_id ASC) AS INT) AS rnk
        |  FROM documents WHERE n_chars > 0)
        |WHERE rnk <= 5""".stripMargin),

    // #55: deterministic content-hash sampling (reproducible split,
    // engine/run/cluster-size independent; pure pushed-down filter)
    QueryDef("q_sample_hash", (s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), "text", "1999")
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled")),
      """SELECT source, count(*) AS n_sampled FROM documents
        |WHERE substr(md5(text), 1, 4) < '1999'
        |GROUP BY source""".stripMargin),

    // #55b: stratified per-source rates (drop/downsample/keep strata)
    QueryDef("q_sample_stratified", (s, dir) =>
      Sampling.stratifiedHashSample(t(s, dir, "documents"), "text", "source",
        Map("src0" -> "ffff", "src1" -> "8000", "src2" -> "1999"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled")),
      """SELECT source, count(*) AS n_sampled FROM documents
        |WHERE substr(md5(text), 1, 4) <
        |  CASE source WHEN 'src0' THEN 'ffff' WHEN 'src1' THEN '8000'
        |              WHEN 'src2' THEN '1999' END
        |GROUP BY source""".stripMargin),

    // #73: sequence packing — docs concatenated per source shard in
    // doc_id order, cut into 512-token bins (packed-sample training
    // layout); one shuffle + one window pass per shard
    QueryDef("q_pack_sequences", (s, dir) => {
      val d = tp(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).as("nt"))
      operators.Packing.binStats(d, "source", "doc_id", "nt", 512)
        .withColumn("tok_sum", col("tok_sum").cast("long"))
    },
      """WITH t AS (SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS nt
        |  FROM documents),
        |p AS (SELECT source, nt,
        |    CAST((SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
        |                        ROWS UNBOUNDED PRECEDING) - nt) // 512 AS BIGINT) AS bin
        |  FROM t)
        |SELECT source, bin, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS tok_sum
        |FROM p GROUP BY source, bin""".stripMargin),

    // #74: deterministic training-order shuffle — md5-keyed global
    // order; top-100 prefix goes through TakeOrderedAndProject, the
    // row_number runs on 100 rows only (never a full global sort)
    QueryDef("q_shuffle_order", (s, dir) => {
      val h = md5(concat(lit("seed42:"), col("doc_id").cast("string")))
      t(s, dir, "documents").select(col("doc_id"), h.as("h"))
        .orderBy(col("h"), col("doc_id")).limit(100)
        .select(col("doc_id"),
          row_number().over(boundedGlobal("top-100 prefix after limit")
            .orderBy(col("h"), col("doc_id"))).as("rnk"))
    },
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |FROM documents ORDER BY rnk LIMIT 100""".stripMargin),

    // #244: token-budget CURRICULUM staging (easy→hard training order,
    // Bengio et al. 2009 shape): docs ordered by a difficulty proxy
    // (length, tie doc_id), packed into stages of 50k tokens each via
    // the DISTRIBUTED exclusive prefix-sum of token counts
    // (GroupRank.prefixSum — range repartition + offset stamp, no
    // single-partition window over the corpus); stage = cum // budget
    // (4k tokens/stage ⇒ a few stages at the test corpus size).
    // The same construction stages by any integer difficulty score.
    QueryDef("q_curriculum", (s, dir) => {
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
    },

      // curriculum replay: global exclusive running sum of token counts
      // in (n_chars, doc_id) order, integer stage = cum // budget
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
        |FROM c GROUP BY 1 ORDER BY stage""".stripMargin),

    // #270: k-anonymity release (generalize-then-suppress) — the
    // privacy gate beside q_pii_redact (row-level masking) and
    // q_dp_counts (noisy release): quasi-identifier classes
    // (nation, segment) publish only at size ≥ k = 10; failing
    // classes generalize segment → '*' (one ladder step), what still
    // fails is suppressed into a single ('*','*') bucket, so every
    // published row is k-anonymous and nothing is silently dropped
    // (the suppressed mass stays countable). Three hash-aggs, each
    // over the class table — nothing data-sized after the first.
    QueryDef("q_k_anonymity", (s, dir) => {
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
    },

      // k-anonymity replay: identical class counts, generalization
      // ladder, and suppressed-mass rollup
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
        |ORDER BY level, nation_out, segment_out""".stripMargin),

    // #110: temperature-weighted source mixing (α=0.5 pretraining-
    // mixture draw) — per-stratum md5 rates from exact decimal weight
    // sums, reproducible on any engine/cluster size; see
    // Sampling.temperatureMix
    QueryDef("q_source_mix", (s, dir) =>
      operators.Sampling.temperatureMix(t(s, dir, "documents"), "text",
        "source", TextAnalysis.tokenCount(col("text")), 0.3)
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled")),

      // Weights exact via DECIMAL sum; the threshold expression is the
      // same IEEE tree as Sampling.temperatureMix, so T is bit-identical
      // and the hex compare replays Spark's filter verbatim.
      """WITH s AS (SELECT source, count(*) AS n,
        |    round(sqrt(CAST(CAST(sum(len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> ''))) AS BIGINT) AS DOUBLE)), 6) AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS ntot, CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS sw FROM s),
        |thr AS (SELECT source, CAST(floor((floor(CAST(ntot AS DOUBLE) * 0.3) * w / (sw * CAST(n AS DOUBLE))) * 4294967296.0) AS BIGINT) AS t
        |  FROM s, tot)
        |SELECT d.source, count(*) AS n_sampled
        |FROM documents d JOIN thr ON d.source = thr.source
        |WHERE t > 4294967295 OR substr(md5(d.text), 1, 8) < lower(lpad(hex(t), 8, '0'))
        |GROUP BY d.source""".stripMargin),

    // #173: the end-to-end curation FUNNEL — survivor counts after
    // exact dedup → near-dup components → decontamination → quality
    // gates → hash sampling, the per-run accounting report; corpus =
    // doc_id >= 10 curated against the doc_id < 10 "benchmark" (the
    // q_contamination split). All-integer output; the near-dup stage's
    // LSH == the oracle's exact-jaccard pairs (the q_dedup_cluster
    // equivalence).
    QueryDef("q_curation_funnel", (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"), col("text"))
      operators.CurationPipeline.funnel(
        d.filter(col("doc_id") >= 10), "doc_id", "text",
        d.filter(col("doc_id") < 10),
        operators.CurationPipeline.Config(sampleHex4 = Some("8000")))
    },

      // Curation funnel replayed stage by stage: normalized-hash exact
      // dedup, exact-jaccard pairs → recursive-CTE components (the
      // q_dedup_cluster construction) with keep-min, the q_contamination
      // 5-gram bench join, the q_quality_score expression tree verbatim
      // for the gates, and the md5-prefix sample. Every count integer.
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
        |UNION ALL SELECT 5, 'sampled', count(*) FROM e5""".stripMargin),

    // #170: DSIR importance weights (hashed-unigram log-likelihood
    // ratio vs a target slice — src0 plays the "high-quality domain");
    // integer bucket counts, md5-mod bucket ids, per-doc mean through
    // round(6)
    QueryDef("q_dsir_weights", (s, dir) =>
      operators.Sampling.importanceWeights(tp(s, dir, "documents"),
        "doc_id", "text", col("source") === "src0"),

      // DSIR replay: same md5-mod bucket ids, integer counts, shared
      // scalar log-ratio expression, round(6) on the per-doc mean
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
        |FROM tb JOIN lrs USING(b) GROUP BY doc_id""".stripMargin),

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
    QueryDef("q_data_mix", (s, dir) => {
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
    },

      // ascending water-fill replay: integer prefix sums, the first rank
      // whose cap 2·n exceeds its fair share fixes the uncapped share
      // (scalar-subquery star row ↔ Spark's min-over-struct agg); the
      // LEFT JOIN ON TRUE keeps every source when no rank is flagged
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
        |FROM j LEFT JOIN star ON TRUE""".stripMargin),

    // #124: deterministic k-fold split (content-stable fold per doc,
    // pure projection) — fold balance per source as the check
    QueryDef("q_folds", (s, dir) =>
      operators.Sampling.kFold(t(s, dir, "documents"), "doc_id", 5)
        .groupBy(col("fold"), col("source")).agg(count(lit(1)).as("n")),
      """SELECT fold, source, count(*) AS n
        |FROM (SELECT source,
        |    ('0x' || substring(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5
        |      AS fold
        |  FROM documents)
        |GROUP BY fold, source""".stripMargin),

    // #272: rendezvous (HRW) sharding — stable shard assignment whose
    // reshard movement is provably minimal (1/(k+1) of keys on k->k+1,
    // vs ~k/(k+1) for hash-mod; DedupSpec measures both). Shard-size
    // balance rollup as the oracle check.
    QueryDef("q_rendezvous", (s, dir) =>
      operators.Sampling.rendezvousShard(t(s, dir, "documents"), "doc_id", 10)
        .groupBy(col("shard")).agg(count(lit(1)).as("n")),
      """SELECT shard, count(*) AS n FROM (
        |  SELECT CAST(list_position(l, list_max(l)) - 1 AS INTEGER) AS shard FROM (
        |    SELECT list_transform(range(0, 10),
        |      s -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR))) AS l
        |    FROM documents))
        |GROUP BY shard""".stripMargin),

    // #275: n-gram novelty of the eval fold vs the train folds — the
    // memorization-MAGNITUDE gate beside q_contamination's binary
    // 5-gram hit (an eval doc whose grams are all in train measures
    // recall, not generalization; Lee et al. ACL'22 measure exactly
    // this leak). Distinct 5-grams cross the shuffle as md5-60bit
    // longs; train-set join is a hash equi-join on the 8-byte key.
    QueryDef("q_fold_novelty", (s, dir) =>
      operators.TextStats.ngramNovelty(tp(s, dir, "documents"),
        "doc_id", "text", 5, 5, 0),

      // distinct 5-grams as md5-60bit keys, fold from the q_folds hash,
      // novelty = eval-fold grams with no train-fold match
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
        |WHERE gf.fold = 0 GROUP BY gf.doc_id""".stripMargin),

    // #135: byte-budget media shard packing (the webdataset/tar-shard
    // writer layout) — Packing's running-sum bin cut applied to payload
    // bytes per kind; one shuffle + one window pass, payloads never
    // leave their partition
    QueryDef("q_media_shards", (s, dir) => {
      val media = Multimodal.fromDocuments(t(s, dir, "documents"))
        .select(col("kind"), col("mediaId").as("media_id"),
          length(col("payload")).as("n_bytes"))
      operators.Packing.binStats(media, "kind", "media_id", "n_bytes", 16384)
        .select(col("kind"), col("bin"), col("n_docs"),
          col("tok_sum").cast("long").as("byte_sum"))
    },
      """WITH m AS (SELECT 'text' AS kind, doc_id AS media_id,
        |    CAST(octet_length(encode(text)) AS INT) AS n_bytes FROM documents),
        |p AS (SELECT kind, n_bytes,
        |    CAST((SUM(n_bytes) OVER (PARTITION BY kind ORDER BY media_id
        |                             ROWS UNBOUNDED PRECEDING) - n_bytes) // 16384 AS BIGINT) AS bin
        |  FROM m)
        |SELECT kind, bin, COUNT(*) AS n_docs, CAST(SUM(n_bytes) AS BIGINT) AS byte_sum
        |FROM p GROUP BY kind, bin""".stripMargin),

    // #236: DP-style noisy count release (ε=1 Laplace mechanism, the
    // privacy-pipeline counterpart of q_pii_redact's masking): the
    // Laplace draw comes from the deterministic 60-bit md5 uniform by
    // inverse CDF — L = −sgn(u−½)·ln(1−2|u−½|)/ε — so the "noise" is
    // bit-replayable in SQL (the repo's seeded-randomness pattern;
    // a production release would swap in a secret seed, the PLUMBING
    // is what's exercised). True counts are exact integers; the draw
    // and the noisy release are one shared IEEE tree, round(6).
    QueryDef("q_dp_counts", (s, dir) => {
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
    },
      """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
        |  FROM events GROUP BY event_type),
        |u AS (SELECT event_type, true_n,
        |    CAST(('0x' || substring(md5('dp:' || event_type), 1, 15))::BIGINT
        |      AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM c)
        |SELECT event_type,
        |  ROUND(CAST(true_n AS DOUBLE)
        |    + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) / 1.0), 6) AS noisy_n
        |FROM u ORDER BY event_type""".stripMargin),
  )
}
