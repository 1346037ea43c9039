package graft
package queries

import graft.Materialize._

import org.apache.spark.sql.functions._

import graft.functions.{NativeExpressions, TextAnalysis, Vectors}
import graft.operators.{AnnLsh, Dedup, DedupCluster, Fingerprint}
import graft.operators.BoundedWindow.boundedGlobal

import Shared._

/** Near-duplicate detection and dedup: exact, MinHash, SimHash,
  * embedding, substring and chunk dedup, the near-dup clusters and what
  * is built on them, and the similarity joins. */
object NearDup {

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

  val defs: Seq[QueryDef] = Seq(

    // #31: exact dedup on normalized-text hash, keep-first
    QueryDef("q_dedup_exact", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(regexp_replace(trim(lower(col("text"))), "[ \\t\\n\\x0B\\f\\r]+", " ")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dups"))
        .select("keep_id", "dups"),
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dups
        |FROM (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS h
        |      FROM documents)
        |GROUP BY h""".stripMargin),

    // #32: MinHash-LSH near-dups, exact-Jaccard verified (oracle:
    // LSH miss probability ≈ 4e-8 at the planted pairs' jaccard ≥ 0.9)
    QueryDef("q_dedup_minhash", (s, dir) =>
      Dedup.minHashNearDups(tp(s, dir, "documents"), "doc_id", "text", 0.8),

      // Exact all-pairs Jaccard via the INVERTED-INDEX join (r10): pairs
      // come from the per-gram equi-join (|A∩B| = shared-gram count,
      // |A∪B| = |A|+|B|−|A∩B|; sh is list_distinct so the identity is
      // exact, and ≥0.8 > 0 means zero-overlap pairs can't qualify) —
      // value-identical to the quadratic `FROM sh a, sh b` scan but
      // Σ df² instead of n²: the sf0.01 replay drops ~30 s → ~2 s and
      // sf0.1 stops timing out. Same ground truth, same doubles.
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
        |WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.8""".stripMargin),

    // #33: SimHash near-dups via pigeonhole chunk join. md5-prefix
    // token hash so the oracle can rebuild the signatures and verify
    // the pair set with an all-pairs hamming scan — the chunk join is
    // exact (any pair within radius 7 agrees on one of 8 chunks), so
    // the two formulations must match row-for-row.
    QueryDef("q_dedup_simhash", (s, dir) =>
      Dedup.simHashNearDupsMd5(tp(s, dir, "documents"), "doc_id", "text", 7)
        .select("i", "j", "ham"),

      // SimHash rebuilt from scratch: md5-prefix 60-bit token hash, per-bit
      // majority vote, then an ALL-PAIRS hamming scan — the Spark side's
      // pigeonhole chunk join must find exactly these pairs (it is exact,
      // not probabilistic). Docs with zero tokens would be absent here but
      // present (sig 0) in Spark; the corpus has none.
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
        |WHERE bit_count(xor(a.sig, b.sig)) <= 7""".stripMargin),

    // #34: exact n-gram Jaccard verify pass over a bounded id range
    QueryDef("q_ngram_jaccard", (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 40),
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
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id""".stripMargin),

    // #177: exact duplicated-span coverage (Lee et al. ACL'22 substring
    // dedup) — rolling 10-token fingerprints, corpus-wide occurrence
    // count, per-doc merged span coverage; shuffles carry 8-byte
    // hashes, never text
    QueryDef("q_substring_dedup", (s, dir) =>
      Dedup.duplicatedSpans(tp(s, dir, "documents"), "doc_id", "text", 10),

      // duplicated-span replay: gram identity is the md5-prefix 60-bit
      // hash on BOTH engines (the q_fingerprint construction) — grouping
      // parity holds even under a hash collision, because both engines
      // collide identically; same ≥2 occurrence rule, same window-merge
      // coverage
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
        |FROM g LEFT JOIN agg USING (doc_id)""".stripMargin),

    // #35: embedding cosine near-dup, LSH-bucketed. md5-parity ±1
    // planes over 1e-6-quantized vectors make the bucket bits exact
    // integer arithmetic — the oracle rebuilds the same buckets, so
    // the candidate set (and thus the verified pair set) is identical.
    QueryDef("q_dedup_embedding", (s, dir) =>
      AnnLsh.cosineNearDupsExact(tp(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
        .select("i", "j"),

      // LSH buckets rebuilt from scratch: ±1 plane components from
      // md5("t,p,d") nibble parity, vectors quantized to floor(x·1e6) so
      // every dot is exact integer arithmetic (order-independent) — the
      // candidate sets must therefore match Spark's bit-for-bit; the
      // exact-cosine verify keeps only pairs ≥ θ.
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
        |WHERE list_cosine_similarity(ea.ve, eb.ve) >= 0.4""".stripMargin),

    // #42: winnowing fingerprints, md5-prefix k-gram hash so the oracle
    // can replay the winnow (grams → sliding min → distinct count)
    QueryDef("q_fingerprint", (s, dir) =>
      Fingerprint.fingerprintMd5Df(tp(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), size(col("fps")).as("n_fp")),

      // Winnowing replayed literally: md5-prefix hash of every char 8-gram,
      // sliding min over windows of 4, distinct count.
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
        |SELECT doc_id, CAST(len(list_distinct(mins)) AS INT) AS n_fp FROM f""".stripMargin),

    // #71: benchmark decontamination — drop training docs sharing any
    // word 5-gram with the benchmark set (docs 0-9 stand in); the
    // shingle semi-join is the standard contamination check, and it
    // shuffles on the shingle hash, never doc x doc
    QueryDef("q_contamination", (s, dir) => {
      val docs = tp(s, dir, "documents") // shingling is per-row compute
      val trainSh = Dedup.shingleDf(docs.filter(col("doc_id") >= 10),
        "doc_id", "text", 5).select(col("id"), explode(col("sh")).as("g"))
      // holdout set is tiny by construction — its distinct shingles
      // broadcast, so the corpus side never shuffles
      val benchSh = Dedup.shingleDf(docs.filter(col("doc_id") < 10),
        "doc_id", "text", 5).select(explode(col("sh")).as("g")).distinct()
      trainSh.join(broadcast(benchSh), "g").select(col("id").as("doc_id")).distinct()
    },
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 3),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])) AS sh
        |  FROM t WHERE len(tk) >= 5),
        |train AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id >= 10),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id < 10)
        |SELECT DISTINCT train.doc_id
        |FROM train JOIN bench ON train.g = bench.g""".stripMargin),

    // #54: near-dup clustering — connected components over the
    // MinHash-LSH pair list; every doc labeled with its component min id
    QueryDef("q_dedup_cluster", (s, dir) => {
      val docs = tp(s, dir, "documents")
      val edges = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      DedupCluster.components(docs, "doc_id", edges)
        .select(col("id").as("doc_id"), col("cluster_id"))
    },

      // shared near-dup pair + component CTEs (NearDupComponentsSql),
      // then the min-label publish
      (NearDupComponentsSql +
      """SELECT doc.doc_id, CAST(COALESCE(LEAST(c.mn, doc.doc_id), doc.doc_id) AS BIGINT) AS cluster_id
        |FROM documents doc LEFT JOIN comp c ON c.id = doc.doc_id"""
        .stripMargin)),

    // #256: cross-source 5-gram overlap matrix — the training-data
    // hygiene read BEFORE mixing sources (shared boilerplate, syndicated
    // text, cross-source contamination): per source pair, shared
    // distinct gram count + exact Jaccard. Grams hash to the md5-60bit
    // identity before the distinct and the self-join, so shuffles carry
    // 8-byte keys, never gram text (the substring-dedup rule); the
    // matrix is |sources|²-bounded. Zero-overlap pairs don't emit (the
    // matrix is sparse by construction on both engines).
    QueryDef("q_source_overlap", (s, dir) => {
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
    },

      // source-overlap replay: the q_contamination gram construction per
      // source, md5-60bit gram identity, distinct per source, equi-join
      // on the hash with source_a < source_b
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
        |ORDER BY source_a, source_b""".stripMargin),

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
    QueryDef("q_snm_dedup", (s, dir) => {
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
    },
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
        |FROM p WHERE inter * 2 >= uni""".stripMargin),

    // #87: chunk-level exact dedup — 32-token chunks hashed (md5 of the
    // space-joined slice), repeated chunks counted across the corpus;
    // the paragraph-dedup shape of C4-style cleaning. Shuffle carries
    // 16-byte hashes, never chunk text.
    QueryDef("q_chunk_dedup", (s, dir) => {
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
    },
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents),
        |s AS (SELECT doc_id, tk, len(tk) AS nt FROM t WHERE len(tk) >= 32),
        |hh AS (SELECT unnest(list_transform(range(0, nt // 32),
        |    i -> md5(list_aggregate(tk[(i*32+1):(i*32+32)], 'string_agg', ' ')))) AS h
        |  FROM s),
        |g AS (SELECT h, COUNT(*) AS n_copies FROM hh GROUP BY h HAVING COUNT(*) >= 2)
        |SELECT COUNT(*) AS dup_chunks,
        |  COALESCE(CAST(SUM(n_copies) AS BIGINT), 0) AS copies_total FROM g""".stripMargin),

    // #93: exact all-pairs cosine threshold join over a bounded id
    // range — the ground-truth contract the LSH variant (#35/q_dedup_
    // embedding) approximates, oracle-checked end to end. The id bound
    // keeps the O(n²) explicit and constant-size; the unbounded scale
    // path is the LSH bucketing. Margin audit: nearest cosines to the
    // 0.4 threshold are ±1e-4 away (sf0.01 and sf0.1), ~8 orders above
    // any float-vs-double summation divergence, so the >= cut is
    // engine-stable with no rounding needed; output is integer ids only.
    QueryDef("q_cosine_pairs", (s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val a = e.select(col("vec_id").as("i"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("j"), col("embedding").as("eb"))
      a.join(b, col("i") < col("j"))
        .filter(Vectors.cosine(col("ea"), col("eb")) >= 0.4)
        .select(col("i"), col("j"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS i, b.vec_id AS j
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.emb, b.emb) >= 0.4""".stripMargin),

    // #97: near-dup cluster-size histogram — the curation dashboard
    // number (how much of the corpus is duplicated, at what group
    // sizes). Same component labels as q_dedup_cluster, then two tiny
    // integer aggregations.
    QueryDef("q_cluster_sizes", (s, dir) => {
      val docs = tp(s, dir, "documents")
      val edges = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      DedupCluster.components(docs, "doc_id", edges)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    },
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
        |GROUP BY cluster_size""".stripMargin),

    // #101: cross-source 3-gram overlap (corpus-diversity / provenance
    // matrix): distinct grams per source as presence flags on one
    // shuffle — n-gram-level vocab_overlap generalized to all source
    // pairs, integer-exact
    QueryDef("q_source_ngrams", (s, dir) => {
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
    },
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
        |FROM fl""".stripMargin),

    // #102: canonical-doc selection per near-dup cluster — keep-BEST
    // (longest, tie → min id) rather than CurationPipeline's keep-first;
    // the per-cluster argmax is one max_by, no self-join. Bounded id
    // range keeps the all-pairs oracle tractable at any sf.
    QueryDef("q_canonical_docs", (s, dir) => {
      val docs = tp(s, dir, "documents").filter(col("doc_id") < 300)
      val edges = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      DedupCluster.components(docs, "doc_id", edges)
        .join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
        .groupBy(col("cluster_id"))
        .agg(max_by(col("id"), struct(col("n_chars"), -col("id"))).as("keep_id"),
          count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
    },
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
        |FROM rk WHERE rn = 1 AND n_members >= 2""".stripMargin),

    // #106: Levenshtein fuzzy matching over a bounded candidate set —
    // the title/name near-match shape (edit distance ≤ 3, excluding
    // exact equals); integer-exact on both engines
    QueryDef("q_levenshtein", (s, dir) => {
      val p = t(s, dir, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey"), col("p_name"))
      val a = p.select(col("p_partkey").as("i"), col("p_name").as("na"))
      val b = p.select(col("p_partkey").as("j"), col("p_name").as("nb"))
      a.join(b, col("i") < col("j"))
        .select(col("i"), col("j"), levenshtein(col("na"), col("nb")).as("dist"))
        .filter(col("dist").between(1, 3))
    },
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 200)
        |SELECT a.p_partkey AS i, b.p_partkey AS j,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM p a, p b
        |WHERE a.p_partkey < b.p_partkey
        |  AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3""".stripMargin),

    // #107: directional shingle containment |A∩B|/|A| — quote / subset-
    // document detection; candidates from a per-shingle equi-join,
    // integer counts, one exact division
    QueryDef("q_containment", (s, dir) =>
      Dedup.containmentPairs(tp(s, dir, "documents"), "doc_id", "text", 3, 0.5)
        .select(col("i"), col("j"), col("shared"), col("containment")),
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
        |WHERE CAST(p.shared AS DOUBLE) / CAST(sz.size_i AS DOUBLE) >= 0.5""".stripMargin),

    // #174: cross-source duplication matrix — which provenance pairs
    // share near-dups (scraped-twice feeds, mirror sites, license
    // laundering): near-dup pairs labeled by their docs' sources,
    // rolled up per unordered source pair. Pair discovery is the
    // LSH-bucketed join; the rollup shuffles source-pair strings only.
    QueryDef("q_dup_matrix", (s, dir) => {
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
    },

      // Dup matrix replayed: exact-jaccard pairs (LSH == exact at 0.8,
      // the q_dedup_cluster equivalence) labeled and rolled up.
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
        |GROUP BY 1, 2""".stripMargin),

    // #121: content-defined chunk dedup — boundaries from token-hash
    // content (insertion-shift-robust, unlike fixed 32-token
    // q_chunk_dedup); md5-prefix boundary hash reproduces in the
    // oracle, shuffle carries chunk hashes only
    QueryDef("q_cdc_chunks", (s, dir) =>
      Dedup.cdcDupChunks(tp(s, dir, "documents"), "doc_id", "text", 8),
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
        |FROM g GROUP BY 1 HAVING count(*) >= 2""".stripMargin),

    // #123: MinHash estimate accuracy — estimated (signature-agreement)
    // vs exact Jaccard per pair, both integer ratios; the number a
    // pipeline thresholds on when it skips the exact verify pass
    QueryDef("q_minhash_est", (s, dir) =>
      Dedup.minHashEstimatePairs(tp(s, dir, "documents"), "doc_id", "text",
        3, 16, 40L)
        .filter(col("est_jaccard") > 0 || col("jaccard") >= 0.5),
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
        |WHERE est_jaccard > 0 OR jaccard >= 0.5""".stripMargin),

    // #271: LEAKAGE-SAFE k-fold split — fold assignment keyed on the
    // near-dup CLUSTER id, not the doc id, so a near-dup pair can never
    // straddle train/test (the Lee et al. ACL'22 eval-leakage failure:
    // doc-keyed folds put one copy of a duplicated doc in train and its
    // twin in test, inflating eval). Composition of the existing scale
    // shapes: LSH pairs -> min-label components -> kFold on cluster_id;
    // DedupSpec asserts the no-straddle invariant on every verified
    // near-dup edge.
    QueryDef("q_leakage_split", (s, dir) => {
      val docs = tp(s, dir, "documents")
      val edges = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      operators.Sampling.kFold(
          DedupCluster.components(docs, "doc_id", edges), "cluster_id", 5)
        .select(col("id").as("doc_id"), col("fold"))
    },

      // shared near-dup component CTEs (NearDupComponentsSql), then the
      // q_folds fold hash keyed on the component label, not the doc id
      (NearDupComponentsSql +
      """SELECT doc.doc_id,
        |  ('0x' || substring(md5('fold:' ||
        |    CAST(CAST(COALESCE(LEAST(c.mn, doc.doc_id), doc.doc_id) AS BIGINT) AS VARCHAR)), 1, 15))::BIGINT % 5 AS fold
        |FROM documents doc LEFT JOIN comp c ON c.id = doc.doc_id"""
        .stripMargin)),

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
    QueryDef("q_prefix_join", (s, dir) => {
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
    },

      // ground truth the prefix filter must equal: all-pairs exact Jaccard
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
        |      CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.5""".stripMargin),

    // #147: edit-distance similarity join via the SymSpell deletion
    // neighborhood — EXACT for k=1: any pair within one edit shares a
    // key in {self} ∪ {1-deletion variants} (substitution: delete the
    // differing position from both; indel: the shorter string IS a
    // variant of the longer), so candidates come from an equi-join on
    // vocabulary-sized key tables — never all-pairs — and levenshtein
    // verifies. The quadratic ground truth runs only in the oracle.
    QueryDef("q_edjoin", (s, dir) => {
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
    },

      // quadratic ground truth the deletion-neighborhood join must equal
      """WITH f AS (SELECT c_name AS w FROM customer WHERE c_custkey < 500)
        |SELECT a.w AS w1, b.w AS w2, CAST(levenshtein(a.w, b.w) AS INT) AS dist
        |FROM f a, f b WHERE a.w < b.w AND levenshtein(a.w, b.w) <= 1""".stripMargin),

    // #175: incremental cross-batch near-dup dedup as an oracle query
    // (§2.6 row 68 upgraded from spec-only): the incoming half of the
    // corpus is LSH-checked against the already-ingested half AND
    // itself — never existing×existing — with the redundant doc always
    // on j; the oracle is the all-pairs exact-Jaccard ground truth
    // restricted the same way (the banding miss-probability argument of
    // q_dedup_minhash applies unchanged).
    QueryDef("q_dedup_incremental", (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"), col("text"))
      Dedup.incrementalNearDups(
          d.filter(col("doc_id") < 250), d.filter(col("doc_id") >= 250),
          "doc_id", "text", theta = 0.8)
        .select(col("i"), col("j"), col("jac"))
    },

      // ground truth: all near-dup pairs whose redundant side is incoming
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
        |WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.8""".stripMargin),
  )
}
