package graft
package queries

import graft.Materialize._

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

import Shared._

/** Vocabulary and tokenization: BPE merge learning and encoding, vocab
  * ids, encode/decode, chunking, n-gram and co-occurrence counts. */
object Tokenizer {

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
      |      unnest(list_filter(${wsSplitSql("text")}, t -> t <> '')) AS wd
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
       |    UNNEST(list_filter(${wsSplitSql("lower(text)")},
       |      x -> len(x) > 0)) AS t(w))
       |  GROUP BY w),
       |${(1 to n).map(BpeRound).mkString(",\n")}""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // #41: token counting, whitespace + BPE-ish regex
    QueryDef("q_token_count", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_ws"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe")),
      raw"""SELECT doc_id,
        |  len(${tokensSql("text")}) AS n_ws,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]')) AS n_bpe
        |FROM documents""".stripMargin),

    // #57: PII redaction pass (emails/phones -> typed placeholders) on
    // a synthesized contact line (corpus text carries no PII)
    QueryDef("q_pii_redact", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("contact", concat(lit("user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .select(col("doc_id"),
          graft.functions.TextAnalysis.redactPii(col("contact")).as("redacted")),
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    'user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9-]{7,}', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin),

    // #58: corpus bigram counts (raw occurrences, the LM-counts shape);
    // shingling via the one-pass native expression (§2.5 row 51f)
    QueryDef("q_bigrams", (s, dir) =>
      tp(s, dir, "documents") // corpus-wide tokenize+shingle is per-row compute
        .select(explode(graft.functions.NativeExpressions
          .wordNGrams(lower(col("text")), 2, distinct = false)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc).limit(50),
      raw"""WITH t AS (SELECT ${tokensSql("lower(text)")} AS tk
        |  FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM t WHERE len(tk) >= 2)
        |SELECT bigram, count(*) AS cnt FROM bg
        |GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 50""".stripMargin),

    // #76: most-frequent token per source (deterministic mode-per-group:
    // count + row_number with count-desc/token-asc tie-break)
    QueryDef("q_vocab_top_per_source", (s, dir) => {
      val counts = tp(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("cnt"))
      counts.select(col("source"), col("token"), col("cnt"),
          row_number().over(Window.partitionBy("source")
            .orderBy(col("cnt").desc, col("token").asc)).as("rn"))
        .filter(col("rn") === 1).drop("rn")
    },
      raw"""WITH c AS (SELECT source,
        |    unnest(${tokensSql("lower(text)")}) AS token
        |  FROM documents),
        |g AS (SELECT source, token, COUNT(*) AS cnt FROM c GROUP BY source, token),
        |r AS (SELECT source, token, cnt,
        |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, token ASC) AS rn
        |  FROM g)
        |SELECT source, token, cnt FROM r WHERE rn = 1""".stripMargin),

    // #78: character trigram counts (charset/script profiling shape);
    // n >= 3 guard BEFORE sequence() — a start>stop sequence would step
    // backwards, not return empty
    QueryDef("q_char_ngrams", (s, dir) =>
      tp(s, dir, "documents").filter(col("doc_id") < 100)
        .select(lower(col("text")).as("tx"))
        .select(col("tx"), length(col("tx")).as("n"))
        .filter(col("n") >= 3)
        .select(explode(transform(sequence(lit(1), col("n") - 2),
          i => col("tx").substr(i, lit(3)))).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram").asc).limit(50),
      """WITH t AS (SELECT lower(text) AS tx FROM documents WHERE doc_id < 100),
        |g AS (SELECT unnest(list_transform(range(1, len(tx) - 1),
        |    i -> substring(tx, i, 3))) AS gram
        |  FROM t WHERE len(tx) >= 3)
        |SELECT gram, count(*) AS cnt FROM g
        |GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 50""".stripMargin),

    // #90: token co-occurrence within a 5-token sliding window (PMI
    // numerator counts): pairs ordered (lesser, greater) so A-B and B-A
    // collapse; pair strings are built BEFORE the explode so the
    // generate emits flat strings, and counts top-20. O(n·w) pairs per
    // doc, never doc×doc.
    QueryDef("q_cooccur", (s, dir) => {
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
    },
      raw"""WITH t AS (SELECT ${tokensSql("lower(text)")} AS tk
        |  FROM documents WHERE doc_id < 200),
        |s AS (SELECT tk, len(tk) AS n FROM t WHERE len(tk) >= 2),
        |p AS (SELECT unnest(flatten(list_transform(range(1, n),
        |    i -> list_transform(range(i + 1, least(i + 4, n) + 1),
        |      j -> least(tk[i], tk[j]) || ' ' || greatest(tk[i], tk[j]))))) AS pair
        |  FROM s)
        |SELECT pair, count(*) AS cnt FROM p
        |GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin),

    // #89: corpus vocabulary overlap — distinct-token set sizes and
    // intersection between two sources (integer-exact set similarity;
    // one shuffle on token, presence flags instead of a self-join)
    QueryDef("q_vocab_overlap", (s, dir) => {
      val d = tp(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      d.groupBy(col("token"))
        .agg(max(when(col("source") === "src0", 1).otherwise(0)).as("a"),
          max(when(col("source") === "src1", 1).otherwise(0)).as("b"))
        .agg(sum(col("a")).cast("long").as("n_a"),
          sum(col("b")).cast("long").as("n_b"),
          sum(col("a") * col("b")).cast("long").as("n_common"))
    },
      raw"""WITH d AS (SELECT source,
        |    unnest(${tokensSql("lower(text)")}) AS token
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |g AS (SELECT token,
        |    MAX(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a,
        |    MAX(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS b
        |  FROM d GROUP BY token)
        |SELECT CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(b) AS BIGINT) AS n_b,
        |  CAST(SUM(a * b) AS BIGINT) AS n_common FROM g""".stripMargin),

    // #260: sliding-window text chunking (the RAG / context-window
    // preprocessing step): 64-token windows at stride 48 (16-token
    // overlap) per doc via operators.Chunking — a stateless pure
    // projection, so the identical plan serves structured streaming
    // unchanged (StreamingSpec asserts batch ≡ stream); chunk
    // fingerprints are md5-60bit so chunk-level dedup joins move
    // 8-byte keys, never chunk text.
    QueryDef("q_chunk_text", (s, dir) =>
      operators.Chunking.slidingChunks(tp(s, dir, "documents"),
          "doc_id", "text", window = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id")),

      // chunking replay: same 64/48 window arithmetic, 1-based inclusive
      // list slice, md5-60bit fingerprint of the space-joined window
      raw"""WITH d AS (SELECT doc_id,
        |    list_filter(${wsSplitSql("lower(text)")},
        |      x -> x <> '') AS tk
        |  FROM documents),
        |c AS (SELECT doc_id, tk,
        |    unnest(range(0, ((len(tk) - 1) // 48) + 1)) AS chunk_id
        |  FROM d WHERE len(tk) > 0)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  CAST(len(list_slice(tk, chunk_id*48 + 1, chunk_id*48 + 64)) AS BIGINT) AS n_tok,
        |  ('0x' || substring(md5(array_to_string(
        |    list_slice(tk, chunk_id*48 + 1, chunk_id*48 + 64), ' ')), 1, 15))::BIGINT AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // #261: Heaps' law fit — vocab growth V ~ k·N^β across sources
    // (each source is one (tokens, distinct-tokens) sample point; β
    // near 0.5 is natural text, near 1 means unbounded novelty — the
    // dedup/synthetic-data health check beside the Zipf slope). The
    // zipfFit regression idiom: per-point log2 coordinates, per-term
    // round(9) decimal moment sums, one closed-form IEEE tree round(6).
    QueryDef("q_heaps", (s, dir) => {
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
    },

      // Heaps replay: per-source (N, V) points, zipf's round(9) decimal
      // moment sums, closed-form slope/intercept round(6)
      raw"""WITH tc AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT source,
        |      unnest(list_filter(${wsSplitSql("lower(text)")},
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
        |FROM m""".stripMargin),

    // #258: vocabulary coverage curve — what fraction of all token
    // OCCURRENCES the top-k vocab covers (the OOV-rate-vs-vocab-size
    // read that sizes a tokenizer): ranks come from GroupRank's
    // DISTRIBUTED two-pass rank over the vocab table (no single-task
    // window over a 100M-row vocab), coverage is one conditional agg —
    // exact integer sums, two shared divisions round(9).
    QueryDef("q_vocab_coverage", (s, dir) => {
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
    },

      // vocab-coverage replay: row_number by (cnt desc, token) over the
      // vocab table, conditional integer sums, shared divisions round(9)
      raw"""WITH v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_filter(${wsSplitSql("lower(text)")},
        |      x -> x <> '')) AS token
        |    FROM documents) GROUP BY token),
        |r AS (SELECT cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token) AS rnk FROM v)
        |SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
        |  round(CAST(CAST(SUM(CASE WHEN rnk <= 100 THEN cnt ELSE 0 END) AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(CAST(SUM(cnt) AS DECIMAL(38,0)) AS DOUBLE), 9) AS cov_100,
        |  round(CAST(CAST(SUM(CASE WHEN rnk <= 1000 THEN cnt ELSE 0 END) AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(CAST(SUM(cnt) AS DECIMAL(38,0)) AS DOUBLE), 9) AS cov_1000
        |FROM r""".stripMargin),

    // #80: fixed-size token chunking (context windows for embedding/
    // indexing): chunk ids from an integer sequence — no array slicing,
    // so the shuffle never carries token arrays
    QueryDef("q_token_chunks", (s, dir) =>
      tp(s, dir, "documents")
        .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).as("nt"))
        .filter(col("nt") > 0)
        .select(col("doc_id"), col("nt"),
          explode(sequence(lit(0), expr("(nt + 31) div 32") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(32), col("nt") - col("chunk_idx") * 32).as("chunk_tok")),
      raw"""WITH t AS (SELECT doc_id,
        |    len(${tokensSql("text")}) AS nt
        |  FROM documents),
        |c AS (SELECT doc_id, nt, unnest(range(0, (nt + 31) // 32)) AS chunk_idx
        |  FROM t WHERE nt > 0)
        |SELECT doc_id, chunk_idx, least(32, nt - chunk_idx * 32) AS chunk_tok
        |FROM c""".stripMargin),

    // #96: PMI collocations from the 5-token co-occurrence window
    // (q_cooccur's counts promoted to scores): pair and unigram counts
    // are integer-exact; the single log2 per surviving pair is rounded
    // to 6 (see q_entropy) and the ordering uses the rounded value, so
    // rank is engine-stable. cnt >= 5 floors the variance.
    QueryDef("q_pmi", (s, dir) =>
      operators.TextStats.pmiPairs(
        tp(s, dir, "documents").filter(col("doc_id") < 200), "text"),
      raw"""WITH t AS (SELECT ${tokensSql("lower(text)")} AS tk
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
        |ORDER BY pmi DESC, pair ASC LIMIT 20""".stripMargin),

    // #98: frequency-ranked vocabulary (dense token ids, deterministic
    // tie-break) — the global rank runs over the DISTINCT-token table,
    // never the corpus; see operators.Vocab
    QueryDef("q_vocab_ids", (s, dir) =>
      operators.Vocab.build(tp(s, dir, "documents"), "text", 2L)
        .filter(col("tok_id") <= 100),
      raw"""WITH tk AS (SELECT unnest(${tokensSql("lower(text)")}) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token
        |  HAVING count(*) >= 2)
        |SELECT token, cnt, tok_id FROM (
        |  SELECT token, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token ASC) AS tok_id FROM c)
        |WHERE tok_id <= 100""".stripMargin),

    // #99: document encoding to vocab-id sequences (OOV → 0; the
    // tokenize→ids step feeding sequence packing). Output as a CSV
    // string: integer-exact and engine-comparable, while the library
    // API (Vocab.encode) returns the real array<long> column.
    QueryDef("q_encode_docs", (s, dir) => {
      val docs = tp(s, dir, "documents")
      val vocab = operators.Vocab.build(docs, "text", 2L)
        .filter(col("tok_id") <= 1000)
      operators.Vocab.encode(docs.filter(col("doc_id") < 100), "doc_id", "text",
        broadcast(vocab))
        .select(col("doc_id"),
          array_join(col("ids").cast("array<string>"), ",").as("ids_csv"))
    },
      raw"""WITH t AS (SELECT doc_id,
        |    ${tokensSql("lower(text)")} AS tk
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
        |FROM j GROUP BY doc_id""".stripMargin),

    // #220: codec round-trip — decode(encode(docs)) must equal the
    // normalized source text with OOV tokens masked as <unk>. The
    // Spark side runs the REAL encode→decode pair (ids materialize in
    // between); the oracle computes the expected text directly from
    // the vocab membership — so a hash match proves the round-trip
    // identity, not just that two copies of one formula agree.
    QueryDef("q_decode_docs", (s, dir) => {
      val docs = tp(s, dir, "documents")
      // r18 (guide §3.3): the vocab feeds both encode and decode —
      // checkpoint the 1000-row table so build's corpus pass runs once
      val vocab = operators.Vocab.build(docs, "text", 2L)
        .filter(col("tok_id") <= 1000)
        .eagerCheckpoint()
      val enc = operators.Vocab.encode(docs.filter(col("doc_id") < 100),
        "doc_id", "text", broadcast(vocab))
      operators.Vocab.decode(enc, "doc_id", "ids", broadcast(vocab))
    },
      raw"""WITH t AS (SELECT doc_id,
        |    ${tokensSql("lower(text)")} AS tk
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
        |FROM d GROUP BY doc_id""".stripMargin),

    // #108: vocabulary-growth curve (Heaps-law shape) — distinct tokens
    // in the first N docs via first-occurrence doc per token: one
    // corpus shuffle, thresholds join on the vocab-sized table
    QueryDef("q_vocab_growth", (s, dir) =>
      operators.Vocab.vocabGrowth(tp(s, dir, "documents"), "doc_id", "text",
        Seq(50L, 100L, 200L, 300L, 400L, 500L)),
      raw"""WITH tk AS (SELECT doc_id,
        |    unnest(${tokensSql("lower(text)")}) AS token
        |  FROM documents),
        |f AS (SELECT token, min(doc_id) AS fd FROM tk GROUP BY token)
        |SELECT CAST(n AS BIGINT) AS n, count(*) AS vocab_size
        |FROM f, unnest([50, 100, 200, 300, 400, 500]) AS u(n)
        |WHERE fd < n GROUP BY n""".stripMargin),

    // #109: OOV-rate per source vs the top-20 frequency vocab — the
    // tokenizer-coverage metric; integer counts, one exact division
    QueryDef("q_oov_rate", (s, dir) => {
      val docs = tp(s, dir, "documents")
      val vocab = operators.Vocab.build(docs, "text", 1L)
        .filter(col("tok_id") <= 20)
      operators.Vocab.oovRate(docs, "text", "source", vocab)
    },
      raw"""WITH tk AS (SELECT source,
        |    unnest(${tokensSql("lower(text)")}) AS token
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
        |FROM j GROUP BY source""".stripMargin),

    // #111: text normalization pass — NFC (native codegen'd
    // expression; Spark has no builtin) → lower → whitespace collapse
    // → trim; the corpus is ASCII, so a composed/decomposed suffix is
    // synthesized to force real normalization work. Output is the
    // md5 + length of the normal form: engine-comparable, and exactly
    // what a dedup stage downstream would key on.
    QueryDef("q_text_norm", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(lower(graft.functions.NativeExpressions.nfc(
            concat(col("text"), lit("  CAFÉ  niño\t")))),
            "[ \\t\\n\\x0B\\f\\r]+", " ")).as("norm"))
        .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
          length(col("norm")).as("n_chars_norm")),

      // chr(769)/chr(771) are the combining acute/tilde the Spark side
      // appends as a decomposed literal; nfc_normalize must compose them
      // into the same code points graft_nfc produces.
      """SELECT doc_id, md5(norm) AS norm_md5, CAST(length(norm) AS BIGINT) AS n_chars_norm
        |FROM (SELECT doc_id,
        |    trim(regexp_replace(lower(nfc_normalize(
        |      text || '  CAFE' || chr(769) || '  nin' || chr(771) || 'o' || chr(9))),
        |      '[ \t\n\x0b\f\r]+', ' ', 'g')) AS norm
        |  FROM documents)""".stripMargin),

    // #115: BPE merge learning, batched driver loop (parity-preserving
    // symbol-disjoint prefix batches — Bpe.learnMerges). Oracle: the 8
    // rounds replayed in DuckDB as an unrolled CTE chain (BpeOracle);
    // BpeSpec additionally pins the semantics on a hand-computed corpus
    // and asserts batched ≡ sequential. Integer pair counts,
    // lexicographic tie-break — byte-identical merge table every run.
    QueryDef("q_bpe_merges", (s, dir) =>
      operators.Bpe.learnMerges(tp(s, dir, "documents"), "text", 8),
      BpeOracle),

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
    QueryDef("q_bpe_encode", (s, dir) => {
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
    },
      BpeEncodeSql),

    // #175: tokenizer fertility per source — tokens-per-word and
    // bytes-per-token, the compression diagnostics that decide whether
    // a tokenizer (or a source's text) is wasting context budget.
    // Integer sums, two single divisions, round(9).
    QueryDef("q_fertility", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_ws"),
          sum(TextAnalysis.bpeishTokenCount(col("text")).cast("long")).as("n_bpe"),
          sum(octet_length(col("text")).cast("long")).as("n_bytes"))
        .select(col("source"), col("n_ws"), col("n_bpe"), col("n_bytes"),
          round(col("n_bpe").cast("double") / col("n_ws").cast("double"), 9)
            .as("fertility"),
          round(col("n_bytes").cast("double") / col("n_bpe").cast("double"), 9)
            .as("bytes_per_token")),
      raw"""WITH b AS (SELECT source,
        |    len(${tokensSql("text")}) AS ws,
        |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]')) AS bpe,
        |    octet_length(encode(text)) AS by
        |  FROM documents)
        |SELECT source,
        |  CAST(SUM(ws) AS BIGINT) AS n_ws,
        |  CAST(SUM(bpe) AS BIGINT) AS n_bpe,
        |  CAST(SUM(by) AS BIGINT) AS n_bytes,
        |  ROUND(CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE), 9) AS fertility,
        |  ROUND(CAST(SUM(by) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE), 9) AS bytes_per_token
        |FROM b GROUP BY source""".stripMargin),
  )
}
