package graft
package queries

import graft.Materialize._

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Dedup
import graft.operators.BoundedWindow.boundedGlobal

import Shared._

/** Per-document text signals, corpus language-model statistics and the
  * pair metrics (ROUGE, BLEU, chrF) over the verified near-dup pairs. */
object TextMetrics {

  /** [[NearDupPairsSql]] with the corpus windowed to doc_id < 5000 —
    * the q_chrf replay bound (r14 verdict item 3): per-doc signatures
    * make the windowed pair set identical to filtering the unwindowed
    * pairs, and the bound pins the whole oracle — pair discovery AND
    * char-gram scoring — at sf0.1 cost on any corpus (unwindowed it
    * measured 128 s at sf1 against the 180 s harness limit). */
  private val NearDupPairsSqlWindowed =
    NearDupPairsSql.replace("FROM documents)",
      "FROM documents WHERE doc_id < 5000)")

  val defs: Seq[QueryDef] = Seq(

    // #39: language ID heuristic (engine-equivalence check)
    QueryDef("q_lang_id", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred")),
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
        |FROM sc""".stripMargin),

    // #40: quality scoring — identical expression tree to the oracle SQL
    QueryDef("q_quality_score", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality")),
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
        |FROM b""".stripMargin),

    // #280: Flesch reading ease per document (Flesch 1948) — the NAMED
    // readability grade beside q_quality_score's ad-hoc ratio blend
    // (a curation pipeline reports "reading level" in a unit reviewers
    // recognize, not a house blend): 206.835 − 1.015·(words/sentences)
    // − 84.6·(syllables/words), syllables approximated as vowel-group
    // runs ([aeiouy]+, floored at 1 per word) — the standard cheap
    // heuristic. Counts are exact integers (emitted for the hash
    // check); the grade is one shared IEEE tree round(6). Pure
    // projection — no shuffle at any scale.
    QueryDef("q_readability", (s, dir) => {
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
    },

      // exact integer counts + the one shared Flesch IEEE tree; tokens
      // via the house whitespace-split twin, syllables as vowel-group
      // runs floored at 1 per word, sentences as non-blank [.!?]+ splits
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
        |FROM b""".stripMargin),

    // #70: repetition filter (Gopher/C4-style): duplicate-token ratio
    // per doc — 1 - distinct/total, exact int division both engines.
    // greatest(.,1) guards 0/0 for empty docs: Spark's NULL vs DuckDB's
    // NaN would otherwise diverge on whether the doc passes the filter.
    QueryDef("q_repetition", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .select(col("doc_id"),
          (lit(1.0) - size(array_distinct(col("tk"))).cast("double") /
            greatest(size(col("tk")), lit(1)).cast("double")).as("dup_ratio"))
        .filter(col("dup_ratio") > 0.5),
      """SELECT doc_id,
        |  1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(greatest(len(tk), 1) AS DOUBLE)
        |    AS dup_ratio
        |FROM (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk
        |  FROM documents)
        |WHERE 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(greatest(len(tk), 1) AS DOUBLE) > 0.5""".stripMargin),

    // #75: doc-length histogram (64-char buckets, integer-exact)
    QueryDef("q_len_histogram", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(expr("n_chars div 64").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_c"),
          max(col("n_chars")).as("max_c")),
      """SELECT n_chars // 64 AS bucket, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_c, MAX(n_chars) AS max_c
        |FROM documents GROUP BY 1""".stripMargin),

    // #259: Simpson diversity (repeat-concentration λ, unbiased form)
    // of each source's token distribution — the lexical-diversity
    // mixture read beside entropy/TTR: λ = Σ n_t(n_t−1) / (N(N−1)),
    // the probability two tokens drawn without replacement coincide.
    // Integer numerator and denominator (decimal(38,0) sums), one
    // shared division round(9); one token-keyed agg per source.
    QueryDef("q_simpson", (s, dir) => {
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
    },

      // Simpson replay: integer n_t(n_t-1) numerator and N(N-1)
      // denominator, one shared division round(9)
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
        |FROM ag WHERE nt > 1 ORDER BY source""".stripMargin),

    // #251: per-doc script-mix profile (mixed-script spam detection /
    // language routing): character counts per explicit Unicode range
    // class — ASCII letters, digits, CJK, Cyrillic — as length deltas
    // of class-strip regexes. Integer counts, literal-range classes
    // identical in Java and RE2, one projection scan.
    QueryDef("q_script_mix", (s, dir) => {
      def n(c: Column, cls: String): Column =
        (length(c) - length(regexp_replace(c, cls, ""))).cast("long")
      t(s, dir, "documents").select(col("doc_id"),
        n(col("text"), "[A-Za-z]").as("n_latin"),
        n(col("text"), "[0-9]").as("n_digit"),
        n(col("text"), "[一-鿿]").as("n_cjk"),
        n(col("text"), "[Ѐ-ӿ]").as("n_cyrillic"))
    },

      // script-mix replay: identical literal-range classes, global flag
      """SELECT doc_id,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |  CAST(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS BIGINT) AS n_cjk,
        |  CAST(length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS n_cyrillic
        |FROM documents""".stripMargin),

    // #206: Jensen–Shannon divergence between all source pairs —
    // the SYMMETRIC drift metric next to q_kl_sources (KL is
    // asymmetric and blows up on one-sided tokens; JS is bounded
    // [0,1]). One-sided vocabulary never joins: over SHARED tokens
    // JS = ½Σ(p·log2(p/m)+q·log2(q/m)), and each side's absent-token
    // mass enters in closed form as ½(1−Σ_sh p)+½(1−Σ_sh q) — so the
    // pair join is inner on token, vocab-bounded shuffles only.
    // Per-term doubles round(9) then sum in DECIMAL (order-free),
    // final round(6) — the klFromCorpus float discipline.
    QueryDef("q_js_div", (s, dir) => {
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
    },
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
        |FROM g ORDER BY s1, s2""".stripMargin),

    // #94: character-entropy quality signal (Shannon bits/char per doc
    // from exact char counts): one explode + two shuffles, counts stay
    // integer until the final per-doc log. round(6), NOT the house
    // round(9): log2 is not correctly-rounded, so Java vs libm can
    // differ in the last ulps — error ~1e-12 against a 5e-7 rounding
    // boundary leaves ~1e-6/doc boundary risk, vs ~1e-3 at round(9).
    QueryDef("q_entropy", (s, dir) =>
      operators.TextStats.charEntropy(tp(s, dir, "documents"), "doc_id", "text"),
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch
        |  WHERE ch <> '' GROUP BY doc_id, ch)
        |SELECT doc_id,
        |  round(log2(CAST(sum(c) AS DOUBLE)) -
        |    sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) /
        |      CAST(sum(c) AS DOUBLE), 6) AS entropy
        |FROM c GROUP BY doc_id""".stripMargin),

    // #95: corpus-unigram surprisal per doc (mean -log2 p(token), the
    // cheap LM-quality proxy): global token counts are a vocab-sized
    // table joined back to the exploded corpus — vocab ≪ corpus, so
    // the join broadcasts/AQE-shuffles on token, never doc×doc.
    // round(6): see q_entropy.
    QueryDef("q_unigram_logprob", (s, dir) =>
      operators.TextStats.unigramSurprisal(tp(s, dir, "documents"), "doc_id", "text"),
      """WITH tk AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS c FROM tk GROUP BY token),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM c)
        |SELECT doc_id, round(avg(log2(tot / CAST(c AS DOUBLE))), 6) AS surprisal
        |FROM tk JOIN c USING (token), tot
        |GROUP BY doc_id""".stripMargin),

    // #112: per-source KL divergence from the corpus unigram blend —
    // source-drift / mixture diagnostic; vocab-sized shuffles only
    QueryDef("q_kl_sources", (s, dir) =>
      operators.TextStats.klFromCorpus(tp(s, dir, "documents"), "text", "source"),
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
        |GROUP BY stratum""".stripMargin),

    // #113: Zipf fit (slope/intercept of log-freq vs log-rank) from
    // exact decimal regression moments; rank window on the vocab table
    QueryDef("q_zipf", (s, dir) =>
      operators.TextStats.zipfFit(tp(s, dir, "documents"), "text", 500),
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
        |FROM m""".stripMargin),

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
    QueryDef("q_good_turing", (s, dir) => {
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
    },

      // bigram count-of-counts self-join shifted by one; the 20 smallest
      // distinct counts; integer product, one division round(9);
      // N_{r+1} gaps emit 0
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
        |FROM hd c LEFT JOIN coc nx ON nx.r = c.r + 1 CROSS JOIN tot""".stripMargin),

    // #285: Hill tail-index estimator over the token frequency
    // distribution (Hill 1975) — the MLE power-law exponent beside
    // q_zipf's log-log least-squares fit: the regression grades the
    // whole curve, Hill grades the TAIL, the regime that decides vocab
    // truncation and heavy-hitter budgets. Top k = 100 counts by
    // (count desc, token asc) — a vocab-sized agg then a TakeOrdered
    // 101-row head, no global sort; 1/α̂ = mean ln(c_i/c_{k+1}) with
    // ln terms round(9) summed in DECIMAL (order-free), α̂ one
    // division round(6) (the transcendental rule).
    QueryDef("q_hill_tail", (s, dir) => {
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
    },

      // top-101 head by (count desc, token asc) — ln ratios round(9)
      // into a DECIMAL sum, the α̂ division round(6)
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
        |FROM m""".stripMargin),

    // #114: mean bigram surprisal per doc (−log2 p(w_i|w_{i−1}) from
    // exact corpus bigram/prefix counts); counts from the full corpus,
    // scored docs bounded
    QueryDef("q_bigram_logprob", (s, dir) =>
      operators.TextStats.bigramSurprisal(tp(s, dir, "documents"),
        "doc_id", "text", col("doc_id") < 300),
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS tk FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t WHERE len(tk) >= 2),
        |cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
        |cu AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(cb) AS BIGINT) AS cu FROM cb GROUP BY 1)
        |SELECT doc_id,
        |  round(CAST(sum(CAST(round(log2(CAST(cu AS DOUBLE) / CAST(cb AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS surprisal
        |FROM bg JOIN cb USING (bg) JOIN cu ON string_split(bg.bg, ' ')[1] = cu.w1
        |WHERE doc_id < 300 GROUP BY doc_id""".stripMargin),

    // #193: CCNet-style PERPLEXITY BAND FILTER — the LM quality gate a
    // production corpus runs: score every doc's bigram surprisal
    // (boilerplate scores low, word salad high), keep the middle
    // [p20, p80] band, account kept/scored per source. The thresholds
    // are EXACT order statistics computed on the value HISTOGRAM of the
    // round(6)-quantized scores (bounded domain, q_percentile_disc's
    // argument) — integer cumulative-count comparisons, engine-stable;
    // the corpus never globally sorts and the two cutpoints broadcast
    // back as one row.
    QueryDef("q_ppl_filter", (s, dir) => {
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
    },
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
        |GROUP BY source ORDER BY source""".stripMargin),

    // #176: n-gram novelty per doc — the fraction of a doc's distinct
    // 3-grams first seen in THIS doc (scanning in doc_id order): the
    // freshness curve that exposes boilerplate-heavy tails during
    // corpus growth. Gram first-occurrence is one min-aggregation on
    // the exploded shingle table; all counts integer.
    QueryDef("q_ngram_novelty", (s, dir) => {
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
    },
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
        |FROM ex JOIN fd USING (g) GROUP BY ex.doc_id""".stripMargin),

    // #274: ROUGE-1/2 similarity report over the verified near-dup
    // pairs (Lin 2004's clipped n-gram overlap — the graded HOW-similar
    // companion of the binary pair verdict; the same scores grade
    // summarization/eval output against references). Multiset gram
    // counts, Σ min(ci, cj) per pair, and F1 via 2PR/(P+R) = 2·ov/
    // (li+lj) — every score ONE integer division, round(9). Work is
    // linear in the pair report (keyed equi-joins only, never n²).
    QueryDef("q_rouge", (s, dir) => {
      val docs = tp(s, dir, "documents")
      val pairs = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      operators.TextStats.rougePairs(docs, pairs, "doc_id", "text")
    },

      // clipped-overlap ROUGE over the shared verified-pair set: multiset
      // gram counts per doc, Σ min(ci, cj) per pair, F1 via the harmonic
      // identity 2PR/(P+R) = 2·ov/(li+lj) — one division per score
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
        .stripMargin)),

    // #278: smoothed log-BLEU over the verified pairs — the PRECISION
    // eval metric beside q_rouge's recall/F (BLEU asks "how much of
    // the candidate is in the reference", with a brevity penalty so a
    // short high-precision candidate can't game it; +1 smoothing per
    // Lin & Och '04 keeps missing higher orders finite). Same pair
    // set, same linear-in-report shape.
    QueryDef("q_bleu", (s, dir) => {
      val docs = tp(s, dir, "documents")
      val pairs = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      operators.TextStats.bleuPairs(docs, pairs, "doc_id", "text")
    },

      // same shared pair CTE; per-order clipped precisions with +1
      // smoothing, ln terms round(9) into a DECIMAL sum, brevity term
      // one division — expression-identical to the Spark tree
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
        |LEFT JOIN l4 c4 ON c4.doc_id = p.i""".stripMargin)),

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
    QueryDef("q_chrf", (s, dir) => {
      val docs = tp(s, dir, "documents").filter(col("doc_id") < 5000)
      val pairs = Dedup.minHashNearDups(docs, "doc_id", "text", 0.8)
        .select(col("i"), col("j"))
      operators.TextStats.chrfPairs(docs, pairs, "doc_id", "text")
    },

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
        |FROM scored""".stripMargin)),

    // #129: type-token ratio + hapax share per doc (lexical-diversity
    // quality gate) — one explode + per-(doc,token) count; the division
    // is over two exact integers so it is bit-identical cross-engine
    QueryDef("q_ttr", (s, dir) =>
      tp(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("n_hapax"))
        .withColumn("ttr",
          round(col("n_types").cast("double") / col("n_tokens").cast("double"), 9)),
      """WITH ex AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY doc_id, tok),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types, n_hapax,
        |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9) AS ttr
        |FROM a""".stripMargin),

    // #132: URL canonicalization + per-domain rollup (domain-level
    // curation stats: crawl corpora gate on domain reputation) — host
    // extract, case-fold, www-strip; the URL is synthesized from doc
    // fields so both engines see identical input
    QueryDef("q_domains", (s, dir) =>
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
          sum(col("n_chars")).cast("long").as("sum_chars")),
      """WITH d AS (SELECT
        |    'https://WWW.' || source || '-' || CAST(doc_id % 20 AS VARCHAR) ||
        |      '.Example.COM/p/' || CAST(doc_id AS VARCHAR) || '?ref=' || lang AS url,
        |    n_chars
        |  FROM documents)
        |SELECT regexp_replace(lower(regexp_extract(url, '^https?://([^/?]+)', 1)),
        |    '^www\.', '') AS domain,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d GROUP BY domain""".stripMargin),

    // #133: Gopher-style quality gates from integer token stats (token
    // count bounds, mean-word-length band as cross-multiplied integer
    // inequalities, stopword floor) — every predicate is integer
    // arithmetic, so the keep bit is exact on any engine
    QueryDef("q_gopher_rules", (s, dir) =>
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
            col("n_stop") * 50 >= col("n_tokens")).cast("int")),
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
        |FROM m""".stripMargin),

    // #234: token burstiness (Church–Gale variance-to-mean ratio over
    // per-doc counts, zeros included): VMR ≈ 1 means Poisson-scattered
    // (function words); ≫ 1 means clumpy content words — the signal
    // behind burstiness-aware term weighting and template detection.
    // Absent-doc zeros never materialize: with integer sums s1 = Σc,
    // s2 = Σc² over PRESENT docs and D total docs, VMR cross-
    // multiplies to (D·s2 − s1²)/(D·s1) — exact integers to one final
    // round(9) division. Top-50 tokens by count, deterministic
    // tie-break; vocab-bounded shuffles.
    QueryDef("q_burstiness", (s, dir) => {
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
    },
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
        |FROM pt, d ORDER BY n_occ DESC, token ASC LIMIT 50""".stripMargin),

    // #229: Kneser–Ney smoothed bigram probabilities (the LM
    // estimator behind every n-gram baseline — absolute discount
    // d=0.75 plus the CONTINUATION-count unigram backoff, which fixes
    // the "san francisco" pathology raw MLE and add-k share): all
    // four count families (c_xy, c_x, N1+left(x), N1+right(y), B)
    // are exact integers off ONE bigram table; p_KN is a single
    // shared IEEE tree over those integers, round(9). Output: the 50
    // most frequent bigrams (deterministic tie-break) with their
    // smoothed probabilities.
    QueryDef("q_kneser_ney", (s, dir) => {
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
    },
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
        |ORDER BY cxy.cxy DESC, cxy.w1 ASC, cxy.w2 ASC LIMIT 50""".stripMargin),

    // #228: bigram conditional entropy rate per source — H(Y|X) =
    // −Σ_xy (c_xy/N)·ln(c_xy/c_x), the text-predictability metric
    // that separates repetitive/templated corpora (low rate) from
    // diverse prose (high) better than unigram entropy (row 94): a
    // source can have rich vocabulary but formulaic transitions.
    // Bigram and left-context counts are exact integers off one
    // tokenize pass (vocab-bounded shuffles); each term is one
    // round(9) IEEE tree summed IN DECIMAL (order-free), one final
    // round(6).
    QueryDef("q_entropy_rate", (s, dir) => {
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
    },
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
        |GROUP BY cxy.source, nb ORDER BY cxy.source""".stripMargin),

    // #298: distinct-1 / distinct-2 generation-diversity ratios per
    // source (Li et al. NAACL 2016 — the standard repetitiveness read
    // on generated text: distinct n-grams over total n-grams; a
    // mode-collapsed or boilerplate-heavy source scores low where
    // entropy alone can hide it behind a long tail). Unigram and
    // bigram families each collapse corpus → vocab-sized in one hash
    // agg; the ratios are single integer divisions round(9).
    QueryDef("q_distinct_n", (s, dir) => {
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
    },

      // vocab-sized integer counts, one division per ratio
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
        |FROM uni JOIN bi ON bi.source = uni.source ORDER BY uni.source""".stripMargin),

    // #299: Chao1 species-richness estimator over the bigram vocabulary
    // (Chao 1984, bias-corrected form — the UNSEEN-vocabulary size
    // beside q_good_turing's unseen MASS and q_heaps' growth exponent:
    // "how many bigram types exist that this corpus hasn't shown yet"
    // is the number a vocab-sizing or coverage plan extrapolates on):
    // chao1 = V + f1(f1−1)/(2(f2+1)) off the same count-of-counts
    // table as Good–Turing — corpus collapses to bigram-vocab-sized
    // then COC-sized; integers until one shared tree round(9).
    QueryDef("q_chao1", (s, dir) => {
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
    },

      // the Good–Turing bigram COC table closed with the Chao1 tree
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
        |FROM m""".stripMargin),

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
    QueryDef("q_log_odds", (s, dir) => {
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
    },

      // Monroe et al. log-odds with the corpus-count Dirichlet prior;
      // each ln rounds 9, the z tree closes round 9
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
        |FROM d ORDER BY z DESC, w LIMIT 20""".stripMargin),
  )
}
