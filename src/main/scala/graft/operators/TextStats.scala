package graft.operators

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Corpus-statistics scoring operators — the information-theoretic tier
  * of the text-quality family (TextAnalysis covers the per-row scalar
  * signals; these need corpus or per-doc aggregation).
  *
  * All outputs that pass through a transcendental (log2) are rounded to
  * 6 decimals, not the house 9: log2 is not correctly rounded, so JVM
  * vs C-library results can differ in the final ulps, and the rounding
  * boundary must sit orders of magnitude above that divergence. Counts
  * stay integer-exact until the final per-group expression.
  */
object TextStats {

  /** Shannon entropy (bits/char) per document from exact character
    * counts: H = log2(n) - Σ c·log2(c) / n. One explode + two hash
    * aggregations; the shuffle carries (doc, char, count) — bounded by
    * doc count × charset size, never corpus bytes. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(split(col(textCol), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(round(
        log2(sum(col("c")).cast("double")) -
          sum(col("c").cast("double") * log2(col("c").cast("double"))) /
            sum(col("c")).cast("double"), 6).as("entropy"))

  /** Mean corpus-unigram surprisal per document (avg -log2 p(token) =
    * avg log2(total/count), the cheap LM-perplexity proxy used as a
    * quality gate). The global count table is vocab-sized — orders
    * smaller than the corpus — so joining it back to the exploded
    * tokens broadcasts (or AQE-shuffles on token at extreme vocab),
    * never doc×doc. */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = docs.select(col(idCol),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("token"))
    // r18 (guide §3.3): cnt feeds tot and the score join — checkpoint
    // the vocab-sized counts once (3 tokenize passes → 2)
    val cnt = tk.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .eagerCheckpoint()
    val tot = cnt.agg(sum(col("c")).cast("double").as("tot"))
    tk.join(cnt, "token")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(round(avg(log2(col("tot") / col("c").cast("double"))), 6)
        .as("surprisal"))
  }

  /** Top-k collocations by pointwise mutual information over a sliding
    * token window: PMI(a,b) = log2( p(a,b) / (p(a)·p(b)) ) with p from
    * integer window-pair and unigram counts. Pairs are ordered
    * (lesser, greater) so AB/BA collapse, and built BEFORE the explode
    * so the generate emits flat strings — O(n·w) pairs per doc, never
    * doc×doc. `minCount` floors the estimator's variance; ordering uses
    * the rounded score, so ranks are engine-stable. */
  def pmiPairs(docs: DataFrame, textCol: String, window: Int = 5,
               minCount: Long = 5, k: Int = 20): DataFrame = {
    val base = docs
      .select(TextAnalysis.tokens(lower(col(textCol))).as("tk"))
      .select(col("tk"), size(col("tk")).as("n"))
    // r18 (guide §3.3): both count tables feed their own total-agg AND
    // the scoring join — without materialization each consumer re-ran
    // the window-pair explode / tokenize over the corpus (PlanAudit: 5
    // scans). Both are vocab-sized; checkpoint once each.
    val pairs = base.filter(col("n") >= 2)
      .select(explode(flatten(transform(sequence(lit(1), col("n") - 1),
        i => transform(sequence(i + 1, least(i + (window - 1), col("n"))),
          j => concat_ws(" ",
            least(element_at(col("tk"), i), element_at(col("tk"), j)),
            greatest(element_at(col("tk"), i), element_at(col("tk"), j))))))
      ).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .eagerCheckpoint()
    val toks = base.select(explode(col("tk")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tc"))
      .eagerCheckpoint()
    val totT = toks.agg(sum(col("tc")).cast("double").as("t_tot"))
    val totP = pairs.agg(sum(col("cnt")).cast("double").as("p_tot"))
    pairs.filter(col("cnt") >= minCount)
      .withColumn("t1", element_at(split(col("pair"), " "), 1))
      .withColumn("t2", element_at(split(col("pair"), " "), 2))
      .join(toks.select(col("token").as("t1"), col("tc").as("c1")), "t1")
      .join(toks.select(col("token").as("t2"), col("tc").as("c2")), "t2")
      .crossJoin(broadcast(totT)).crossJoin(broadcast(totP))
      .select(col("pair"), col("cnt"),
        round(log2((col("cnt").cast("double") / col("p_tot")) /
          ((col("c1").cast("double") / col("t_tot")) *
            (col("c2").cast("double") / col("t_tot")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("pair").asc).limit(k)
  }

  /** KL divergence of each stratum's unigram distribution from the
    * corpus distribution — the source-drift / mixture-diagnostic number
    * (how far a source's token usage sits from the blend it feeds).
    * support(stratum) ⊆ support(corpus) always, so no smoothing is
    * needed. Counts stay integer to the last expression; each term
    * (p·log2(p/q)) is one fixed IEEE tree rounded to 9 decimals, then
    * summed in DECIMAL — order-independent and engine-exact — and the
    * sum rounds to 6 (above log2's ulp divergence). Shuffles are on
    * (stratum, token) and token: vocab-sized tables throughout, never
    * the corpus. */
  def klFromCorpus(docs: DataFrame, textCol: String,
                   stratumCol: String): DataFrame = {
    val tk = docs.select(col(stratumCol).as("stratum"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("token"))
    // r18 (guide §3.3): cst feeds ns, ct and the term join — checkpoint
    // the vocab-sized count table once (4 tokenize passes → 1)
    val cst = tk.groupBy(col("stratum"), col("token")).agg(count(lit(1)).as("c"))
      .eagerCheckpoint()
    val ns = cst.groupBy(col("stratum")).agg(sum(col("c")).as("n"))
    val ct = cst.groupBy(col("token")).agg(sum(col("c")).as("ct"))
    val tot = ct.agg(sum(col("ct")).as("nt"))
    val p = col("c").cast("double") / col("n").cast("double")
    val q = col("ct").cast("double") / col("nt").cast("double")
    cst.join(broadcast(ns), "stratum")
      .join(ct, "token")
      .crossJoin(broadcast(tot))
      .select(col("stratum"),
        round(p * log2(p / q), 9).cast("decimal(28,9)").as("term"))
      .groupBy(col("stratum"))
      .agg(round(sum(col("term")).cast("double"), 6).as("kl"))
  }

  /** Least-squares Zipf fit over the top-k token frequencies:
    * slope/intercept of log2(freq) ~ log2(rank) — the corpus-health
    * number (natural text sits near slope −1; synthetic or deduped-
    * to-death corpora flatten). Rank ties break on the token so rank
    * assignment is engine-stable; the regression moments are per-term
    * round(9) doubles summed in DECIMAL (exact, order-independent),
    * and the closed-form slope/intercept is one fixed IEEE tree over
    * those exact sums. The rank window runs on the vocab-sized count
    * table, never the corpus. */
  def zipfFit(docs: DataFrame, textCol: String, topK: Int = 500): DataFrame = {
    val w = BoundedWindow.boundedGlobal(s"top-K vocab prefix <= $topK rows")
      .orderBy(col("cnt").desc, col("token").asc)
    // top-K first via orderBy+limit (TakeOrderedAndProject: distributed
    // per-partition heaps, driver merges k·p rows) so the unpartitioned
    // rank window only ever sees topK rows — a global row_number over
    // the full vocab would single-task a 100M-token count table
    val ranked = docs
      .select(explode(TextAnalysis.tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(topK)
      .withColumn("rnk", row_number().over(w))
    val x = log2(col("rnk").cast("double"))
    val y = log2(col("cnt").cast("double"))
    def dsum9(c: Column): Column = sum(round(c, 9).cast("decimal(28,9)")).cast("double")
    val m = ranked.agg(
      count(lit(1)).cast("double").as("n"),
      dsum9(x).as("sx"), dsum9(y).as("sy"),
      dsum9(x * y).as("sxy"), dsum9(x * x).as("sxx"))
    m.select(m("n").cast("long").as("n_tokens"),
      round((m("n") * m("sxy") - m("sx") * m("sy")) /
        (m("n") * m("sxx") - m("sx") * m("sx")), 6).as("slope"),
      round((m("sy") - (m("n") * m("sxy") - m("sx") * m("sy")) /
        (m("n") * m("sxx") - m("sx") * m("sx")) * m("sx")) / m("n"), 6)
        .as("intercept"))
  }

  /** Mean bigram surprisal per document: avg −log2 p(w_i | w_{i−1})
    * with p from exact corpus bigram / prefix counts — the next-token-
    * predictability quality gate one order up from `unigramSurprisal`
    * (boilerplate scores low, shuffled word salad high). The bigram
    * count table is vocab²-bounded but Zipf-concentrated — orders
    * smaller than the corpus — and joins back on the bigram string.
    * Per-term round(9) → DECIMAL sum → round(6), as klFromCorpus.
    * `outputFilter` restricts which docs are SCORED; counts always
    * come from the full corpus. */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
                      outputFilter: Column = lit(true)): DataFrame = {
    val bg = docs
      .select(col(idCol), TextAnalysis.tokens(lower(col(textCol))).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(1), size(col("tk")) - 1),
        i => concat_ws(" ", slice(col("tk"), i, lit(2))))).as("bg"))
    // r18 (guide §3.3): cb feeds BOTH the unigram-prefix rollup and
    // the score join — without materialization each consumer re-ran
    // the full tokenize+bigram-explode corpus pass (PlanAudit: 10
    // documents scans in q_ppl_filter's one plan). The count table is
    // bigram-vocab-sized (≪ corpus); one eager checkpoint makes every
    // consumer read the materialized counts. Values unchanged.
    val cb = bg.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      .eagerCheckpoint()
    val cu = cb.groupBy(element_at(split(col("bg"), " "), 1).as("w1"))
      .agg(sum(col("cb")).as("cu"))
    bg.filter(outputFilter)
      .join(cb, "bg")
      .join(cu, element_at(split(col("bg"), " "), 1) === col("w1"))
      .select(col(idCol),
        round(log2(col("cu").cast("double") / col("cb").cast("double")), 9)
          .cast("decimal(28,9)").as("term"))
      .groupBy(col(idCol))
      .agg(round((sum(col("term")).cast("double") /
        count(lit(1)).cast("double")), 6).as("surprisal"))
  }

  private val GramStructType = "array<struct<n:int,g:string>>"

  /** ALL word n-gram orders 1..maxN in ONE explode pass: (id, n, g, c)
    * token n-gram MULTISET counts per doc — the clipped-overlap input
    * for [[rougePairs]]/[[bleuPairs]]. Unlike Dedup.shingleDf this
    * keeps duplicates (clipping uses per-gram min COUNT, a set would
    * over-credit repeated grams); takes the PRE-TOKENIZED (id, tk)
    * frame so every gram order explodes from one tokenization pass.
    * Value-identical per order to the pre-r18 single-order gramCounts
    * (the order rides the row, so no cross-order gram collision is
    * possible). r18 fusion: the per-order form ran the tokenize-explode
    * subtree and its (id, g) exchange once per order — 4 corpus passes
    * and 4 shuffles for BLEU — where one pass emitting (n, g) structs
    * carries every order through a single exchange (guide §2.4). */
  private def gramCountsUpTo(tk: DataFrame, maxN: Int): DataFrame = {
    val arrs: Seq[Column] = (1 to maxN).map { n =>
      if (n == 1)
        transform(col("tk"), t => struct(lit(1).as("n"), t.as("g")))
      else
        when(size(col("tk")) >= n,
          transform(sequence(lit(1), size(col("tk")) - lit(n - 1)),
            i => struct(lit(n).as("n"),
              concat_ws(" ", slice(col("tk"), i, lit(n))).as("g"))))
          .otherwise(array().cast(GramStructType))
    }
    // r19 (guide §2.3 "shuffle fewer bytes"): repartition by id BEFORE
    // the explode — hashpartitioning(id) satisfies the groupBy's
    // (id, n, g) ClusteredDistribution (grams never aggregate across
    // docs), so the planner drops the post-explode exchange entirely
    // and the shuffle carries compact token ARRAYS instead of every
    // exploded gram string (~maxN× the corpus bytes; measured at sf1:
    // the gram groupBy stage held 125 s of task time in q_bleu).
    tk.repartition(col("id"))
      .select(col("id"), explode(concat(arrs: _*)).as("x"))
      .select(col("id"), col("x.n").as("n"), col("x.g").as("g"))
      .groupBy(col("id"), col("n"), col("g")).agg(count(lit(1)).as("c"))
  }

  /** ALL char n-gram orders 1..maxN in ONE pass over the whitespace-
    * stripped text — the char-gram twin of [[gramCountsUpTo]], one
    * substring-explode + one exchange instead of maxN of each. */
  private def charGramCountsUpTo(tk: DataFrame, maxN: Int): DataFrame = {
    val cs = tk.select(col("id"), concat_ws("", col("tk")).as("s"))
    val arrs: Seq[Column] = (1 to maxN).map { n =>
      when(length(col("s")) >= n,
        transform(sequence(lit(1), length(col("s")) - lit(n - 1)),
          i => struct(lit(n).as("n"), col("s").substr(i, lit(n)).as("g"))))
        .otherwise(array().cast(GramStructType))
    }
    // same pre-explode repartition as gramCountsUpTo: the shuffle moves
    // one stripped string per doc, never maxN char-gram copies of it
    cs.repartition(col("id"))
      .select(col("id"), explode(concat(arrs: _*)).as("x"))
      .select(col("id"), col("x.n").as("n"), col("x.g").as("g"))
      .groupBy(col("id"), col("n"), col("g")).agg(count(lit(1)).as("c"))
  }

  /** Clipped overlap + per-doc gram totals for EVERY order at once,
    * off one (id, n, g, c) table `g`: ov carries a `ov<n>` column per
    * order (Σ_g min(ci, cj) conditional on the order), lens a `len<n>`
    * column per order. The gram table is materialized ONCE
    * (localCheckpoint) because three consumers read it — the two pair
    * sides and the length rollup — and the pair sides then meet in a
    * single (j, n, g) equi-join instead of one join per order.
    * Per-order values are exactly the pre-r18 per-order overlap's: a pair/doc with no
    * order-n grams yields NULL here and 0 after the callers'
    * `na.fill(0)`, identical to the old left-join + fill. */
  private def overlapAll(p: DataFrame, g0: DataFrame, orders: Seq[Int])
      : (DataFrame, DataFrame) = {
    val g = g0.eagerCheckpoint()
    val lens = g.groupBy(col("id")).agg(
      orders.map(n => sum(when(col("n") === n, col("c"))).as(s"len$n")).head,
      orders.tail.map(n => sum(when(col("n") === n, col("c"))).as(s"len$n")): _*)
    // r19 (guide §3.1, §2.5): STREAM the gram table, BROADCAST the pair
    // report — the reverse of the r18 shape, where the planner (seeing
    // the checkpointed pair RDD's tiny byte size) streamed the pairs and
    // broadcast the CORPUS-SIZED gram table twice. Streaming the pairs
    // also serialized the expand: the pair checkpoint materializes with
    // AQE-coalesced partitions (2 at sf1 — pairs are few BYTES), so the
    // Σ_pairs len(i) row expansion and its partial aggregation ran on 2
    // tasks (measured: 27.5 s wall / 39.6 s task time on a 2-task stage,
    // the whole q_bleu tail). The pair report is bounded ≤ MaxPairReport
    // (2^20) rows BY CONSTRUCTION — always a legitimate broadcast — while
    // the gram table is corpus-proportional and checkpoints at full
    // shuffle parallelism, so the expand now fans out with the data.
    // Inner joins commute: rows identical, i < j ordering untouched.
    val ov = g.select(col("id").as("i"), col("n"), col("g"),
        col("c").as("ci"))
      .join(broadcast(p), "i")
      .join(g.select(col("id").as("j"), col("n"), col("g"),
        col("c").as("cj")), Seq("j", "n", "g"))
      .groupBy(col("i"), col("j"))
      .agg(
        orders.map(n => sum(when(col("n") === n,
          least(col("ci"), col("cj")))).as(s"ov$n")).head,
        orders.tail.map(n => sum(when(col("n") === n,
          least(col("ci"), col("cj")))).as(s"ov$n")): _*)
    (ov, lens)
  }

  /** Default [[pairScaffold]] report cap: ~1M pairs keeps every
    * legitimate eval/dedup report intact (the adversarial sf1 corpus
    * peaked at 250,600) while bounding the blow-up a pathologically
    * duplicated corpus produces when near-dup clusters SQUARE into
    * pairs — the r13 sf1 step measured the report growing 10,024×
    * (25 → 250,600) at 10× rows; one more 10× step of the same shape
    * would checkpoint ~25M pairs and the scaffold itself becomes the
    * scale-killer the metrics were designed to avoid. */
  private[graft] val MaxPairReport: Int = 1 << 20

  /** Shared scaffold for the pair-scoring metrics ([[rougePairs]],
    * [[bleuPairs]]): checkpoint the pair report ONCE (a caller's pair
    * plan is typically an expensive minhash-LSH candidate join that
    * must not re-execute per reference; reports are report-sized, the
    * DedupCluster.components precedent), semi-join docs down to pair
    * members so gram work is proportional to the REPORT not the
    * corpus, and tokenize those docs once — every gram order explodes
    * from the same materialized token arrays. Returns (pairs, tokens).
    *
    * Over `maxPairs` the report is CAPPED deterministically: pairs
    * rank by md5(i|j) and the lowest `maxPairs` survive — a
    * content-keyed uniform subsample, identical across replays and
    * engines, never "whichever partitions finished first". Per the
    * no-silent-caps rule the kept/dropped counts ride the returned
    * frame as `graft_pair_cap` observe metrics (pairs_kept,
    * pairs_dropped — visible in QueryExecutionListener /
    * StreamingQueryProgress without an extra job); the count() that
    * decides the cap is free, reading the just-materialized
    * checkpoint. The rank-and-limit runs ONLY on the oversized path,
    * so an in-budget report pays one driver-side count and nothing
    * else. */
  private def pairScaffold(docs: DataFrame, pairs: DataFrame,
                           idCol: String, textCol: String,
                           maxPairs: Int = MaxPairReport)
      : (DataFrame, DataFrame, DataFrame) = {
    val p0 = pairs.eagerCheckpoint()
    val nPairs = p0.count() // free: counts the materialized checkpoint
    val p =
      if (nPairs <= maxPairs) p0
      else p0
        .withColumn("_ph", md5(concat_ws("|", col("i"), col("j"))))
        .orderBy(col("_ph")).limit(maxPairs).drop("_ph")
        .eagerCheckpoint()
        .observe("graft_pair_cap",
          count(lit(1)).as("pairs_kept"),
          max(lit(nPairs - maxPairs)).as("pairs_dropped"))
    val ids = p.select(col("i").as("_pid"))
      .union(p.select(col("j").as("_pid"))).distinct()
    val pairDocs = docs.join(ids, docs(idCol) === ids("_pid"), "left_semi")
    val tkAll = pairDocs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("tk"))
    // r19: the gram build and the overlap expand run over one
    // representative pair per distinct (token sequence, token sequence)
    // combination (ContentGroups) — a near-dup pair report on a
    // duplicated corpus is largely pairs between verbatim copies
    // (measured at sf1: ~175 M expand rows for ~1 M pairs over ~1 k
    // distinct texts). `reattach` then copies the scores back, so every
    // input pair still emits its own row (the retention contract). A
    // pair id with no doc row is its own group (coalesce) and scores
    // as an empty doc through the callers' left joins and zero-fills.
    val mem = ContentGroups.members(tkAll, "tk")
      .eagerCheckpoint() // (id, sid, cnt, tk)
    val pReps = p
      .join(mem.select(col("id").as("i"), col("sid").as("ti")), Seq("i"), "left")
      .join(mem.select(col("id").as("j"), col("sid").as("tj")), Seq("j"), "left")
      .select(col("i"), col("j"),
        coalesce(col("ti"), col("i")).as("ti"),
        coalesce(col("tj"), col("j")).as("tj"))
    val repP = pReps.select(col("ti").as("i"), col("tj").as("j")).distinct()
    val repTk = ContentGroups.reps(mem).select(col("id"), col("tk"))
    (pReps, repP, repTk)
  }

  /** Re-attach per-representative-pair `scores` (keyed i, j = rep ids)
    * to the original pair list: one row per input pair, score columns
    * copied from its (ti, tj) representative. Both sides are bounded
    * by the pair report. */
  private def reattach(pReps: DataFrame, scores: DataFrame): DataFrame = {
    val out = scores.columns.filter(c => c != "i" && c != "j")
    pReps.join(
      scores.withColumnRenamed("i", "ti").withColumnRenamed("j", "tj"),
      Seq("ti", "tj"))
      .select(col("i") +: col("j") +: out.map(col): _*)
  }

  /** chrF₂ character n-gram F-score for a PAIR TABLE (i = candidate,
    * j = reference) — the CHARACTER-level eval metric beside
    * [[rougePairs]]'s word recall/F and [[bleuPairs]]'s word precision
    * (Popović 2015): tokenization-free, so morphology-rich and
    * unsegmented text score on shared character spans a word metric
    * misses entirely. Orders 1..4 over the whitespace-stripped text;
    * per-order P_n = ov_n/|cand grams|, R_n = ov_n/|ref grams| are ONE
    * integer division each (round 9, zero denominator → 0.0); chrP /
    * chrR average the four orders in DECIMAL (order-free) × the exact
    * binary 0.25; Fβ with β = 2 weights recall: 5·P·R/(4P+R), one
    * shared double tree round(6). Every input pair emits a row (the
    * rougePairs retention contract).
    *
    * Scale shape identical to the word metrics: pair report
    * checkpointed once via the shared scaffold, char-gram work linear
    * in Σ pair-member doc chars, keyed equi-joins only. */
  def chrfPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                textCol: String,
                maxPairs: Int = MaxPairReport): DataFrame = {
    val (pReps, p, tk) = pairScaffold(docs, pairs, idCol, textCol, maxPairs)
    // r18: one fused char-gram pass + one overlap join for all four
    // orders (was 4× explode subtree, 12 joins) — guide §2.4
    val (ov, lens) = overlapAll(p, charGramCountsUpTo(tk, 4), 1 to 4)
    val joined = p
      .join(ov, Seq("i", "j"), "left")
      .join(lens.select(col("id").as("i") +:
        (1 to 4).map(n => col(s"len$n").as(s"ci$n")): _*), Seq("i"), "left")
      .join(lens.select(col("id").as("j") +:
        (1 to 4).map(n => col(s"len$n").as(s"cj$n")): _*), Seq("j"), "left")
      .na.fill(0L, (1 to 4).flatMap(n => Seq(s"ov$n", s"ci$n", s"cj$n")))
    def nd(c: Column) = c.cast("double")
    def prec(n: Int): Column = // one integer/integer division, round 9
      when(col(s"ci$n") === 0L, lit(0.0))
        .otherwise(round(nd(col(s"ov$n")) / nd(col(s"ci$n")), 9))
    def rec(n: Int): Column =
      when(col(s"cj$n") === 0L, lit(0.0))
        .otherwise(round(nd(col(s"ov$n")) / nd(col(s"cj$n")), 9))
    def avg4(terms: Seq[Column]): Column = // decimal sum × exact 0.25
      terms.map(_.cast("decimal(28,9)")).reduce(_ + _).cast("double") *
        lit(0.25)
    val chrP = avg4((1 to 4).map(prec))
    val chrR = avg4((1 to 4).map(rec))
    reattach(pReps, joined.select(col("i"), col("j"),
      round(chrP, 9).as("chr_p"),
      round(chrR, 9).as("chr_r"),
      when(lit(4.0) * chrP + chrR === lit(0.0), lit(0.0))
        .otherwise(round(lit(5.0) * chrP * chrR /
          (lit(4.0) * chrP + chrR), 6)).as("chrf2")))
  }

  /** ROUGE-1/ROUGE-2 overlap scores for a PAIR TABLE (i, j) — the
    * summarization-eval n-gram metric (Lin 2004) applied as a duplicate
    * similarity report: clipped overlap Σ_g min(c_i(g), c_j(g)) over
    * token unigrams and bigrams, precision against i, recall against j.
    * F1 exploits the harmonic-mean identity 2PR/(P+R) = 2·ov/(len_i +
    * len_j), so every score is ONE integer/integer division (round 9)
    * — no float accumulation anywhere, bit-replayable in SQL.
    *
    * EVERY input pair emits a row: zero shared grams, a one-token doc
    * (no bigrams), even an empty doc all score 0.0 instead of silently
    * vanishing — a summarization-eval caller grading candidates against
    * references hits zero bigram overlap routinely, and a dropped row
    * there reads as "not evaluated", not "scored 0". Overlap and length
    * joins are therefore LEFT from the pair table with 0-fills, and
    * each division guards its zero denominator.
    *
    * Scale shape: everything is keyed equi-joins — the gram-count
    * tables join the (bounded) pair table on id, then pair-side gram
    * counts meet on (pair, gram). Work is Σ_pairs (len_i + len_j),
    * linear in the pair report, never corpus². */
  def rougePairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                 textCol: String,
                 maxPairs: Int = MaxPairReport): DataFrame = {
    val (pReps, p, tk) = pairScaffold(docs, pairs, idCol, textCol, maxPairs)
    // r18: one fused gram pass + one overlap join for both orders
    // (was 2× explode subtree, 6 joins) — guide §2.4
    val (ov, lens) = overlapAll(p, gramCountsUpTo(tk, 2), 1 to 2)
    val joined = p
      .join(ov, Seq("i", "j"), "left")
      .join(lens.select(col("id").as("i"), col("len1").as("li1"),
        col("len2").as("li2")), Seq("i"), "left")
      .join(lens.select(col("id").as("j"), col("len1").as("lj1"),
        col("len2").as("lj2")), Seq("j"), "left")
      .na.fill(0L, Seq("ov1", "li1", "lj1", "ov2", "li2", "lj2"))
    def nd(c: Column) = c.cast("double")
    def score(num: Column, den: Column): Column =
      when(den === 0L, lit(0.0)).otherwise(round(nd(num) / nd(den), 9))
    reattach(pReps, joined
      .select(col("i"), col("j"),
        score(col("ov1"), col("li1")).as("rouge1_p"),
        score(col("ov1"), col("lj1")).as("rouge1_r"),
        score(col("ov1") * 2, col("li1") + col("lj1")).as("rouge1_f"),
        score(col("ov2") * 2, col("li2") + col("lj2")).as("rouge2_f")))
  }

  /** Smoothed log-BLEU for a PAIR TABLE (i = candidate, j = reference)
    * — the PRECISION-oriented eval companion of [[rougePairs]]'s
    * recall/F (Papineni et al. 2002; +1 smoothing per Lin & Och 2004 so
    * a missing higher-order n-gram dents the score instead of zeroing
    * it, and no NULL/−∞ ever reaches the output):
    *   log_bleu = min(0, 1 − r/c) + ¼ Σ_{n=1..4} ln((ov_n+1)/(cnt_n+1))
    * with ov_n the CLIPPED n-gram overlap and cnt_n the candidate's
    * n-gram count. Every ratio is integer/integer; each ln term rounds
    * to 9 decimals and sums in DECIMAL (order-free), the brevity term
    * is one division — final round(6), the house transcendental rule.
    * Every input pair emits a row ([[rougePairs]] retention contract).
    *
    * Scale shape identical to rougePairs: one materialized tokenization
    * of pair-member docs, keyed equi-joins, work linear in the pair
    * report. */
  def bleuPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                textCol: String,
                maxPairs: Int = MaxPairReport): DataFrame = {
    val (pReps, p, tk) = pairScaffold(docs, pairs, idCol, textCol, maxPairs)
    // r18: one fused gram pass + one overlap join for all four orders
    // (was 4× explode subtree, 9 joins) — guide §2.4. rn1 = the
    // reference's unigram length (brevity penalty), cn_n = candidate
    // n-gram counts, ov_n = clipped overlaps — all off one lens/ov pair.
    val (ov, lens) = overlapAll(p, gramCountsUpTo(tk, 4), 1 to 4)
    val joined = p
      .join(lens.select(col("id").as("j"), col("len1").as("rn1")),
        Seq("j"), "left")
      .join(ov, Seq("i", "j"), "left")
      .join(lens.select(col("id").as("i") +:
        (1 to 4).map(n => col(s"len$n").as(s"cn$n")): _*), Seq("i"), "left")
      .na.fill(0L, "rn1" +: (1 to 4).flatMap(n => Seq(s"ov$n", s"cn$n")))
    def nd(c: Column) = c.cast("double")
    // per-order smoothed ln precision, round(9) then DECIMAL sum
    val lnTerms = (1 to 4).map { n =>
      round(log((nd(col(s"ov$n")) + lit(1.0)) /
        (nd(col(s"cn$n")) + lit(1.0))), 9).cast("decimal(28,9)") }
    val lnSum = lnTerms.reduce(_ + _).cast("double")
    // brevity penalty vs the reference's UNIGRAM length r = rn1,
    // candidate c = cn1; c = 0 (empty candidate) pins log_bleu hard low
    val bp = least(lit(0.0),
      lit(1.0) - nd(col("rn1")) / greatest(nd(col("cn1")), lit(1.0)))
    reattach(pReps, joined.select(col("i"), col("j"),
      round(bp + lnSum * lit(0.25), 6).as("log_bleu")))
  }

  /** Per-doc n-gram NOVELTY of an eval fold against the train folds —
    * the memorization/leakage magnitude beside binary decontamination:
    * share of an eval doc's DISTINCT token n-grams never seen in any
    * train-fold doc (an eval set whose n-grams are all in train
    * measures recall, not generalization). Fold assignment is the
    * deterministic content-hash kFold; grams cross the shuffle as
    * md5-60bit LONGS (8 bytes, never text — a 60-bit collision merely
    * marks one gram seen, identically on both engines).
    *
    * Scale shape: the train gram set is corpus-sized but the join is a
    * plain hash equi-join on the 8-byte key; no broadcast, no sort.
    * Emits (doc_id, n_grams, n_novel, novelty) for eval-fold docs with
    * ≥ n tokens. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 5, k: Int = 5, evalFold: Int = 0): DataFrame = {
    val folds = Sampling.kFold(docs.select(col(idCol)), idCol, k)
      .select(col(idCol).as("id"), col("fold"))
    // r18 (guide §3.3, §8 step 1): the hashed-gram table feeds both
    // the train-side distinct and the eval-side probe — checkpoint the
    // (id, hash, fold) fingerprints once instead of shingling the
    // corpus per consumer (the shuffle carries 8-byte hashes, never
    // gram text)
    val g = Dedup.shingleDf(docs, idCol, textCol, n)
      .select(col("id"), explode(col("sh")).as("g5"))
      .select(col("id"),
        graft.functions.NativeExpressions.md5Prefix60(col("g5")).as("gh"))
      .join(folds, "id")
      .eagerCheckpoint()
    val train = g.filter(col("fold") =!= evalFold)
      .select(col("gh")).distinct().withColumn("seen", lit(1))
    g.filter(col("fold") === evalFold)
      .join(train, Seq("gh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("id").as(idCol), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 9)
          .as("novelty"))
  }
}
