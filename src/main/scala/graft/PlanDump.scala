package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: formatted physical plans of the queries whose shape
  * carries the 100 TB scale argument — the explain-audit evidence that
  * pushdown reaches scans, dims broadcast, top-k never global-sorts,
  * and the custom operator plans partial → exchange → final. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(4)
    val names = Seq(
      "q_top10_tokens", "q_filter_pushdown", "q_star_join", "q_asof_join",
      "q_range_join", "q_group_topk", "q_pack_sequences", "q_dedup_minhash",
      "q_notin_nullaware", "q_freq_sketch", "q_lateral", "q_unigram_logprob",
      "q_encode_docs", "q_source_mix", "q_zipf", "q_len_deciles",
      "q_retention", "q_bigrams", "q_expectations", "q_scd_apply",
      "q_prefix_join", "q_zorder", "q_chi2", "q_tpch_q8",
      "q_pagerank", "q_dedup_incremental", "q_cohort_ltv",
      "q_percentile_disc", "q_tpch_q18", "q_gini", "q_spearman",
      "q_rrf_hybrid", "q_dsir_weights", "q_semdedup",
      "q_hard_negatives", "q_curation_funnel",
      "q_substring_dedup", "q_scd2", "q_kmeans", "q_ann_pq",
      "q_bpe_encode", "q_tpch_q7", "q_tpch_q21", "q_kmv_overlap",
      "q_auc", "q_quantile_norm", "q_attribution", "q_movers",
      "q_rollup", "q_rfm", "q_kcore", "q_kneser_ney", "q_mmr",
      "q_chunk_text", "q_vocab_coverage", "q_source_overlap", "q_rbo",
      "q_bootstrap_ci", "q_bfs", "q_basket_pairs",
      "q_recursive_cte", "q_ppl_filter", "q_cluster_sizes",
      "q_semdedup_recall",
      "q_wasserstein", "q_rouge", "q_fold_novelty", "q_bleu",
      "q_silhouette",
      "q_tpch_q2", "q_tpch_q9", "q_tpch_q11", "q_tpch_q16", "q_tpch_q20",
      "q_rand_index", "q_readability",
      "q_chrf", "q_data_mix", "q_hill_tail", "q_conformal",
      "q_good_turing", "q_pass_at_k", "q_bradley_terry", "q_distinct_n",
      "q_paired_bootstrap", "q_log_odds")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the scale-critical queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` on `$sfDir`. What to look for is\n")
    sb.append("noted per query; PlanSpec asserts the same properties in CI.\n")
    sb.append("""
## Three-point scale fits (r14)

The r13 sf1 step left six operators with a >= 3x sf0.1->sf1 ratio, and two
points cannot separate linear from superlinear. `tools/make_sfdata.py` built
sfdata3 (3x sf0.1, same offset-replica construction), BENCH_SF3.json holds the
readings (2-pass shuffled minima per point), and t = a + b·n least-squares fits
over n ∈ {1, 3, 10} give:

| operator | fit (sec) | max resid | marginal s/n, 1→3 vs 3→10 | verdict |
|---|---|---|---|---|
| q_bpe_encode | 1.66 + 0.641·n | 0.2% | 0.645 → 0.640 | **LINEAR** — independently reproduces the r13 two-fit decomposition's coefficients |
| q_dedup_exact | 0.19 + 0.058·n | 12.8% | 0.090 → 0.051 | SUBLINEAR (fixed-cost dominated) |
| q_dedup_incremental | 1.02 + 0.552·n | 27.6% | 0.940 → 0.476 | SUBLINEAR |
| q_ann_bruteforce | 0.13 + 0.079·n | 24.8% | 0.015 → 0.091 | FLAT-TO-LINEAR — all three readings sub-second, near the noise floor; the sf1 "3.58x" was a fixed-cost artifact |
| q_cluster_sizes | 1.49 + 0.726·n | 8.7% | 0.485 → 0.773 | mildly superlinear in ROWS, explained: propagation rounds grow with cluster diameter and replication grows every near-dup cluster Rx; pairs grow 100x at sf1 while wall grows 3.6x, so strongly SUBLINEAR in PAIRS |
| q_dedup_minhash | see below | — | 0.885 → 1.411 | superlinear in ROWS, exactly the adversarial-replication prediction |

q_dedup_minhash is the one genuinely superlinear-in-rows fit, and the
three points say WHY: the exact quadratic decomposition is
t ≈ 0.57 + 0.65·n + 0.059·n² — a fixed share, a rows-linear share, and an
n² share that IS the pair-proportional work (every replica is a verbatim
copy, so candidate pairs grow as the SQUARE of the replica count by corpus
construction; at sf1 the n² term contributes 45% of the wall). The operator
is linear in rows plus linear in pairs — the strong result under a corpus
built to square its pair report. No fix is owed: on a real corpus pair
growth tracks true duplication, and the r14 pair-report cap
(TextStats.pairScaffold) bounds the downstream consumers that would
otherwise inherit a squared report.

q_chrf, added this round with an 11.9x sf0.1->sf1 ratio, got the same
three-point treatment: 4.60 / 14.62 / 54.80 s at n ∈ {1, 3, 10} fits
t ≈ -1.1 + 5.6·n (max resid 5%) — LINEAR in rows while its pair report
grew 25 → ~15k → 250,600 (the same squared-replica construction), i.e.
strongly sublinear in the report it scores. Same verdict family as
q_rouge/q_bleu; the 2^20 md5-ranked cap bounds the next 10x step.
(r15: q_chrf is now id-windowed to doc_id < 5000 on both sides — see
SURVEY §5 — so its replay cost is pinned at sf0.1 scale; the fit above
records the unwindowed operator's honest shape.)

## Full-suite sf1 sweep (r15) — BENCH_SF1_FULL.json

The r14 verdict's top item: correctness held at sf1 for all queries,
but ~250 of them had never been TIMED above sf0.1. The full 294-query
suite now has a measured sf1 point (2-pass shuffled minima, soak off,
calibration probes run ungraded cross-SF): **_total 578.99 s vs the
committed sf0.1 record's 244.56 s — 2.37x aggregate wall at 10x data,
zero failures, contended: false.** 292 of 294 queries land at or
under ~9x (the pre-adjudicated pair-scoring family peaks the
non-flagged list: q_bleu 8.9x, q_rouge 7.3x, q_dedup_minhash 6.8x —
all with pair reports growing 10,000x-class on the replicated corpus).

Exactly two queries exceed the ~12x linear-plus-noise bar, and both
are OUTPUT-CARDINALITY effects, measured not argued:

| query | sf0.1 → sf1 wall | output growth (measured) | verdict |
|---|---|---|---|
| q_containment | 1.34 → 28.36 s (21.2x) | containment pairs 512 → 501,200 (**979x**) | sublinear in the emitted report by ~46x: the per-shingle equi-join's pair set SQUARES under verbatim replication (every base containment pair gains ~10² replica-cross variants) — the q_dedup_minhash adjudication verbatim, with no LSH banding to thin it (containment is directional and must see every sharing pair) |
| q_interval_join | 0.58 → 9.26 s (16.0x) | overlap pairs ~114k → ~11.4M (**~100x**) | sublinear in output by ~6x: both join sides grow 10x inside a FIXED seven-year date range, so per-row overlap fan-out grows 10x and the pair product 100x — the densified-interval shape, not a plan regression (the band join still prunes to the ±14-day band) |

Watch item recorded, not actioned: the q_containment DuckDB oracle
replay measured 132 s at sf1 (the 501k-pair inverted-index join) —
within but near the 180 s harness limit, the q_chrf trajectory one
corpus step behind. If the driver corpus ever steps past sf1, apply
the q_chrf id-window precedent (doc_id < 5000, inactive at gate
corpora) to q_containment; left unwindowed this round so the shipped
code matches the BENCH_SF1_FULL record that was just captured.

r15 batch 2 extended the sweep to the full 303-query suite: the nine
new metric rows all land at or under 2.3x (q_mutual_info 1.0x,
q_theil_u 0.6x, q_v_measure 1.1x, q_fleiss_kappa 1.3x,
q_bradley_terry 1.4x, q_avg_precision/q_distinct_n 1.6x, q_mcnemar
2.0x, q_chao1 2.3x — contingency/grid/vocab-sized shapes), and
BENCH_SF1_FULL.json now carries 303 queries at _total 590.14 s.
""")
    val notes = Map(
      "q_top10_tokens" -> "TakeOrderedAndProject (per-partition heaps), no global Sort; partial_count before the exchange.",
      "q_filter_pushdown" -> "PushedFilters + pruned ReadSchema on the parquet scan.",
      "q_star_join" -> "every dim side is a BroadcastHashJoin build.",
      "q_asof_join" -> "union + one window pass: a single hashpartitioning exchange, no range join.",
      "q_range_join" -> "bin equi-join, never BroadcastNestedLoopJoin.",
      "q_group_topk" -> "custom operator: partial GroupTopK → Exchange on the group key → final GroupTopK.",
      "q_pack_sequences" -> "window and rollup share one exchange on the shard key.",
      "q_dedup_minhash" -> "banded self-join on (band, bhash) buckets; shingles cached once (InMemoryTableScan).",
      "q_notin_nullaware" -> "LeftAnti, BuildRight, true — the trailing flag is isNullAwareAntiJoin.",
      "q_freq_sketch" -> "ObjectHashAggregate with partial_graft_freq_items — the mergeable sketch combines map-side.",
      "q_lateral" -> "the correlated ORDER BY+LIMIT subquery decorrelates to a ranked window + join — no per-outer-row re-execution.",
      "q_unigram_logprob" -> "vocab-sized count table joined back to the exploded corpus; scalar total crossJoins as a broadcast, no cartesian blowup.",
      "q_encode_docs" -> "vocab join is a BroadcastHashJoin; order restored by array_sort on (pos,id), so the groupBy shuffle stays unsorted.",
      "q_source_mix" -> "stratum stats are one tiny agg; thresholds broadcast back and the sample is a narrow filter — the corpus never shuffles.",
      "q_zipf" -> "TakeOrderedAndProject tops the vocab count table (per-partition heaps); the rank window then sees 500 rows, never the vocab.",
      "q_len_deciles" -> "cutpoints collapse to one broadcast array row; decile assignment is a projection — the corpus only shuffles into the 10-group rollup.",
      "q_retention" -> "distinct user-weeks before the cohort self-join; partial aggregation ahead of every exchange.",
      "q_bigrams" -> "graft_ngrams (one-pass native shingling) inside whole-stage codegen feeding partial_count; TakeOrderedAndProject for the top-50.",
      "q_expectations" -> "five quality checks in ONE orders scan: the referential check is a broadcast left join riding the same pass, orphans counted as null-probe rows.",
      "q_scd_apply" -> "the change log collapses to last-writer-per-key (partial_max_by before its exchange) before the snapshot join — delta-sized shuffle only.",
      "q_prefix_join" -> "candidate generation is an equi-join on prefix shingles (shuffle on the shingle, AQE splits hot buckets); the shingle table is cached once for prefix build + both verify sides.",
      "q_zorder" -> "the Morton interleave is 10 statically-expanded mask-shift terms inside whole-stage codegen; the prefix goes through TakeOrderedAndProject heaps, never a global sort.",
      "q_chi2" -> "events scanned once: marginals are window sums over the 20-row cell table, never a corpus re-scan.",
      "q_tpch_q8" -> "five dims broadcast around the two shuffled facts; the part filter prunes the fact scan through the broadcast join.",
      "q_pagerank" -> "edges from ONE corpus scan; each iteration is an equi-join of the rank table with the edge list on src (partial sums before the exchange), lineage truncated per pass — no cartesian anywhere.",
      "q_dedup_incremental" -> "banded self-join restricted to incoming x (corpus + self) by the origin predicate — existing x existing pairs never form; shingles cached once (InMemoryTableScan on both verify sides).",
      "q_cohort_ltv" -> "cohort first-month rolls up with partial_min before its exchange; the cumulative-revenue window runs on the cohort x age CELL table, never on order rows.",
      "q_percentile_disc" -> "the corpus shuffles ONCE into the bounded per-group value histogram (partial_count map-side); the cumulative window then sees ~50 rows per group — grouped quantiles without a per-group sort of the data.",
      "q_tpch_q18" -> "the HAVING rollup (partial_sum before its exchange) filters to the rare big orders, which BROADCAST back against orders and customer; top-20 via TakeOrderedAndProject heaps.",
      "q_gini" -> "ZERO Window nodes: per-group ranks come from GroupRank's range-repartition + per-partition offset stamp (the rangepartitioning exchange lives behind the RDD boundary); the visible plan is stamped-scan -> one hash agg.",
      "q_spearman" -> "ZERO Window nodes: tie-averaged ranks computed on per-(group, value) COUNT tables via distributed prefix-sum; the 150-row qty rank table broadcasts back, the price table equi-joins — moments in one agg.",
      "q_rrf_hybrid" -> "both retrieval arms prune through the GroupTopK custom operator (partial heaps -> exchange on q_id -> final heaps); the row_number windows only ever rank <= armK survivors; lexical candidates from a per-shingle equi-join.",
      "q_dsir_weights" -> "ONE conditional aggregation computes raw + target bucket counts together; the buckets-sized log-ratio table broadcasts back onto the token stream — two tokenize scans, zero self-joins.",
      "q_semdedup" -> "cell assignment is a broadcast-centroid argmax scan; the candidate join is an equi-join on the skew-guarded refined key rk (oversized cells split on hyperplane sub-bits, so pairs = sum of subcell^2 stays bounded on a skewed distribution); left_anti drops the dominated docs.",
      "q_hard_negatives" -> "the cosine band filter runs BEFORE the GroupTopK heaps, so ranking only sees band members; broadcast query vectors, integer output.",
      "q_curation_funnel" -> ("ONE pass: per-doc cumulative survival flags (three id-keyed left joins, each keep/drop sub-DAG derived once) feed a single conditional aggregation -- no per-stage count branches, no recompute-x6; the 6-row report explodes from the agg row.\n\n" +
        "**Cost decomposition (r13, fixed vs data-proportional).** Two-point linear fit from the file-level scale step (BENCH_SF1.json): 4.03 s at sf0.1, 7.50 s at sf1 (10x data) => t ~= 3.64 + 0.39*(data in sf0.1 units). ~90% of the sf0.1 reading is FIXED cost -- the 100-stage DAG's scheduler/codegen/broadcast-build setup (three join sub-DAGs each with their own exchange + broadcast fit), not scan or shuffle volume. The data-proportional share (~0.39 s per sf0.1 of corpus) is the honest per-byte cost a cluster would parallelize; the fixed share amortizes to noise at real scale. This is why the funnel tops the sf0.1 suite but grows only 1.9x at 10x data."),
      "q_substring_dedup" -> "the gram shuffle carries (xxhash64, doc, pos) -- 8-byte hashes, never gram text; occurrence counting is a hash agg with partial_count; the dup-gram set equi-joins back on the hash; span merging is a window partitioned by doc_id only.",
      "q_scd2" -> "BOTH windows (lag change-detect, lead/row_number versioning) share ONE (key -> ts, seq) exchange+sort -- the change log never re-shuffles.",
      "q_kmeans" -> "centroids broadcast into the assignment scan (argmax via partial_max_by); the Lloyd update is posexplode -> (cid,pos) hash agg with exact decimal partial_sums -- the corpus shuffles only cluster-sized dim tables.",
      "q_ann_pq" -> "both codebooks and the per-query LUT broadcast; the corpus appears only as (id, m, code) rows; the ADC score is a decimal partial_sum hash agg keyed (q_id, id) -- no vector math against the corpus at query time.",
      "q_bpe_encode" -> ("the merge fold is a codegen'd per-row aggregate lambda chain -- pure projection, no shuffle before the per-source fertility agg (partial_count/partial_sum map-side).\n\n" +
        "**Cost decomposition (r13, fixed vs data-proportional).** Two independent fits agree the fixed share is the merge-table FIT, the proportional share the per-row fold: (a) in-memory soak, verbatim-copy control (bpe_encode_cv in BENCH_FULL's soak blocks; constant vocab, constant word lengths): 1.36 s at 1x, 12.07 s at 10x, 35.72 s at 30x => t ~= 0.17 + 1.19*n -- the 30x prediction 35.9 s lands within 0.5% of the measurement, so the encode path is cleanly LINEAR in rows once the fit is paid (fixed ~0.17 s = merge-table learn on the vocab-sized distinct-word table + stage setup). (b) file-level scale step (BENCH_SF1.json): 2.30 s at sf0.1, 8.07 s at sf1 => t ~= 1.66 + 0.64*(data in sf0.1 units); the larger fixed share is expected -- this variant learns its merges from the corpus it encodes, and the learn loop's cost tracks VOCAB size (bounded), not corpus size, so it reads as fixed in a corpus-scale fit. Both fits say the same thing: at real scale the learn is amortized noise and the operator is a pure linear projection.\n\n**Learn-time-vs-merges curve (r14, deep-table regime).** Measured warm (one 8-merge warmup first), local[32], min over one run per point -- the BpeSpec 256-merge parity corpus (400 syllable-pair words, skewed counts) and the sf0.001 documents table (closed vocab, saturates at 105 merges):\n\n| merges | syllable batched(64) | syllable sequential | natural batched(64) | natural sequential |\n|---|---|---|---|---|\n| 8 | 1.8 s | 1.7 s | 0.8 s | 0.8 s |\n| 32 | 5.0 | 4.8 | 2.5 | 3.0 |\n| 64 | -- | -- | 4.8 | 5.6 |\n| 105 (exhaustion) | -- | -- | 9.1 | 8.7 |\n| 128 | 18.3 | 15.4 | -- | -- |\n| 256 | 31.6 | 26.6 | -- | -- |\n\nReading: cost is linear in PASSES (~0.1 s fixed job cost per pass on a vocab-sized table), and batching buys exactly as many passes as `disjointPrefix` can prove safe. On the natural corpus the mid-table regime commits multi-merge batches (32 merges: 2.5 vs 3.0 s; 64: 4.8 vs 5.6) and the tail degenerates (sparse counts -> tie classes and produced-symbol conflicts shrink batches to ~1, converging on sequential). The syllable corpus is the adversarial bound: every pair shares a syllable symbol with its neighbors, so batches degenerate immediately and batched ~= sequential all the way down -- parity-exact throughout (BpeSpec \"realistic 256-merge table\"). The cold-JVM reading of the same 256-merge batched run is ~2x the warm one (60.9 vs 31.6 s): the folded k-merge projection codegen-compiles a deep expression per pass, a fixed per-pass JIT cost that dominates at toy vocab and amortizes to noise at production vocab (the same fixed-vs-proportional split as the two-fit decomposition above)."),
      "q_tpch_q7" -> "nation-pair predicate pre-joined into BOTH dims, so the two broadcast probes drop non-qualifying fact rows at join time; lineitem~orders is the only shuffle, on l_orderkey.",
      "q_tpch_q21" -> "the EXISTS / NOT-EXISTS pair is ONE per-order aggregate (n_supp, n_late distinct counts) joined back on the orderkey the rows already shuffle on -- no double self-join of lineitem; supplier+nation broadcast; top-10 via TakeOrderedAndProject heaps.",
      "q_kmv_overlap" -> "partial_graft_kmv combines the sketch map-side (<= k longs per source per partition cross the wire, never the token stream); all 190 pair estimates are array arithmetic on the 20-row sketch table.",
      "q_auc" -> "one corpus scan into the (arm, value) histogram; every Window is arm-partitioned over the domain-sized grid (the pooled cumulative is recovered by summing per-arm cumulatives); the only nested loop is the one-row grand-total broadcast.",
      "q_quantile_norm" -> "the rank->value lookup is an equi-join on the width-64 bin key (SortMergeJoin/BroadcastHashJoin on bin, range predicate post-filters); nested loops are only the bounded domain-grid crosses.",
      "q_attribution" -> "the 7-day lookback inequality join never forms: ONE (user -> ts, kind, id) exchange+sort carries the running last-touch struct; the channel rollup is a 3-row hash agg.",
      "q_movers" -> "ZERO Window nodes: both periods rank through GroupRank's range-repartition + offset stamp behind the RDD boundary; the rank join shuffles customer-sized tables; top-20 via TakeOrderedAndProject heaps.",
      "q_rollup" -> "grouping sets canonical shape: ONE Expand (3 replicas) -> partial hash agg -> a single hashpartitioning exchange -> final agg. Pinned after the r7 driver bench showed a 17x outlier vs the committed run: nothing in this plan can be data-sized beyond the one shuffle, so any such number is environment (GC/contention), not plan.",
      "q_rfm" -> "all three r/f/m quintiles rank through ONE ntileMany pass: dims stacked as (dim, value, custkey) rows, a single rangepartitioning exchange behind the RDD boundary (was 3 chained ntile calls = 3 range shuffles in r7), pivoted back by a hash agg.",
      "q_kcore" -> "pinned after the r8 driver run showed 7.35 s vs 0.94 s committed (7.8x) while the suite-wide driver/committed ratio was ~1.1x: the per-round body is two node-keyed hash joins + one hash agg over the LOCALCHECKPOINTED edge set (Scan ExistingRDD below — lineage cut each round, the 335 s -> 8 s fix documented in Graph.scala), so per-round work is edge-count-sized with NO stage that can grow across rounds. Any driver number far above the committed one is environment (GC/eviction pressure from the cache-heavy alphabetical neighbors), not plan — the shape below is the whole story.",
      "q_kneser_ney" -> "pinned with q_kcore (r8 driver 7.72 s vs 1.09 s committed, same ~7x envelope): ALL four KN count families (continuation, left-context, midword, bigram) aggregate off ONE shuffled bigram table — the plan has exactly one corpus-sized exchange on the bigram key, then vocab-sized joins; nothing re-scans the corpus. A driver outlier on this shape is environment, not plan.",
      "q_mmr" -> "fused r9 shape: candidate generation (broadcast brute-force topK + one window) feeds ONE flatMapGroups greedy over q_id — k=10 selection rounds run as a local loop per group (<= nCand rows), replacing r8's k sequential jobs with 10 localCheckpoints. No Scan ExistingRDD: nothing checkpoints.",
      "q_chunk_text" -> "stateless projection + Generate (explode) straight off the scan; the ONLY exchange is the output sort's range partition — the same plan runs as a streaming query (StreamingSpec).",
      "q_vocab_coverage" -> "vocab ranks via GroupRank's two-pass RDD rank (Scan ExistingRDD below) — NO Window node anywhere; coverage is one conditional hash agg.",
      "q_source_overlap" -> "distinct (source, gram-hash) pairs self-join on the 8-byte hash; per-source size tables come back as BroadcastHashJoins — gram text never shuffles.",
      "q_rbo" -> "LSH and brute-force rankings join per (query, doc); the 10-row exact-decimal weight dim expands depths via a broadcast nested-loop over a CONSTANT side — no cartesian product.",
      "q_bootstrap_ci" -> "pinned as the most expensive committed query (~3 s): the B=200 replicate fan-out is ONE explode(sequence) pass (deliberately 200x data, no per-replicate scans, no driver resample); Poisson draws are the fused native graft_md5_60 inside whole-stage codegen; the tp() rebalance after the single-row-group scan is the documented 27 s -> 2 s fix — per-(arm, rep) decimal partial_sums combine map-side before the one exchange, and the quantile window ranks the 200x|arms|-row replicate table, never event rows.",
      "q_bfs" -> "3 bounded hops: each hop is a frontier-sized equi-join on src + LEFT ANTI against visited, localCheckpointed per hop (Scan ExistingRDD below — lineage O(1), the k-core 335 s -> 8 s lesson); the bigram edge list builds from ONE corpus scan and the final rollup is a hops-sized hash agg. Per-hop work is frontier-sized; nothing grows with hop count.",
      "q_basket_pairs" -> "pair generation never self-joins: pairs expand IN-ROW from each order's sorted item set (transform x slice over the array — bounded by basket^2, zero extra shuffle); support is a (i,j) hash agg with partial_count; lift joins the item-count dim twice and the one-row order total broadcasts; top-30 exits through TakeOrderedAndProject heaps.",
      "q_recursive_cte" -> "Spark 4 UnionLoop: the seed (rn=1 per customer) and each recursion step join the FRONTIER with the ranked order table on (custkey, rn+1) — per-step work is frontier-sized and the rn <= 8 bound caps the loop; the base `ord` window rides one custkey exchange. Cost is 8 bounded frontier joins, never a corpus re-scan per step.",
      "q_ppl_filter" -> "the perplexity band cuts come from the round(6)-QUANTIZED surprisal HISTOGRAM (domain-sized, boundedGlobal cumulative), never a global sort of docs; the 1-row cut table and the scalar total broadcast back; keep/drop is one conditional agg per source. Cost is the bigram-surprisal scan itself (vocab joins on the bigram key).",
      "q_cluster_sizes" -> "the full near-dup chain on purpose (LSH banded candidates -> verify -> connected components -> two vocab-sized rollups): candidate pairs come from the (band, bhash) equi-join — never all-pairs; CC label propagation localCheckpoints per round (Scan ExistingRDD below), so the size histogram is component-table-sized. The chain, not any single shuffle, is the cost.",
      "q_semdedup_recall" -> "the EXACT truth side is a deliberate bounded O(n^2): ids < 200 — 19.9k pairs, constant at any corpus scale (the acceptance metric, not the scale path); the guarded cell assignment broadcasts centroids, and recall is two id-keyed joins + one conditional agg. The unbounded path is q_semdedup's cell-bounded join; this query only grades it.",
      "q_wasserstein" -> "every window (per-arm cumulative, pair-partitioned lead) runs over the domain-sized 2-dp value grid, never the events scan; the events table crosses the wire once, as a (arm, value) histogram.",
      "q_rouge" -> "gram-count tables join the bounded pair table on id FIRST, then pair sides meet on (pair, gram) — work is linear in the pair report; no cartesian, no data-sized broadcast.",
      "q_fold_novelty" -> "grams shuffle as md5-60bit longs (8 bytes, never text); the train-set join is a plain hash equi-join (SortMergeJoin/ShuffledHashJoin at scale) — no broadcast of the corpus-sized gram set.",
      "q_bleu" -> "rougePairs' scaffold: pair report and tokenized pair-member docs each materialize ONCE (Scan ExistingRDD), all four gram orders explode from the same token arrays; keyed equi-joins only, work linear in the pair report.",
      "q_silhouette" -> "centroids broadcast (k rows) into one corpus scan; the top-2 window partitions on the VECTOR id — millions of tiny k-row partitions, never a global sort.",
      "q_tpch_q2" -> "min-cost supplier WITHOUT a window: per-part minima aggregate once off the derived partsupp (partial_min before the exchange), then join back on exact-double cost; supplier/nation/region and the part filter all broadcast. The static plan below shows the partsupp-derivation subtree TWICE (both join sides); at runtime AQE stage reuse collapses them — executed-plan check: 1 ReusedExchange/ReusedQueryStage node, so the distinct-agg shuffle runs once.",
      "q_tpch_q9" -> "profit rollup: the part name filter broadcast-prunes lineitem BEFORE the single fact-sized shuffle to partsupp on the (partkey, suppkey) composite key; supplier/nation broadcast; profit is a decimal-exact partial_sum (order-independent).",
      "q_tpch_q11" -> "value share: per-part values AND the grand total come from ONE decimal aggregation pass over the derived partsupp (the threshold never re-sums rounded doubles); the scalar threshold broadcasts back over the per-part rollup. The static plan duplicates the partsupp subtree under the scalar and per-part branches; AQE stage reuse collapses it at runtime (executed-plan check: 1 ReusedExchange node).",
      "q_tpch_q16" -> "supplier-relationship count: part attributes broadcast into the partsupp scan; the NOT-IN supplier exclusion is a broadcast LEFT ANTI on a null-free key; the only fact-sized exchange is the (brand, type, size) distinct-agg shuffle.",
      "q_tpch_q20" -> "potential part promotion: the correlated per-(part, supplier) SUM is one date-pruned lineitem aggregate (predicate pushed to the scan) joined to partsupp on the composite key; the supplier answer comes off a LEFT SEMI probe — no EXISTS re-execution per row.",
      "q_rand_index" -> "external clustering validation: centroids broadcast into the one assignment scan (the q_kmeans argmax shape); the cells × sources contingency table localCheckpoints ONCE (AQE declined cross-branch exchange reuse — without it the corpus-scanning subtree executed 3x, once per pair-sum aggregation; with it the final plan touches zero parquet), and the three scalar pair-sums are hash aggs over that ≤ cells·sources table meeting in broadcast cross joins.",
      "q_readability" -> "pure projection: counts, syllable fold, and the Flesch tree all ride one whole-stage-codegen'd scan — zero exchanges at any scale; ReadSchema prunes to (doc_id, text).",
      "q_chrf" -> "the rougePairs scaffold shape: pair report and pair-member token arrays materialize ONCE (Scan ExistingRDD), all four char-gram orders substring the same space-stripped strings; keyed equi-joins only, work linear in Σ pair-member chars — never corpus-sized.",
      "q_data_mix" -> "the corpus crosses the wire once as a (source, token-count) partial-agg, localCheckpointed because FOUR consumers read it (rank window, total, both again inside the star row) — the final plan touches zero parquet (Scan ExistingRDD below); everything downstream is broadcast arithmetic over the SOURCE-sized table.",
      "q_hill_tail" -> "vocab-sized hash agg then TakeOrderedAndProject(101), localCheckpointed because the head feeds both the numerator rows and the c_{k+1} tail row — the top-k never global-sorts and the corpus-scanning subtree runs once; the Hill fold is 101 rows crossed with the broadcast 1-row tail.",
      "q_conformal" -> "the q_percentile_disc shape: events shuffle ONCE as a (arm, value) histogram; the cumulative window and the rank test run per-arm over distinct values, and the output is arm-sized — no per-group sort of raw rows.",
      "q_good_turing" -> "the corpus collapses bigram-vocab-sized then count-of-counts-sized, and the COC table localCheckpoints ONCE (it feeds its own shifted self, the TakeOrdered 20-row head, and the total) — the final plan reads zero parquet; everything after the two hash aggs is 20-row arithmetic.",
      "q_pass_at_k" -> "one map-side-combined hash agg over the events scan (n and c partial-aggregate together), then the telescoped ten-factor product is a pure projection on the task-sized result — no join, no window, nothing data-sized after the agg.",
      "q_bradley_terry" -> "pair discovery is ONE events shuffle into the domain-sized CDF grid (the U-test accumulator reused as the doubled win counts); the ten MM iterations then run FUSED in one task over the k²-row pair table (Preference.btFused — the q_mmr fused-greedy pattern): one job, no per-iteration broadcast stages. Measured 7.3 s → ~2.0 s at sf0.1 vs the unrolled engine-side twin, which is kept as the PreferenceSpec parity reference (and whose unchecked lineage triples per step — 3^10 hung analysis outright). Nothing data-sized after the first agg.",
      "q_distinct_n" -> "two vocab-sized hash aggs (unigram + bigram families) off one tokenize scan each; the diversity ratios are pure projections on source-sized results — at 100 TB the only data-sized work is the two explode→count passes, both map-side combined.",
      "q_paired_bootstrap" -> "the B=200 explode over per-item integer deltas is THE data-sized stage (the q_bootstrap_ci shape: rebalanced scan so the 200x fan-out never pins to one input split, fused native md5 for the 20M draws at sf0.1); the replicate aggregation is map-side combined into B groups, and every downstream op is B-sized. All-integer deltas — no decimal column anywhere.",
      "q_log_odds" -> "one tokenize scan feeds the prior and both per-source counts as vocab-sized hash aggs; the z-score projection runs on the joined vocab table (broadcast one-row totals), and the top-20 head is TakeOrderedAndProject — no global sort, nothing data-sized after the explode→count passes.")
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      sb.append(s"\n## $n\n\n${notes(n)}\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(8000))
      sb.append("\n```\n")
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
