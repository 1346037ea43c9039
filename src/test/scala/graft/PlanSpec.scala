package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape audits: the properties that decide whether these queries
  * survive a 100 TB scale-up — pushdown reaching the scan, dims
  * broadcast, top-k never global-sorting. Asserting them here keeps a
  * future refactor from silently trading a broadcast join for a 100 TB
  * shuffle. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q_filter_pushdown: filters and projection reach the parquet scan") {
    val p = plan("q_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_shipdate)") ||
      p.contains("GreaterThanOrEqual(l_quantity"), p)
    // column pruning: scan must read only the 5 referenced columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && !read.contains("l_returnflag"), read)
  }

  test("q_join_broadcast and q_star_join broadcast their dims") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
    val star = plan("q_star_join")
    assert(star.contains("BroadcastHashJoin"), star)
  }

  test("top-k queries use TakeOrderedAndProject, never a global Sort") {
    // q_top10_tokens returns its 10 rows materialized: read the plans the
    // build ran, not the local scan it hands back
    val p = executedPlans(SparkEntry.queries("q_top10_tokens")(spark, sf)).mkString("\n")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort [cnt"), p)
    assert(plan("q_sort").contains("TakeOrderedAndProject"))
  }

  test("q1_agg does partial (map-side) aggregation before the shuffle") {
    val p = plan("q1_agg")
    assert(p.contains("partial_"), p)
  }

  test("q_time_window_scan pushes the window predicate to the scan") {
    val p = plan("q_time_window_scan")
    assert(p.contains("PushedFilters") &&
      (p.contains("GreaterThanOrEqual(ts") || p.contains("IsNotNull(ts")), p)
  }

  test("q_semi_join and q_anti_join plan as join types, not subquery loops") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("q_asof_join plans one data shuffle, not a range join") {
    val p = plan("q_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // union + window: exactly one exchange, on the key
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 exchange, plan:\n$p")
  }

  test("q_range_join is an equi-join on bins, never a nested-loop join") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("hash sampling stays a narrow pushed filter (no shuffle before agg)") {
    val df = graft.operators.Sampling.hashSample(table("documents"), "text", "1999")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("scan rebalance keeps pushdown and restores scan-stage parallelism") {
    // sf0.1 lineitem is big enough to trigger the rebalance
    val df = Tables.loadParallel(spark, "/root/testdata/sf0.1", "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_quantity") >= 48)
      .select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Exchange RoundRobinPartitioning"), p)
    // filters still reach the scan THROUGH the repartition
    assert(p.contains("PushedFilters: [IsNotNull("), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_returnflag"), read)
    assert(df.rdd.getNumPartitions > 1)
  }

  test("q_pack_sequences: one data shuffle (window + agg share the shard key)") {
    val p = plan("q_pack_sequences")
    // window partitions by source; the groupBy(source, bin) reuses that
    // partitioning — a second hashpartitioning exchange would mean the
    // rollup re-shuffles what the window pass already clustered
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 hash exchange, plan:\n$p")
  }

  test("q_shuffle_order: prefix via TakeOrderedAndProject, not global sort") {
    val p = plan("q_shuffle_order")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_notin_nullaware plans a null-aware anti join") {
    val p = plan("q_notin_nullaware")
    // trailing `true` on the anti join is isNullAwareAntiJoin
    assert(p.contains("LeftAnti, BuildRight, true"), p)
  }

  test("bucketed tables co-locate a fact join: zero shuffle exchanges") {
    val orders = table("orders")
    val customer = table("customer")
    orders.write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    customer.write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_customer"),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(joined.count() === orders.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_lateral decorrelates: no per-row re-execution, no cartesian") {
    val p = plan("q_lateral")
    assert(!p.contains("CartesianProduct"), p)
    // the ORDER BY/LIMIT subquery becomes a ranked window, not a loop
    assert(p.contains("Window") || p.contains("BroadcastHashJoin"), p)
  }

  test("q_encode_docs: the vocab join back to the corpus broadcasts") {
    val p = plan("q_encode_docs")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_unigram_logprob: corpus-sized side never nested-loops") {
    val p = plan("q_unigram_logprob")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_source_mix: per-stratum thresholds broadcast back, no corpus shuffle") {
    val p = plan("q_source_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_zipf: vocab rank is top-K heaps + 500-row window, never a global sort") {
    val p = plan("q_zipf")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_text_norm: graft_nfc stays in whole-stage codegen, zero exchanges") {
    val p = plan("q_text_norm")
    assert(!p.contains("Exchange"), p)
    assert(p.linesIterator.exists(l =>
      l.trim.matches(""".*\*\(\d+\) Project.*graft_nfc.*""")), p)
  }

  test("q_domains never reads text: pruning drops the wide column") {
    val p = plan("q_domains")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("n_chars") &&
      !read.contains("text"), read)
  }

  test("q_retention: the user-week table is distinct'd before the cohort join") {
    val p = plan("q_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // partial aggregation runs before each exchange (map-side distinct)
    assert(p.contains("partial_"), p)
  }

  test("q_media_shards: payload bytes reduce before the shuffle (length only)") {
    val p = plan("q_media_shards")
    // the window input carries (kind, media_id, n_bytes) — never payload
    assert(!p.contains("payload#"), p)
  }

  test("q_zorder: interleave is a codegen'd projection + top-k heaps") {
    val p = plan("q_zorder")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), p) // never a global sort for the prefix
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("q_expectations: five checks share ONE orders scan") {
    val p = plan("q_expectations")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders.parquet"))
    assert(scans == 1, s"orders scanned $scans times:\n$p")
    assert(p.contains("BroadcastHashJoin"), p) // referential check rides the scan
  }

  test("q_edjoin and q_prefix_join: candidates come from equi-joins, never all-pairs") {
    for (n <- Seq("q_edjoin", "q_prefix_join")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n:\n$p")
    }
  }

  test("q_chi2: marginals come from the cell table — events scanned once") {
    val p = plan("q_chi2")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events.parquet"))
    assert(scans == 1, s"events scanned $scans times:\n$p")
  }

  test("q_scd_apply: the change log collapses before touching the snapshot") {
    val p = plan("q_scd_apply")
    // partial max_by on the delta ahead of its exchange; no cartesian
    assert(p.contains("partial_max_by"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_snapshot_diff: the reconciliation join carries hashes, not payloads") {
    val p = plan("q_snapshot_diff")
    // both join inputs project to (key, md5) before the exchange —
    // priority/status strings never shuffle
    val exIdx = p.indexOf("SortMergeJoin")
    assert(exIdx >= 0 || p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("o_totalprice"), p) // untouched columns pruned
  }

  test("q_pagerank: every iteration joins on src — no cartesian, no nested loop") {
    val p = plan("q_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_dedup_incremental: shingles cached once, candidates from the band bucket join") {
    val p = plan("q_dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the persisted shingle table feeds banding + both verify sides
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q_cohort_ltv: cohort min rolls up map-side; window on the cell table only") {
    val p = plan("q_cohort_ltv")
    assert(p.contains("partial_min"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_percentile_disc: one corpus shuffle into the bounded histogram") {
    val p = plan("q_percentile_disc")
    assert(p.contains("partial_count"), p) // histogram rollup combines map-side
    // scan reads exactly the two referenced columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_returnflag") && read.contains("l_quantity") &&
      !read.contains("l_extendedprice"), read)
  }

  test("q_tpch_q18: the big-order rollup broadcasts back; top-20 via heaps") {
    val p = plan("q_tpch_q18")
    assert(p.contains("partial_sum"), p) // HAVING rollup combines map-side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_rrf_hybrid: both arms prune through GroupTopK, no cartesian") {
    val p = plan("q_rrf_hybrid")
    // the dense arm's broadcast nested loop IS the brute-force oracle
    // baseline (5 query vectors against the corpus — AnnLsh/AnnIvf is
    // the scale path); the windows must only ever rank GroupTopK output
    assert(!p.contains("CartesianProduct"), p)
    val heaps = p.linesIterator.count(_.contains("GroupTopK"))
    assert(heaps >= 2, s"expected both arms on GroupTopK heaps:\n$p")
  }

  test("q_dsir_weights: one conditional count pass; bucket table broadcasts back") {
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count") && p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_gini and q_spearman: per-group rank without a per-group window sort") {
    // the scale-killer shape is Window(partitionBy=3-value key): ~1/3 of
    // the fact table through ONE task. The GroupRank re-plan must show
    // ZERO Window nodes — ranks come from rangepartitioning (distributed
    // sort) + per-partition offset stamps — and no single-partition pass.
    // (the rangepartitioning exchange lives in GroupRank's internal
    // two-pass plan, behind the RDD boundary — asserted in GroupRankSpec)
    for (n <- Seq("q_gini", "q_spearman")) {
      val p = plan(n)
      assert(!p.contains("Window"), s"$n plans a window sort:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$n funnels through one partition:\n$p")
    }
  }

  test("q_curation_funnel: ONE pass — no union of per-stage count branches") {
    // the recompute-×6 shape was a 6-way Union of count() branches each
    // re-deriving the cumulative pipeline; the flags rework must show a
    // single conditional aggregation and ZERO Union nodes
    val p = plan("q_curation_funnel")
    assert(!p.contains("Union"), s"funnel still unions count branches:\n$p")
    assert(p.contains("count(1)") || p.contains("count_if") ||
      p.contains("partial_count"), p)
  }

  test("q_dedup_simhash: Manku block join is an equi-join, never all-pairs") {
    val p = plan("q_dedup_simhash")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // candidate keys come from the fused native expression, and the
    // join matches on (tbl, key)
    assert(p.contains("graft_simhash_block_keys"), p)
  }

  test("q_scd2: both windows ride one exchange and one sort") {
    val p = plan("q_scd2")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 exchange:\n$p")
    assert(p.linesIterator.count(_.contains("Window")) === 2, p)
  }

  test("q_substring_dedup: gram shuffle carries hashes, not gram text") {
    val p = plan("q_substring_dedup")
    // occurrence count aggregates on the md5-prefix 60-bit key (the
    // oracle-replayable gram identity, r8 — since r9 the fused native
    // graft_md5_60 expression) with map-side partial_count; the gram
    // STRING must be hashed before any exchange; no cartesian
    // anywhere; span-merge window is partitioned (per-doc), not global.
    // r18: the fingerprint table is materialized once (localCheckpoint,
    // guide §8 step 1), so the md5 expression lives in the checkpoint-
    // producing job and the FINAL plan scans the materialized
    // (doc_id, pos, g: bigint) rows — either form proves the shuffle
    // carries 8-byte hashes, never gram text
    assert(p.contains("graft_md5_60(") ||
      "Scan ExistingRDD\\[doc_id#\\d+L,pos#\\d+,g#\\d+L\\]".r
        .findFirstIn(p).nonEmpty, p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q_ann_pq: corpus-side scoring is codes + LUT, vectors broadcast only") {
    val p = plan("q_ann_pq")
    // the ADC join must be hash joins against broadcast codebook/LUT,
    // and the final ranking must group-limit, not globally sort
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_kmeans: centroids broadcast; Lloyd update partially aggregates") {
    val p = plan("q_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum") || p.contains("partial_max_by"), p)
  }

  test("q_tpch_q4: EXISTS plans as one LEFT SEMI join, no re-execution") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_tpch_q7/q19: dims broadcast around the shuffled fact") {
    for (n <- Seq("q_tpch_q7", "q_tpch_q19")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n:\n$p")
    }
  }

  test("q_tpch_q21: per-order aggregate rewrite — orderkey exchanges only, no self nested-loop") {
    val p = plan("q_tpch_q21")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // supplier+nation ride broadcasts; the heavy joins stay on l_orderkey
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_kmv_overlap: sketch partial-aggregates map-side; pair math on sketch rows only") {
    val p = plan("q_kmv_overlap")
    // the KMV TypedImperativeAggregate must combine map-side, so each
    // partition ships <= k longs per source, not its token stream
    assert(p.contains("partial_graft_kmv"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_tpch_q15: scalar max broadcasts back — lineitem scanned once") {
    val p = plan("q_tpch_q15")
    // one-row max side must join as a broadcast, not trigger a sort
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans <= 2, s"lineitem scanned $scans times:\n$p")
  }

  test("q_auc: every window is arm-partitioned — no corpus-sized single partition") {
    val p = plan("q_auc")
    // the pooled strictly-below count is recovered as Σ_arms cumlt_a,
    // so no Window may run on an unpartitioned (global) exchange
    val windows = p.linesIterator.filter(_.contains("Window ")).toList
    assert(windows.nonEmpty, p)
    assert(windows.forall(_.contains("windowspecdefinition(arm")),
      s"unpartitioned window in:\n${windows.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_quantile_norm: rank lookup is a binned equi-join, never a nested loop") {
    val p = plan("q_quantile_norm")
    // the rank→value interval lookup must equi-join on the width-64
    // bin key (the range predicate only post-filters); a nested loop
    // on (k BETWEEN lo AND hi) would be the literal range join the
    // oracle runs. The single BroadcastNestedLoopJoin allowed is the
    // one-row grand-total broadcast.
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join [bin") || p.contains("Join [cast(bin"), p)
    // the only nested loops allowed are the explicit bounded crosses
    // (domain grid × 20 sources, one-row grand total) — never an
    // Inner BNLJ carrying the range predicate
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toList
    assert(bnlj.forall(_.contains("Cross")),
      s"range predicate fell into a nested loop:\n${bnlj.mkString("\n")}")
  }

  test("q_rollup: one Expand + partial-agg before a single data exchange") {
    // the canonical grouping-sets shape: Expand (3 replicas: (rf, ls),
    // (rf), ()) feeds a PARTIAL hash aggregate, then exactly one
    // hash-partitioned exchange on the expanded keys, then the final
    // aggregate. Pinned because the r7 driver bench showed a 17×
    // outlier here — the plan itself is two-exchange-free of anything
    // data-sized beyond that single shuffle, so any such number is
    // environment, not plan. (The rollup's Expand tripling the scan's
    // row count BEFORE partial agg is inherent to grouping sets.)
    val p = plan("q_rollup")
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val dataExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("spec_"))
    val allHashExchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(dataExchanges == 1 || allHashExchanges == 1,
      s"expected exactly one data exchange, plan:\n$p")
  }

  test("q_rfm: the three quantile dimensions share ONE range exchange") {
    // ntileMany stacks r/f/m as (dim, value, custkey) rows and ranks
    // them in a single range-repartition — the r7 fusion. Three
    // separate RangePartitionings here would mean the fusion regressed.
    val p = plan("q_rfm")
    val ranges = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(ranges <= 1, s"expected ≤1 range exchange, got $ranges:\n$p")
  }

  test("q_chunk_text: chunking is a pure projection — only the output sort shuffles") {
    // the stated scale claim: windows explode per row with no
    // data-sized shuffle; the single exchange is the deterministic
    // output ordering's range partition
    val p = plan("q_chunk_text")
    val exchanges = p.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1, s"expected ≤1 exchange (the sort), got $exchanges:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_vocab_coverage: ranks come from GroupRank, never a global Window") {
    val p = plan("q_vocab_coverage")
    assert(!p.contains("Window"), s"vocab rank must not plan a Window:\n$p")
  }

  test("q_source_overlap: per-source size tables broadcast back") {
    val p = plan("q_source_overlap")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_bootstrap_ci: fused hash in codegen, map-side partials, no cartesian") {
    val p = plan("q_bootstrap_ci")
    // the B×n Poisson draw rides the native graft_md5_60 expression;
    // replicate sums must combine before the exchange
    assert(p.contains("graft_md5_60("), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_bfs: hops are checkpointed equi-joins — lineage stays O(1)") {
    val p = plan("q_bfs")
    // each hop localCheckpoints (the k-core 335 s -> 8 s lesson): the
    // final plan reads the materialized frontier, not a 3-hop lineage
    assert(p.contains("ExistingRDD"), s"bfs frontier not checkpointed:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_basket_pairs: pairs expand in-row — no self-join, top-30 via heaps") {
    val p = plan("q_basket_pairs")
    // pair generation is transform×slice inside the basket array; the
    // only nested-loop broadcast is the one-row order-total dim
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_rbo: only the 10-row weight dim rides a nested-loop broadcast") {
    // the d >= m depth expansion joins a 10-row weights dim — a
    // BroadcastNestedLoopJoin over a CONSTANT-sized side is the
    // intended plan; a cartesian product would not be
    val p = plan("q_rbo")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_cluster_sizes: candidates from the band join, CC checkpointed") {
    val p = plan("q_cluster_sizes")
    assert(p.contains("ExistingRDD"), s"CC labels not checkpointed:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_recursive_cte: bounded loop, no cartesian") {
    val p = plan("q_recursive_cte")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("every foldable window partition key is a boundedGlobal marker") {
    // BoundedWindow.ensureRuleExcluded disables Spark 4's
    // EliminateWindowPartitions SESSION-WIDE; that is only safe while
    // foldable window partition keys exist solely as boundedGlobal's
    // self-documenting "bounded: <why>" literals. This asserts that
    // invariant over every query's analyzed plan (r9 ADVICE), so a
    // future constant-partitioned window that ISN'T a documented bound
    // fails here instead of silently losing the optimization for user
    // SQL on the shared session.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, sf).queryExecution.analyzed.collect {
          case w: LWindow => w.partitionSpec.filter(_.foldable).collect {
            case e if !String.valueOf(e.eval()).startsWith("bounded: ") =>
              s"$name: foldable window key ${e.eval()}"
          }
        }.flatten
      } catch { case _: Throwable => Nil } // build failures fail their own specs
      finally spark.catalog.clearCache()
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("approx sketches drop into the exact plans: shape never worse, " +
      "error bounded (SURVEY rows 130/136/141)") {
    // SURVEY §2 asserts q_window_users / q_len_deciles / q_mad swap
    // their exact aggregate for the HLL / approx_percentile sketch "on
    // the same plan" at 100 TB. Assert it: build the swapped twin of
    // each EXACT registered plan, check the physical shape is the same
    // or strictly simpler (a sketch must never ADD an exchange — for
    // count_distinct it actually REMOVES the Expand re-shuffle), and
    // bound the sketch error against the exact result.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def nExchanges(df: DataFrame): Int = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    def nJoins(df: DataFrame): Int = df.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.size

    // --- row 130: q_window_users — HLL for exact count_distinct
    val exactWu = SparkEntry.queries("q_window_users")(spark, sf)
    val approxWu = table("events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(approx_count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("n_users"), col("n_events"))
    assert(nExchanges(approxWu) <= nExchanges(exactWu),
      "HLL swap must not add a shuffle (it drops the distinct Expand)")
    assert(nJoins(approxWu) === nJoins(exactWu))
    val exWu = exactWu.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val apWu = approxWu.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(apWu.keySet === exWu.keySet, "same windows either way")
    // default rsd 5%: 3-sigma relative error bound per window
    exWu.foreach { case (w, n) =>
      assert(math.abs(apWu(w) - n) <= math.max(1.0, 0.15 * n),
        s"window $w: exact $n vs HLL ${apWu(w)}")
    }

    // --- row 141: q_mad — approx_percentile for both exact percentiles
    val exactMad = SparkEntry.queries("q_mad")(spark, sf)
    val li = table("lineitem").select(col("l_returnflag"), col("l_quantity"))
    val medA = li.groupBy(col("l_returnflag").as("rf"))
      .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("med"))
    val approxMad = li.join(broadcast(medA), col("l_returnflag") === col("rf"))
      .groupBy(col("l_returnflag"))
      .agg(first(col("med")).as("med"),
        percentile_approx(abs(col("l_quantity") - col("med")), lit(0.5),
          lit(10000)).as("mad"))
      .select(col("l_returnflag"), round(col("med"), 9).as("med"),
        round(col("mad"), 9).as("mad"))
    // identical shape: same exchanges, still one broadcast join, both
    // percentile flavors are TypedImperativeAggregates
    assert(nExchanges(approxMad) === nExchanges(exactMad))
    assert(nJoins(approxMad) === nJoins(exactMad))
    assert(approxMad.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val exM = exactMad.collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val apM = approxMad.collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(apM.keySet === exM.keySet)
    exM.foreach { case (g, (med, mad)) =>
      // exact interpolates between adjacent quarter-exact quantities;
      // the sketch returns an element — off by at most one rank step
      // at this accuracy, so a 5% relative band is generous
      assert(math.abs(apM(g)._1 - med) <= 0.05 * math.max(med, 1.0),
        s"$g med: $med vs ${apM(g)._1}")
      assert(math.abs(apM(g)._2 - mad) <= 0.05 * math.max(mad, 1.0),
        s"$g mad: $mad vs ${apM(g)._2}")
    }

    // --- row 136: q_len_deciles — approx_percentile-derived cutpoints
    // feeding the UNCHANGED assignment + 10-group rollup tail
    val exactLd = SparkEntry.queries("q_len_deciles")(spark, sf)
    val d = table("documents").select(col("doc_id"), col("n_chars"))
    val cutsA = d.agg(percentile_approx(col("n_chars"),
      array((1 to 9).map(i => lit(i / 10.0)): _*), lit(10000)).as("cuts"))
    val approxLd = d.crossJoin(broadcast(cutsA))
      .select(col("n_chars"),
        size(filter(col("cuts"), c => c <= col("n_chars")))
          .cast("long").as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
    assert(nExchanges(approxLd) <= nExchanges(exactLd),
      "sketch cutpoints must not add a shuffle over histogram cutpoints")
    val exL = exactLd.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val apL = approxLd.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tot = exL.values.sum.toDouble
    // decile populations agree up to boundary docs: total variation
    // across the 10 buckets bounded at 10% of the corpus
    val tv = (exL.keySet ++ apL.keySet).toSeq
      .map(k => math.abs(exL.getOrElse(k, 0L) - apL.getOrElse(k, 0L))).sum
    assert(tv / tot <= 0.10, s"decile-population total variation $tv / $tot")
  }
}
