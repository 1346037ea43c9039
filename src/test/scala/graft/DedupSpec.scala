package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Fingerprint}

class DedupSpec extends SparkSpec {

  lazy val docs = table("documents")

  /** A 400-token document (id 1), a copy of it with one middle token
    * replaced (id 2) and a document sharing no token with either
    * (id 3): a near-dup pair planted here, not picked from the corpus. */
  lazy val planted = {
    import SparkSpec.spark.implicits._
    val doc = (1 to 400).map(i => s"tok$i")
    Seq(1L -> doc, 2L -> doc.updated(200, "edited"),
        3L -> (1 to 400).map(i => s"other$i"))
      .map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash-LSH finds exactly the exact-jaccard near-dup pairs") {
    val lsh = Dedup.minHashNearDups(docs, "doc_id", "text", theta = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, Long.MaxValue)
      .filter(col("jac") >= 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh === exact)
  }

  test("simhash: identical text → hamming 0; near-dups beat random pairs") {
    import SparkSpec.spark.implicits._
    val twice = Seq((1L, "the same text exactly"), (2L, "the same text exactly"))
      .toDF("doc_id", "text")
    val ts = NativeExprSpec.simHashSigs(twice)
      .select("sig").collect().map(_.getLong(0))
    assert(ts(0) === ts(1))

    val sigs = NativeExprSpec.simHashSigs(planted)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(i: Long, j: Long) = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
    assert(ham(1L, 2L) < ham(1L, 3L))
    assert(ham(1L, 2L) < ham(2L, 3L))
    // the operator flags the one-token edit, and only it
    assert(pairSet(Dedup.simHashNearDupsMd5(planted, "doc_id", "text", 7)) ===
      Set((1L, 2L)))
  }

  test("duplicated spans: coverage invariants, full-dup and no-dup extremes") {
    import SparkSpec.spark.implicits._
    val w = 3
    val dup = "a b c d e f"              // 6 tokens, ≥ w, duplicated
    val uniq1 = "p q r s t u"            // unique grams
    val uniq2 = "v w1 x y z zz"
    val short = "s1 s2"                  // < w tokens: no windows
    val df = Seq((1L, dup), (2L, dup), (3L, uniq1), (4L, uniq2), (5L, short))
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(df, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // exact duplicates: every token covered, all windows duplicated
    assert(out(1L) === ((6L, 6L, 4L)) && out(2L) === ((6L, 6L, 4L)))
    // unique docs and sub-window docs: zero coverage, still present
    assert(out(3L) === ((6L, 0L, 0L)))
    assert(out(4L) === ((6L, 0L, 0L)))
    assert(out(5L) === ((2L, 0L, 0L)))
    // invariant on the real corpus: 0 ≤ n_dup_tokens ≤ n_tokens, and
    // coverage is nonzero exactly when some window is duplicated
    val corpus = Dedup.duplicatedSpans(docs, "doc_id", "text", 10).collect()
    assert(corpus.forall { r =>
      val (n, d, wn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      d >= 0 && d <= n && ((d > 0) == (wn > 0))
    })
    assert(corpus.exists(_.getLong(2) > 0), "planted near-dups should share spans")
  }

  test("pigeonhole candidate join finds every pair within the radius") {
    // ground truth: all-pairs hamming over collected signatures
    // (docs without a token are excluded by the operator: they all
    // share the all-zero signature)
    val sigs = NativeExprSpec.simHashSigs(docs.filter(col("text").rlike("\\S")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (i, si) <- sigs; (j, sj) <- sigs
      if i < j && java.lang.Long.bitCount(si ^ sj) <= 7
    } yield (i, j)).toSet
    assert(truth.nonEmpty)
    assert(pairSet(Dedup.simHashNearDupsMd5(docs, "doc_id", "text", 7)) === truth)
  }

  test("winnowing fingerprint overlap flags copied text") {
    // the one-token edit shares every fingerprint away from the edit;
    // the unrelated document shares none
    assert(pairSet(Fingerprint.overlapPairs(planted, "doc_id", "text",
      minShared = 10)) === Set((1L, 2L)))
  }

  test("winnow selects a sparse subset of kgram hashes") {
    val row = Fingerprint.fingerprintMd5Df(docs, "doc_id", "text").head()
    val nFps = row.getSeq[Long](1).size
    assert(nFps > 0)
    val textLen = docs.filter(col("doc_id") === row.getLong(0))
      .select(length(col("text"))).head().getInt(0)
    assert(nFps < textLen) // density ~2/(w+1), far below 1 per position
  }

  test("containment: a doc fully inside a larger one scores 1.0 toward it") {
    import SparkSpec.spark.implicits._
    val small = "alpha beta gamma delta epsilon"
    val big = small + " zeta eta theta iota kappa lambda mu nu xi"
    val d = Seq((1L, small), (2L, big), (3L, "unrelated words entirely here now"))
      .toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(d, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // every 3-shingle of doc 1 appears in doc 2
    assert(rows((1L, 2L)) === 1.0)
    // direction matters: doc 2 has many shingles doc 1 lacks
    assert(!rows.contains((2L, 1L)) || rows((2L, 1L)) < 1.0)
    assert(!rows.exists { case ((i, j), _) => i == 3L || j == 3L })
  }

  test("containment gram-df budget trips loudly on a replicated corpus") {
    import SparkSpec.spark.implicits._
    // 40 verbatim replicas: every shingle's posting list carries all 40
    // docs, so the per-gram self-join fans out 40² per gram — the r15
    // sf1 sweep's Σ df² blow-up shape
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val nGrams = text.split(" ").length - 2 // distinct 3-shingles per doc
    val replicated = (0L until 40L).map(i => (i, text)).toDF("doc_id", "text")
    val cap = 8
    // threshold 0.0 on the capped path: the cap keeps a DIFFERENT
    // md5-ranked 8-subset per gram, so a given pair co-survives only a
    // few posting lists and its (lower-bound) containment lands far
    // below 0.5 — the capped report is observed unthresholded here
    val capped = Dedup.containmentPairs(replicated, "doc_id", "text",
      3, 0.0, maxGramDf = cap)
    val rows = capped.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // loud degrade: observe metrics report exactly what was skipped —
    // nGrams posting lists × (40 − 8) rows dropped, every gram capped
    val m = capped.queryExecution.observedMetrics("graft_containment_cap")
    assert(m.getAs[Long]("grams_capped") === nGrams.toLong)
    assert(m.getAs[Long]("rows_dropped") === nGrams.toLong * 32L)
    assert(m.getAs[Long]("rows_kept") === nGrams.toLong * 8L)
    // capped containment is a LOWER bound (posting-list members only
    // undercount `shared`; the uncapped score here is 1.0), and
    // directional pair work is bounded by the budget fan-out, not the
    // replica count
    assert(rows.values.forall(c => c > 0.0 && c <= 1.0))
    assert(rows.size <= nGrams * cap * (cap - 1))
    assert(rows.nonEmpty)
    // replay-stable (md5-ranked keep set)
    val again = Dedup.containmentPairs(replicated, "doc_id", "text",
      3, 0.0, maxGramDf = cap).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(again === rows)
    // default OFF: uncapped call scores every directed replica pair at
    // 1.0 and carries no metrics node
    val full = Dedup.containmentPairs(replicated, "doc_id", "text", 3, 0.5)
    assert(full.count() === 40L * 39L)
    assert(!full.queryExecution.observedMetrics.contains("graft_containment_cap"))
    // real corpus, budget far above any honest posting list: output
    // unchanged vs the exhaustive plan
    val cappedReal = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5,
      maxGramDf = 1 << 20)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ref = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedReal === ref)
  }

  test("loan variants leave no cached blocks after consumption") {
    val sc = spark.sparkContext
    def cachedIds = sc.getPersistentRDDs.keySet
    // start clean: earlier tests' plain-variant caches share CacheManager
    // entries with identical plans, and the loan's unpersist would drop
    // the SHARED entry — making before/after deltas unreadable
    spark.catalog.clearCache()
    val before = cachedIds

    val n1 = Dedup.withMinHashNearDups(docs, "doc_id", "text", theta = 0.8)(_.count())
    assert(n1 > 0)
    assert(cachedIds === before, "withMinHashNearDups leaked cached blocks")

    val half = docs.filter(col("doc_id") % 2 === 0)
    val other = docs.filter(col("doc_id") % 2 === 1)
    Dedup.withIncrementalNearDups(half, other, "doc_id", "text")(_.count())
    assert(cachedIds === before, "withIncrementalNearDups leaked cached blocks")

    def containmentRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val few = docs.filter(col("doc_id") < 50)
    val loanedC = Dedup.withContainmentPairs(few, "doc_id", "text")(containmentRows)
    assert(cachedIds === before, "withContainmentPairs leaked cached blocks")

    // and the loaned results match the plain variants' rows
    val loaned = Dedup.withMinHashNearDups(docs, "doc_id", "text", theta = 0.8)(
      _.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val plain = Dedup.minHashNearDups(docs, "doc_id", "text", theta = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loaned === plain)
    assert(loanedC === containmentRows(Dedup.containmentPairs(few, "doc_id", "text")))
    spark.catalog.clearCache() // drop the plain variant's session cache
  }

  test("a token holding U+0001 is not the two tokens it separates") {
    import SparkSpec.spark.implicits._
    // "x\u0001y" is ONE token (the tokenizer splits on ASCII whitespace
    // only), so the unigram sets {x\u0001y} and {x, y} share nothing —
    // yet joined with a U+0001 separator they spell the same string
    val d = Seq((1L, "x\u0001y"), (2L, "x y")).toDF("doc_id", "text")
    val minhash = Dedup.minHashNearDups(d, "doc_id", "text", theta = 0.8,
      shingleN = 1).collect().toSeq
    val containment = Dedup.containmentPairs(d, "doc_id", "text", shingleN = 1,
      minContainment = 0.5).collect().toSeq
    assert(minhash.isEmpty && containment.isEmpty,
      s"minhash: $minhash, containment: $containment")
  }

  test("leakage-safe split: no near-dup edge straddles folds; doc-keyed folds do") {
    // ONE pair plan, referenced twice: the minhash-LSH candidate join
    // is the most expensive plan in the suite
    val edgesDf = Dedup.minHashNearDups(docs, "doc_id", "text", theta = 0.8)
      .select(col("i"), col("j"))
    val edges = edgesDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "testdata should contain planted near-dups")
    val clusterFold = operators.Sampling.kFold(
        operators.DedupCluster.components(docs, "doc_id", edgesDf),
        "cluster_id", 5)
      .select("id", "fold").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the invariant the operator exists for: both ends of every
    // verified near-dup edge land in the SAME fold
    val straddling = edges.filter { case (i, j) =>
      clusterFold(i) != clusterFold(j) }
    assert(straddling.isEmpty,
      s"near-dup pairs split across folds: ${straddling.take(5).mkString(", ")}")
    assert(clusterFold.values.toSet.size === 5, "all five folds populated")
    // and the naive doc-keyed fold (row 124) DOES leak on this corpus —
    // each edge straddles with prob 4/5 under an id-keyed hash, so the
    // planted dup set is expected to surface leaks; this is the gap the
    // cluster-keyed split closes
    val docFold = operators.Sampling.kFold(docs, "doc_id", 5)
      .select("doc_id", "fold").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(edges.exists { case (i, j) => docFold(i) != docFold(j) },
      "doc-keyed folds unexpectedly leak-free — test corpus too small?")
  }

  test("rendezvous sharding: k->k+1 moves ~1/(k+1) of keys, hash-mod moves ~k/(k+1)") {
    val s10 = operators.Sampling.rendezvousShard(docs, "doc_id", 10)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val s11 = operators.Sampling.rendezvousShard(docs, "doc_id", 11)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val n = s10.size.toDouble
    assert(n > 0)
    // every doc that moves must move TO the new shard (10): HRW only
    // reassigns keys the added shard now wins — the minimal-movement
    // property itself, not just its magnitude
    val moved = s10.keys.filter(k => s10(k) != s11(k)).toSeq
    assert(moved.forall(k => s11(k) == 10),
      "a key moved between PRE-EXISTING shards on reshard")
    // magnitude ≈ 1/11 ≈ 0.091 (md5 is uniform; wide tolerance for a
    // small corpus)
    val frac = moved.size / n
    assert(frac > 0.03 && frac < 0.18, s"HRW movement $frac not ≈ 1/11")
    // the baseline it replaces: hash-mod reshard moves ~10/11 ≈ 0.91
    val modMoved = s10.keys.count(k => k % 10 != k % 11) / n
    assert(modMoved > 0.8, s"mod movement $modMoved should be ~10/11")
  }

  test("md5 simhash chunk join equals all-pairs ground truth") {
    val sigs = Dedup.simHashNearDupsMd5(docs, "doc_id", "text", 7)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = docs.select(col("doc_id"),
        graft.functions.NativeExpressions.simHash64Md5(
          graft.functions.TextAnalysis.tokens(lower(col("text")))).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (i, si) <- all; (j, sj) <- all
      if i < j && java.lang.Long.bitCount(si ^ sj) <= 7
    } yield (i, j)).toSet
    assert(sigs === truth)
  }

  test("minhash bucket budget trips loudly on a verbatim-replicated corpus") {
    import SparkSpec.spark.implicits._
    // 40 verbatim replicas of one doc: every replica lands in the same
    // (band, bhash) bucket in all 16 bands — the r14 sf3 fit's n² shape
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val replicated = (0L until 40L).map(i => (i, text)).toDF("doc_id", "text")
    val cap = 8
    val capped = Dedup.minHashNearDups(replicated, "doc_id", "text",
      theta = 0.8, maxBucket = cap)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // loud degrade: observe metrics report exactly what was skipped —
    // 16 bands × 1 bucket × (40 − 8) rows dropped, 16 buckets capped
    val m = capped.queryExecution.observedMetrics("graft_minhash_bucket_cap")
    assert(m.getAs[Long]("buckets_capped") === 16L)
    assert(m.getAs[Long]("rows_dropped") === 16L * 32L)
    assert(m.getAs[Long]("rows_kept") === 16L * 8L)
    // pair work bounded by the budget, not the replica count…
    assert(pairs.size <= 16 * cap * (cap - 1) / 2)
    assert(pairs.nonEmpty)
    // …and the budget is replay-stable (md5-ranked keep set)
    val again = Dedup.minHashNearDups(replicated, "doc_id", "text",
      theta = 0.8, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === pairs)
    // default OFF: uncapped call finds all C(40,2) pairs, no metrics node
    val full = Dedup.minHashNearDups(replicated, "doc_id", "text", theta = 0.8)
    assert(full.count() === 40L * 39L / 2)
    assert(!full.queryExecution.observedMetrics.contains("graft_minhash_bucket_cap"))
    // real corpus, budget far above any honest bucket: output unchanged
    val lsh = Dedup.minHashNearDups(docs, "doc_id", "text", theta = 0.8,
      maxBucket = 1 << 20)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ref = Dedup.minHashNearDups(docs, "doc_id", "text", theta = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === ref)
  }
}
