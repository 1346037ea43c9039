package graft.operators

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.functions.NativeExpressions.md5Prefix60

/** Near-duplicate detection for LLM training-data pipelines.
  *
  * Scale shape: every method is (1) one scan computing a fixed-width
  * signature per doc, (2) a self-join restricted to small candidate
  * buckets (LSH bands / simhash chunks), (3) an exact verify on the
  * candidates only. The full n² cross-product never materializes; the
  * candidate join shuffles on band keys, so skewed bands are handled by
  * AQE skew-join splitting. All column math is built-in functions — no
  * UDFs.
  *
  * IMPORTANT evaluation-shape rule (learned the hard way): an
  * expression captured inside a higher-order-function lambda is
  * re-evaluated PER ARRAY ELEMENT. Token/shingle/hash arrays are
  * therefore staged through separate projections so every lambda
  * captures a cheap attribute, never a subtree — otherwise shingling
  * degenerates to O(tokens²) regex splits per row (observed: 600+ s
  * for 50 rows interpreted, vs milliseconds staged).
  */
object Dedup {

  // -------------------------------------------------------------- shingles

  /** (id, sh): distinct word n-gram shingles, space-joined, staged so
    * the token array is an attribute inside the shingling lambda.
    * Matches the oracle's list_transform construction token for token. */
  def shingleDf(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.NativeExpressions
        .wordNGrams(col(textCol), n, distinct = true).as("sh"))

  /** Exact Jaccard between two pre-distinct shingle arrays — integer
    * set-size division, bit-identical across engines. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  // -------------------------------------------------------------- minhash

  /** (id, sig): MinHash signature (array<long> length numHashes) via
    * the one-pass codegen'd native expression (hash-identical to
    * HofReference.signatureDfHof, asserted in NativeExprSpec). */
  def signatureDf(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, numHashes: Int = 64,
                  seed: Long = 0x5EED): DataFrame =
    shingleDf(docs, idCol, textCol, shingleN)
      .select(col("id"),
        graft.functions.NativeExpressions.minHashSig(col("sh"), numHashes, seed).as("sig"))

  /** MinHash-LSH near-dup pairs, exact-Jaccard verified: LSH proposes,
    * a shingle-set join over ONLY the candidates confirms. At jaccard
    * ≥ 0.8 with 16 bands × 4 rows the per-pair miss probability is
    * (1 − 0.8⁴)¹⁶ ≈ 2.6e-4, and ≈ 4e-8 at the 0.9+ the planted dups
    * sit at — effectively exact. */
  def minHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      theta: Double = 0.8, shingleN: Int = 3,
                      numHashes: Int = 64, bands: Int = 16,
                      maxBucket: Int = Int.MaxValue): DataFrame =
    minHashPlan(docs, idCol, textCol, theta, shingleN, numHashes, bands,
      maxBucket)._1

  /** OWNED cache lifetime for [[minHashNearDups]] (the loan pattern):
    * builds the pair plan, hands it to `consume`, and unpersists the
    * shingle table on exit — no cached blocks outlive the call. This is
    * the long-lived-session entry point; the plain DataFrame variant
    * leaves its cache to the session (acceptable in a
    * run-query-then-exit job, a leak in a notebook loop). DedupSpec
    * asserts the zero-blocks postcondition. */
  def withMinHashNearDups[A](docs: DataFrame, idCol: String, textCol: String,
                             theta: Double = 0.8, shingleN: Int = 3,
                             numHashes: Int = 64, bands: Int = 16,
                             maxBucket: Int = Int.MaxValue)
                            (consume: DataFrame => A): A = {
    val (pairs, owned) = minHashPlan(docs, idCol, textCol, theta, shingleN,
      numHashes, bands, maxBucket)
    try consume(pairs) finally owned.foreach(_.unpersist(blocking = true))
  }

  private def minHashPlan(docs: DataFrame, idCol: String, textCol: String,
                          theta: Double, shingleN: Int,
                          numHashes: Int, bands: Int,
                          maxBucket: Int = Int.MaxValue): (DataFrame, Seq[DataFrame]) = {
    // One plan uses the shingle table three times (banding + both
    // verify sides); without a persist each use re-tokenizes and
    // re-shingles the corpus. MEMORY_AND_DISK is the scale posture
    // too: a 100 TB pipeline materializes shingles/signatures once
    // and spills rather than recomputing the scan per use.
    // Empty-shingle docs (fewer than shingleN tokens) are excluded up
    // front: set Jaccard is undefined on an empty set — keeping them
    // would pair every empty doc with every other via the constant
    // empty-input MinHash signature and then divide 0/0 in the verify
    // (found by the adversarial-corpus gate). The oracle replay applies
    // the same `len(tk) >= n` exclusion.
    // r19: persist BELOW the empty-set filter. Filtering the projected
    // column first lets Catalyst substitute the expression and push
    // `size(graft_ngrams(text)) > 0` through the rebalance exchange
    // into the parquet scan — the corpus is then shingled TWICE, once
    // serialized on the raw scan's few splits (measured at sf1: a 3 s
    // 2-task stage). The cache boundary keeps the single ngram pass at
    // full post-rebalance parallelism; the filter evaluates size(sh)
    // on cached rows.
    val sh0 = shingleDf(docs, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = sh0.filter(size(col("sh")) > 0)
    val rowsPerBand = numHashes / bands
    def bandsOf(shingles: DataFrame): DataFrame = shingles
      .select(col("id"),
        graft.functions.NativeExpressions.minHashSig(col("sh"), numHashes, 0x5EED).as("sig"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * lit(rowsPerBand) + 1,
            lit(rowsPerBand))))).as(Seq("band", "bhash")))
    // r19: on the exhaustive path, banding, the candidate join and the
    // verify run over one representative per distinct shingle set
    // (ContentGroups). Verbatim duplicates land in the same bucket in
    // all 16 bands and square the bucket self-join — the r14 sf3 fit's
    // 0.059·n² term is exactly this. The capped (maxBucket) path keeps
    // the per-member bucket semantics below, untouched.
    if (maxBucket == Int.MaxValue) {
      val mem = ContentGroups.members(
          sh.select(col("id"), array_sort(col("sh")).as("sh")), "sh")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val reps = ContentGroups.reps(mem)
      val banded = bandsOf(reps)
      val repCands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("sa"), col("b.id").as("sb"))
        .distinct()
      // verify on rep pairs only — same SHUFFLE_HASH posture as below
      val repPairs = reps.select(col("id").as("sa"), col("sh").as("sh_a"))
        .join(repCands.hint("shuffle_hash"), "sa")
        .join(reps.select(col("id").as("sb"), col("sh").as("sh_b"))
          .hint("shuffle_hash"), "sb")
        .select(col("sa"), col("sb"), jaccard(col("sh_a"), col("sh_b")).as("jac"))
        .filter(col("jac") >= theta)
      val out = ContentGroups.pairs(mem, "sh", repPairs, directed = false)(
        (a, b) => Seq(jaccard(a, b).as("jac")), col("jac") >= theta)
      return (out, Seq(sh0, mem))
    }
    val banded = bandsOf(sh)
    // Opt-in candidate-pair budget (default OFF = Int.MaxValue, so the
    // exhaustive semantics and every oracle replay are untouched). The
    // r14 sf3 scale fit isolated a genuine 0.059·n² term on the
    // adversarially-replicated corpus: verbatim replicas land in the
    // same (band, bhash) buckets and within-bucket pairs SQUARE. That
    // is legitimate work when asked for, but a 100 TB pipeline needs
    // the loud-degrade option the pair-scoring metrics already have
    // (pairScaffold's md5-ranked cap): with maxBucket set, each LSH
    // bucket keeps only its maxBucket members with the lowest
    // md5(band|bhash|id) — a content-keyed, replay-stable subsample
    // that varies per bucket, so no doc is systematically dropped from
    // every bucket — capping per-bucket pair work at maxBucket². Recall
    // on capped buckets degrades LOUDLY, never silently: rows_dropped /
    // buckets_capped ride the frame as `graft_minhash_bucket_cap`
    // observe metrics (QueryExecutionListener-visible, DedupSpec reads
    // them via observedMetrics). The rank window shuffles on the same
    // (band, bhash) keys the candidate join shuffles on, so the capped
    // path adds a per-bucket sort, not a new exchange pattern.
    val capped =
      if (maxBucket == Int.MaxValue) banded
      else {
        val byBucket = Window.partitionBy(col("band"), col("bhash"))
          .orderBy(md5(concat_ws("|", col("band"), col("bhash"), col("id"))))
        banded.withColumn("_r", row_number().over(byBucket))
          .observe("graft_minhash_bucket_cap",
            sum(when(col("_r") > maxBucket, 1L).otherwise(0L)).as("rows_dropped"),
            sum(when(col("_r") <= maxBucket, 1L).otherwise(0L)).as("rows_kept"),
            sum(when(col("_r") === maxBucket + 1, 1L).otherwise(0L))
              .as("buckets_capped"))
          .filter(col("_r") <= maxBucket).drop("_r")
      }
    val pairs = capped.as("a").join(capped.as("b"),
      col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    // r19 (guide §3.1, §2.5): pin the verify to SHUFFLE-HASH joins. The
    // planner's estimate for the cached shingle table is the raw
    // parquet scan size (tiny next to the exploded arrays), so it
    // broadcast the corpus-sized shingle ARRAYS to both verify sides
    // and streamed the candidate list — whose post-distinct partitions
    // AQE had coalesced by their tiny BYTE size (2 at sf1, the per-row
    // array_intersect work being invisible to byte-based coalescing) —
    // serializing every jaccard onto 2 tasks (measured: 7.9 s wall /
    // 12.2 s task time on q_dedup_minhash's final stage). Shuffling on
    // i then j is also the only shape that exists at 100 TB (the
    // shingle table cannot broadcast); the exchanges are sized by the
    // big shingle side, so the verify fans out with the corpus. Pair
    // set identical — strategy hints only.
    val verified = sh.select(col("id").as("i"), col("sh").as("sh_i"))
      .join(pairs.hint("shuffle_hash"), "i")
      .join(sh.select(col("id").as("j"), col("sh").as("sh_j"))
        .hint("shuffle_hash"), "j")
      .select(col("i"), col("j"), jaccard(col("sh_i"), col("sh_j")).as("jac"))
      .filter(col("jac") >= theta)
    (verified, Seq(sh0))
  }

  /** Directional shingle containment |A∩B| / |A| ≥ minContainment —
    * the quote / subset-document detector (a doc wholly contained in a
    * larger one has containment ≈ 1 toward the container even when
    * Jaccard is low). Candidates come from a per-shingle equi-join
    * (shuffle on the shingle, never doc×doc); the pair count and the
    * per-doc set size are integers, so the single division is
    * bit-identical across engines. Output is directional: (i, j) and
    * (j, i) are distinct rows with different denominators. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3,
                       minContainment: Double = 0.5,
                       maxGramDf: Int = Int.MaxValue): DataFrame =
    containmentPlan(docs, idCol, textCol, shingleN, minContainment,
      maxGramDf)._1

  /** OWNED cache lifetime for [[containmentPairs]] — same loan contract
    * as [[withMinHashNearDups]] (the plan persists the shingle table
    * and, on the exhaustive path, the narrow set-group map). */
  def withContainmentPairs[A](docs: DataFrame, idCol: String, textCol: String,
                              shingleN: Int = 3, minContainment: Double = 0.5,
                              maxGramDf: Int = Int.MaxValue)
                             (consume: DataFrame => A): A = {
    val (pairs, owned) = containmentPlan(docs, idCol, textCol, shingleN,
      minContainment, maxGramDf)
    try consume(pairs) finally owned.foreach(_.unpersist(blocking = true))
  }

  private def containmentPlan(docs: DataFrame, idCol: String, textCol: String,
                              shingleN: Int, minContainment: Double,
                              maxGramDf: Int = Int.MaxValue)
      : (DataFrame, Seq[DataFrame]) = {
    // persist BELOW the empty-set filter — same pushdown rationale as
    // minHashPlan (the pushed filter would shingle the corpus twice,
    // once serialized on the raw scan splits)
    val sh0 = shingleDf(docs, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = sh0.filter(size(col("sh")) > 0) // empty sets excluded
    val sizes = sh.select(col("id").as("i"), size(col("sh")).as("size_i"))
    val ex0 = sh.select(col("id"), explode(col("sh")).as("g"))
    // Opt-in per-gram document-frequency budget (default OFF =
    // Int.MaxValue — exhaustive semantics and every oracle replay
    // untouched). The cost of the self-join below is Σ_g df(g)², and on
    // a corpus with duplicated content both the df term and the output
    // pair report SQUARE (the r15 sf1 sweep measured a 979× pair
    // blow-up, 512 → 501,200, on 10× rows). With maxGramDf set, each
    // gram keeps only its maxGramDf posting-list members with the
    // lowest md5(g|id) — the same content-keyed, replay-stable
    // subsample as minHashPlan's maxBucket, varying per gram so no doc
    // is systematically dropped from every posting list — capping
    // per-gram join fan-out at maxGramDf². Capping the posting list can
    // only UNDERCOUNT `shared`, so capped containment is a lower bound
    // and recall degrades LOUDLY, never silently: rows_dropped /
    // rows_kept / grams_capped ride the frame as
    // `graft_containment_cap` observe metrics (DedupSpec reads them via
    // observedMetrics). The rank window shuffles on the same gram key
    // the candidate join shuffles on — a per-gram sort, not a new
    // exchange pattern.
    if (maxGramDf != Int.MaxValue) {
      val byGram = Window.partitionBy(col("g"))
        .orderBy(md5(concat_ws("|", col("g"), col("id"))))
      val ex = ex0.withColumn("_r", row_number().over(byGram))
        .observe("graft_containment_cap",
          sum(when(col("_r") > maxGramDf, 1L).otherwise(0L)).as("rows_dropped"),
          sum(when(col("_r") <= maxGramDf, 1L).otherwise(0L)).as("rows_kept"),
          sum(when(col("_r") === maxGramDf + 1, 1L).otherwise(0L))
            .as("grams_capped"))
        .filter(col("_r") <= maxGramDf).drop("_r")
      val out = ex.as("a").join(ex.as("b"),
          col("a.g") === col("b.g") && col("a.id") =!= col("b.id"))
        .groupBy(col("a.id").as("i"), col("b.id").as("j"))
        .agg(count(lit(1)).as("shared"))
        .join(sizes, "i")
        .select(col("i"), col("j"), col("shared"),
          (col("shared").cast("double") / col("size_i").cast("double"))
            .as("containment"))
        .filter(col("containment") >= minContainment)
      return (out, Seq(sh0))
    }
    // Exhaustive path, r19: the gram self-join runs over one
    // representative per distinct shingle set (ContentGroups). On a
    // corpus with verbatim duplicates its input (Σ_g df²) and the
    // pre-filter pair count square in the copy count (measured at sf1:
    // 279 M join rows → 227 M distinct (i, j) pairs, of which 0.22%
    // survive the threshold). Containment is directed, so the member
    // expansion keeps both orders.
    val mem = ContentGroups.members(
        sh.select(col("id"), array_sort(col("sh")).as("sh")), "sh")
      // consumed by reps + both expansions; a lazy persist (not a
      // checkpoint) so the loan variant can release it
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = ContentGroups.reps(mem)
    val rsizes = reps.select(col("id").as("sa"), size(col("sh")).as("size_i"))
    val rex = reps.select(col("id"), explode(col("sh")).as("g"))
    // stream-and-shuffle both sides on the gram: the planner's estimate
    // for the exploded cached side is the raw scan size, so it would
    // broadcast a corpus-sized gram table (measured in the sf1 plan) —
    // impossible at 100 TB; SHUFFLE_HASH is the scale shape and AQE
    // skew-splitting still applies (the minHashPlan verify rationale).
    val repPairs = rex.as("a").hint("shuffle_hash")
      .join(rex.as("b").hint("shuffle_hash"),
        col("a.g") === col("b.g") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("sa"), col("b.id").as("sb"))
      .agg(count(lit(1)).as("shared"))
      .join(rsizes, "sa")
      .select(col("sa"), col("sb"), col("shared"),
        (col("shared").cast("double") / col("size_i").cast("double"))
          .as("containment"))
      .filter(col("containment") >= minContainment)
    def shared(a: Column, b: Column): Column =
      size(array_intersect(a, b)).cast("long")
    val out = ContentGroups.pairs(mem, "sh", repPairs, directed = true)(
      (a, b) => Seq(shared(a, b).as("shared"),
        (shared(a, b).cast("double") / size(a).cast("double"))
          .as("containment")),
      col("containment") >= minContainment)
    (out, Seq(sh0, mem))
  }

  /** MinHash ESTIMATE accuracy over a bounded id range: all pairs with
    * (a) the estimated Jaccard = fraction of agreeing signature
    * positions — the number a production pipeline thresholds on when
    * it skips the exact verify — and (b) the exact shingle Jaccard.
    * Integer ratios on both, so the comparison is oracle-exact. The
    * signature here is the md5-prefix variant (min over shingles of
    * md5-60bit(i + ":" + shingle) per position), reproducible in
    * external SQL — same construction trade as fingerprintMd5Df. */
  def minHashEstimatePairs(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, numHashes: Int = 16,
                           maxId: Long = 40L): DataFrame = {
    val sh = shingleDf(docs.filter(col(idCol) < maxId), idCol, textCol, shingleN)
      .filter(size(col("sh")) > 0) // mirror the oracle's len(tk) >= n
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = sh.select(col("id"), col("sh"),
      transform(sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(col("sh"), s =>
          md5Prefix60(concat(i.cast("string"), lit(":"), s))))).as("sig"))
    sig.select(col("id").as("i"), col("sh").as("sh_i"), col("sig").as("sig_i"))
      .join(sig.select(col("id").as("j"), col("sh").as("sh_j"), col("sig").as("sig_j")),
        col("i") < col("j"))
      .select(col("i"), col("j"),
        (aggregate(zip_with(col("sig_i"), col("sig_j"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / lit(numHashes.toDouble)).as("est_jaccard"),
        jaccard(col("sh_i"), col("sh_j")).as("jaccard"))
  }

  /** All-pairs exact n-gram Jaccard over a bounded id range — the
    * verify-pass primitive, oracle-checkable. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, maxId: Long): DataFrame = {
    val sh = shingleDf(docs.filter(col(idCol) < maxId), idCol, textCol, shingleN)
      .filter(size(col("sh")) > 0) // mirror the oracle's len(tk) >= n
    sh.select(col("id").as("i"), col("sh").as("sh_i")).join(
      sh.select(col("id").as("j"), col("sh").as("sh_j")),
      col("i") < col("j"))
      .select(col("i"), col("j"), jaccard(col("sh_i"), col("sh_j")).as("jac"))
  }

  /** Incremental (cross-batch) near-dup detection — the production
    * shape: an `incoming` batch is checked against the already-ingested
    * `existing` corpus AND against itself, without re-pairing existing
    * docs with each other (their pairs were found when THEY were
    * ingested). Output pairs always have the redundant doc on `j`
    * (j ∈ incoming); keep the novel subset with an anti-join on j.
    * At scale `existing`'s shingles/signatures would be read from the
    * materialized signature table rather than recomputed — the join
    * shape is identical. */
  def incrementalNearDups(existing: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String,
                          theta: Double = 0.8, shingleN: Int = 3,
                          numHashes: Int = 64, bands: Int = 16): DataFrame =
    incrementalPlan(existing, incoming, idCol, textCol, theta, shingleN,
      numHashes, bands)._1

  /** OWNED cache lifetime for [[incrementalNearDups]] — same loan
    * contract as [[withMinHashNearDups]]: the shingle cache cannot
    * outlive the call. The shape a streaming ingest loop needs (one
    * batch per call, no block accumulation across batches). */
  def withIncrementalNearDups[A](existing: DataFrame, incoming: DataFrame,
                                 idCol: String, textCol: String,
                                 theta: Double = 0.8, shingleN: Int = 3,
                                 numHashes: Int = 64, bands: Int = 16)
                                (consume: DataFrame => A): A = {
    val (pairs, sh) = incrementalPlan(existing, incoming, idCol, textCol,
      theta, shingleN, numHashes, bands)
    try consume(pairs) finally sh.unpersist(blocking = true)
  }

  private def incrementalPlan(existing: DataFrame, incoming: DataFrame,
                              idCol: String, textCol: String,
                              theta: Double, shingleN: Int,
                              numHashes: Int, bands: Int): (DataFrame, DataFrame) = {
    val all = existing.select(col(idCol), col(textCol)).withColumn("origin", lit(0))
      .unionByName(incoming.select(col(idCol), col(textCol)).withColumn("origin", lit(1)))
    // r18 (guide §2.4): origin rides the shingle projection directly —
    // the old shingleDf ∘ join(all) shape ran the union's two input
    // scans TWICE (once per join side, PlanAudit: 4 documents scans)
    // and paid an id-keyed exchange, for a column `all` already had.
    // Same shingle expression, so signatures/pairs are unchanged.
    val sh = all
      .select(col(idCol).as("id"), col("origin"),
        graft.functions.NativeExpressions
          .wordNGrams(col(textCol), shingleN, distinct = true).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rowsPerBand = numHashes / bands
    val banded = sh
      .select(col("id"), col("origin"),
        graft.functions.NativeExpressions.minHashSig(col("sh"), numHashes, 0x5EED).as("sig"))
      .select(col("id"), col("origin"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * lit(rowsPerBand) + 1,
            lit(rowsPerBand))))).as(Seq("band", "bhash")))
    val pairs = banded.as("a").join(banded.as("b"),
      col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
        (col("a.origin") < col("b.origin") ||
          (col("a.origin") === 1 && col("b.origin") === 1 &&
            col("a.id") < col("b.id"))))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    // r19: shuffle-hash verify, not a broadcast of the corpus-sized
    // shingle arrays over 2-task coalesced pairs (see minHashPlan)
    val verified = sh.select(col("id").as("i"), col("sh").as("sh_i"))
      .join(pairs.hint("shuffle_hash"), "i")
      .join(sh.select(col("id").as("j"), col("sh").as("sh_j"))
        .hint("shuffle_hash"), "j")
      .select(col("i"), col("j"), jaccard(col("sh_i"), col("sh_j")).as("jac"))
      .filter(col("jac") >= theta)
    (verified, sh)
  }

  // -------------------------------------- content-defined chunking (CDC)

  /** Duplicated variable-size chunks via content-defined chunking: a
    * chunk boundary falls AFTER any token whose hash ≡ 0 (mod
    * avgChunkTokens) — boundaries derive from content, not position, so
    * an insertion early in a doc shifts only the chunk it lands in
    * (fixed-size chunking like q_chunk_dedup re-aligns every later
    * chunk). The gear/Rabin CDC idea from storage dedup, applied at
    * token granularity for corpus paragraph-ish dedup.
    *
    * Token hash is the md5-prefix 60-bit value (Fingerprint's oracle
    * construction) so the boundary choice reproduces in external SQL.
    * One tokenize scan; the chunk index is a per-doc running sum of
    * boundary flags (window by doc — documents are bounded, the
    * partition is one doc's tokens); the shuffle to count duplicates
    * carries chunk HASHES, never chunk text. Returns (chunk_hash,
    * n_occurrences, n_docs) for chunks seen ≥ 2 times. */
  def cdcDupChunks(docs: DataFrame, idCol: String, textCol: String,
                   avgChunkTokens: Int = 8): DataFrame = {
    val tok = docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(lower(col(textCol))).as("tk"))
      .select(col("id"), posexplode(col("tk")).as(Seq("pos", "tok")))
    val h = md5Prefix60(col("tok"))
    val flagged = tok.withColumn("b",
      when(h % avgChunkTokens === 0, lit(1L)).otherwise(lit(0L)))
    // chunk = count of boundaries strictly BEFORE this token
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunked = flagged.withColumn("chunk",
      coalesce(sum(col("b")).over(byDoc), lit(0L)))
    chunked.groupBy(col("id"), col("chunk"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok")), " ")).as("chunk_hash"))
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("id")).as("n_docs"))
      .filter(col("n_occurrences") >= 2)
  }

  /** Exact duplicated-SPAN statistics — the substring-level dedup of
    * Lee et al. (ACL'22, "Deduplicating Training Data Makes Language
    * Models Better"), re-expressed with windowed rolling fingerprints
    * instead of a global suffix array: every w-token window whose
    * fingerprint occurs ≥ 2 times corpus-wide marks its span
    * duplicated; per doc, the merged covered-token count is the
    * "memorized text" budget a span-dedup pass would remove.
    *
    * Scale shape: the shuffle carries (gram-hash, doc, pos) — 8 bytes,
    * never gram text. The gram identity is the md5-PREFIX 60-bit hash
    * (`conv(substring(md5(gram),1,15),16,10)`), the q_fingerprint
    * construction: an external SQL oracle can replay it exactly
    * (`('0x' || substring(md5(g),1,15))::BIGINT`), so grouping parity
    * is PROVABLE — even a hash collision collides identically on both
    * engines, unlike an engine-private xxhash64 whose collision
    * behavior the oracle cannot reproduce. Occurrence counting is a
    * hash agg with map-side combine; the duplicated-gram set joins
    * back on the hash key (broadcast under AQE when the dup set is
    * small — the common case on clean corpora). Span merging is a
    * per-doc window (partitioned by doc id, no global sort). 60-bit
    * fingerprints collide at ~1B distinct grams; at 100 TB, widen to
    * two md5 prefix words for an effective 120-bit fingerprint. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      w: Int): DataFrame = {
    val tk = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("tk"))
    val grams = tk.select(col("doc_id"),
      when(size(col("tk")) >= w,
        transform(sequence(lit(1), size(col("tk")) - lit(w - 1)),
          i => md5Prefix60(concat_ws(" ", slice(col("tk"), i, lit(w))))))
        .otherwise(array().cast("array<long>")).as("gh"))
    // r18 (guide §8 step 1): the fingerprint table feeds the
    // dup-detection agg AND the coverage join — materialize the
    // (doc, pos, 8-byte hash) rows once instead of re-running the
    // tokenize + rolling-gram pass per consumer
    val wins = grams.select(col("doc_id"),
      posexplode(col("gh")).as(Seq("pos", "g")))
      .eagerCheckpoint()
    val dup = wins.groupBy(col("g"))
      .agg(count(lit(1)).as("n_occ")).filter(col("n_occ") >= 2)
      .select(col("g"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = wins.join(dup, "g")
      .withColumn("prev_end", max(col("pos") + lit(w)).over(byDoc))
      .withColumn("contrib", col("pos") + lit(w) -
        greatest(col("pos"), coalesce(col("prev_end"), col("pos"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("n_dup_tokens"),
        count(lit(1)).as("n_dup_windows"))
    tk.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  // -------------------------------------------------------------- simhash

  /** Hamming distance between two packed 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming ≤ maxHamming, found by the
    * Manku multi-block pigeonhole (Manku, Jain & Das Sarma, WWW'07 §3):
    * split 64 bits into b = maxHamming + keyBlocks blocks; at most
    * maxHamming differing bits can touch at most maxHamming blocks, so
    * every pair within the radius agrees on ≥ keyBlocks whole blocks — an equi-join keyed
    * on each of the C(b, 4) 4-block concatenations finds all of them
    * (EXACT, not probabilistic) without an n² compare. The signature
    * is SimHash64Md5 over lowercase whitespace tokens, reproducible in
    * an external SQL oracle, so the pair set can be verified against an
    * all-pairs hamming scan. */
  def simHashNearDupsMd5(docs: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int = 7): DataFrame = {
    // zero-token docs are excluded: the empty token array hashes to
    // the constant all-zero signature, so every empty doc would pair
    // with every other at hamming 0 — contentless "duplicates" the
    // oracle (whose per-token unnest naturally drops empty docs) never
    // sees. Same exclusion rule as minHashPlan.
    val sigs = docs
      // ≥1 whitespace token ⟺ ∃ non-whitespace char — the cheap
      // pushable form: `size(tk) > 0` gets substituted through the
      // projection and re-tokenizes the corpus inside the raw parquet
      // scan (measured at sf1: a 1.2 s 2-task stage)
      .filter(col(textCol).rlike("\\S"))
      .select(col(idCol).as("id"),
        TextAnalysis.tokens(lower(col(textCol))).as("tk"))
      .select(col("id"),
        graft.functions.NativeExpressions.simHash64Md5(col("tk")).as("sig"))
    simHashBlockJoin(sigs, maxHamming)
  }

  /** The Manku WWW'07 multi-block candidate join. The earlier
    * (maxHamming+1)-chunk pigeonhole keyed on single 8-bit chunks — a
    * 256-value domain per chunk, so candidate pairs grew ~n²/2⁸ per
    * chunk: sublinear at 10× the corpus but a cliff at 100×. Keying on
    * CONCATENATIONS of keyBlocks blocks (b = maxHamming + keyBlocks
    * blocks ⇒ ≥ keyBlocks agreeing blocks per in-radius pair) widens
    * the key domain to keyBlocks·⌊64/b⌋ bits while fanning the
    * signature table out C(b, keyBlocks)× — candidates grow ~n²/2^bits,
    * rows linearly; the keyBlocks dial trades one for the other.
    *
    * keyBlocks = 2 (2-of-9, 36 tables, 14-16-bit keys) measured best at
    * benchable scales AND beats the old chunk scheme at both soak
    * points (sf0.1: 1x 1.73→0.71 s, 10x 6.55→3.94 s) with a 2⁶×-smaller
    * quadratic term; 3-of-10 (120 tables, ~19-bit keys) halves the
    * quadratic term again at 2× the fan-out — the right setting from
    * ~10M docs per partition-group up. All settings are EXACT (not
    * probabilistic) by the pigeonhole argument. */
  private def simHashBlockJoin(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val keyBlocks = 2
    val blocks = maxHamming + keyBlocks
    require(blocks <= 64, s"maxHamming $maxHamming too large for 64-bit simhash")
    // r19: the block join runs over one representative per distinct
    // signature (ContentGroups). Verbatim duplicates square the per-key
    // bucket sizes AND are rediscovered once per table before the
    // distinct — measured at sf1: 163 s of task time.
    val mem = ContentGroups.members(sigs, "sig")
      .eagerCheckpoint() // (id, sid, cnt, sig): reps + both expansions
    val keyed = ContentGroups.reps(mem)
      .select(col("id"), col("sig"),
        posexplode(graft.functions.NativeExpressions.simHashBlockKeys(
          col("sig"), blocks, keyBlocks)).as(Seq("tbl", "key")))
    val repPairs = keyed.as("a").join(keyed.as("b"),
      col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("sa"), col("b.id").as("sb"),
        hamming(col("a.sig"), col("b.sig")).as("ham"))
      .filter(col("ham") <= maxHamming)
      .distinct()
    ContentGroups.pairs(mem, "sig", repPairs, directed = false)(
      (a, b) => Seq(hamming(a, b).as("ham")), col("ham") <= maxHamming)
  }
}
