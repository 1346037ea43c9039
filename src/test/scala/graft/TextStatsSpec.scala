package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.TextStats

/** TextStats (entropy / surprisal / PMI) + the round-3 SQL-surface
  * queries (lateral, recursive CTE, exact cosine pairs). */
class TextStatsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("charEntropy: uniform and single-symbol hand cases") {
    val df = Seq((1L, "ab"), (2L, "aaaa"), (3L, "aabb"), (4L, "abcd"))
      .toDF("doc_id", "text")
    val m = TextStats.charEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) === 1.0)     // two symbols, equal counts
    assert(m(2L) === 0.0)     // one symbol
    assert(m(3L) === 1.0)     // 2+2
    assert(m(4L) === 2.0)     // four distinct
  }

  test("charEntropy ignores nothing: n = text length (ascii corpus)") {
    val docs = table("documents").limit(50)
    val n = TextStats.charEntropy(docs, "doc_id", "text").count()
    assert(n === 50)
  }

  test("unigramSurprisal: uniform vocab gives log2(V) for every doc") {
    // 4 docs, each one distinct token once -> p = 1/4, surprisal = 2 bits
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "cc"), (4L, "dd"))
      .toDF("doc_id", "text")
    val rows = TextStats.unigramSurprisal(df, "doc_id", "text").collect()
    assert(rows.length === 4)
    rows.foreach(r => assert(r.getDouble(1) === 2.0))
  }

  test("unigramSurprisal: rarer tokens score higher") {
    val df = Seq((1L, "x x x x x x x x"), (2L, "rare words here"))
      .toDF("doc_id", "text")
    val m = TextStats.unigramSurprisal(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(2L) > m(1L))
  }

  test("pmiPairs: planted collocation tops the ranking") {
    // "ping pong" always adjacent; fillers unique per doc, so no other
    // pair reaches minCount
    val docs = (0 until 40).map(i =>
      s"ping pong a$i b$i c$i d$i")
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val top = TextStats.pmiPairs(df, "text", minCount = 5, k = 5).collect()
    assert(top.nonEmpty)
    assert(top.head.getString(0) === "ping pong")
    assert(top.head.getLong(1) === 40L)
  }

  test("q_cosine_pairs: every pair verified >= 0.4 by the HOF reference, and complete") {
    val e = Tables.load(spark, sf, "embeddings").filter(col("vec_id") < 300)
    val got = SparkEntry.queries("q_cosine_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = e.select(col("vec_id").as("i"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("j"), col("embedding").as("eb"))
    val want = a.join(b, col("i") < col("j"))
      .filter(HofReference.cosineHof(col("ea"), col("eb")) >= 0.4)
      .select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("q_recursive_cte: chain agrees with the window formulation") {
    val rec = SparkEntry.queries("q_recursive_cte")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    // flat (non-iterative) reference: first 8 orders per customer
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val flat = table("orders").filter(col("o_custkey") < 300)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 8)
      .groupBy(col("o_custkey"))
      .agg(max(col("rn")).cast("int").as("chain_len"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(rec === flat)
  }

  test("q_lateral: exactly the window top-2 per nation") {
    val lat = SparkEntry.queries("q_lateral")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
    val want = table("customer").withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .join(table("nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(lat === want)
  }

  test("q_cluster_sizes: histogram mass equals corpus size") {
    val rows = SparkEntry.queries("q_cluster_sizes")(spark, sf).collect()
    val mass = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(mass === table("documents").count())
    // at least one non-singleton cluster exists in the planted corpus
    assert(rows.exists(r => r.getLong(0) >= 2))
  }

  test("klFromCorpus: single stratum has zero divergence from itself") {
    val docs = table("documents").withColumn("one", lit("all"))
    val kl = operators.TextStats.klFromCorpus(docs, "text", "one")
      .head().getDouble(1)
    assert(kl === 0.0)
  }

  test("klFromCorpus: non-negative for every source (Gibbs)") {
    val kls = operators.TextStats.klFromCorpus(table("documents"), "text", "source")
      .collect().map(_.getDouble(1))
    assert(kls.nonEmpty && kls.forall(_ >= 0.0))
  }

  test("zipfFit recovers the slope of an exact power law") {
    import SparkSpec.spark.implicits._
    // plant freq = c·rank^(-2) with integer counts at the dense ranks
    // zipfFit assigns: c = 2^12·9 → (1,36864) (2,9216) (3,4096) (4,2304)
    val c = (1 << 12) * 9
    val docs = Seq((1 to 4).flatMap { rank =>
      Seq.fill(c / (rank * rank))(s"tok$rank")
    }.mkString(" ")).toDF("text")
    val row = operators.TextStats.zipfFit(docs, "text", 10).head()
    assert(row.getLong(0) === 4L)
    assert(math.abs(row.getDouble(1) - (-2.0)) < 1e-6)
    assert(math.abs(row.getDouble(2) - math.log(c) / math.log(2)) < 1e-6)
  }

  test("bigramSurprisal: deterministic text scores zero") {
    import SparkSpec.spark.implicits._
    // every bigram is unique per prefix → p(w2|w1)=1 → surprisal 0
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val s = operators.TextStats.bigramSurprisal(docs, "doc_id", "text")
      .head().getDouble(1)
    assert(s === 0.0)
  }

  test("temperatureMix: reproducible, narrow, budget-shaped") {
    val docs = table("documents")
    val tc = graft.functions.TextAnalysis.tokenCount(col("text"))
    val a = operators.Sampling.temperatureMix(docs, "text", "source", tc, 0.3)
    val b = operators.Sampling.temperatureMix(docs, "text", "source", tc, 0.3)
    val idsA = a.select("doc_id").collect().map(_.getLong(0)).toSet
    val idsB = b.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idsA === idsB && idsA.nonEmpty)
    // near the budget in expectation: loose 2× band, just shape
    val n = docs.count()
    assert(idsA.size > n * 0.1 && idsA.size < n * 0.6)
    // budget 1.0 with α-smoothing keeps under-weighted strata capped
    // at keep-all: every doc survives only if every stratum rate ≥ 1 —
    // not guaranteed — but a 10× budget must keep everything
    val all = operators.Sampling.temperatureMix(docs, "text", "source", tc, 10.0)
    assert(all.count() === n)
  }

  test("rougePairs: identical pair scores 1.0; hand case exact") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"),   // identical pair
      (3L, "a b c d"), (4L, "a b"))       // subset pair
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("i", "j")
    val m = TextStats.rougePairs(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(m((1L, 2L)) === ((1.0, 1.0, 1.0, 1.0)))
    // i="a b c d" (4 uni, 3 bi), j="a b" (2 uni, 1 bi), shared: 2 uni, 1 bi
    val (p, r, f1, f2) = m((3L, 4L))
    assert(p === 0.5 && r === 1.0)
    assert(f1 === 0.666666667)            // 2·ov/(li+lj) = 4/6, round(9)
    assert(f2 === 0.5)                    // 2·1/(3+1)
  }

  test("pair metrics: a pair scores the same whatever else is in the report") {
    // doc 1's single token "x\u0001y" and doc 2's tokens "x", "y" are
    // different sequences that join to one string under a U+0001
    // separator; grouping must not score (2,3) as if it were (1,3)
    val docs = Seq((1L, "x\u0001y"), (2L, "x y"), (3L, "x z"))
      .toDF("doc_id", "text")
    val both = Seq((1L, 3L), (2L, 3L)).toDF("i", "j")
    val alone = Seq((2L, 3L)).toDF("i", "j")
    type Metric = (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      String, String, Int) => org.apache.spark.sql.DataFrame
    val metrics = Seq[(String, Metric)](
      "rouge" -> (TextStats.rougePairs _), "bleu" -> (TextStats.bleuPairs _),
      "chrf" -> (TextStats.chrfPairs _))
    val differing = metrics.flatMap { case (name, metric) =>
      def row23(pairs: org.apache.spark.sql.DataFrame): Row =
        metric(docs, pairs, "doc_id", "text", TextStats.MaxPairReport)
          .filter(col("i") === 2L && col("j") === 3L).head()
      val (b, a) = (row23(both), row23(alone))
      if (b == a) None else Some(s"$name: $b with doc 1 vs $a without")
    }
    assert(differing.isEmpty, differing.mkString("; "))
    // the hand value: "x y" vs "x z" share one of two unigrams each
    val r = TextStats.rougePairs(docs, both, "doc_id", "text")
      .filter(col("i") === 2L).select("rouge1_f").head().getDouble(0)
    assert(r === 0.5)
  }

  test("rougePairs: zero-overlap and degenerate docs score 0.0, never drop") {
    val docs = Seq(
      (1L, "a b"), (2L, "b a"),       // shared unigrams, NO shared bigram
      (3L, "x y"), (4L, "p q"),       // nothing shared at all
      (5L, "w"), (6L, "w"))           // one-token docs: no bigrams exist
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("i", "j")
    val m = TextStats.rougePairs(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(m.size === 3, "every input pair must emit a row")
    assert(m((1L, 2L)) === ((1.0, 1.0, 1.0, 0.0)))  // rouge2_f = 0, not dropped
    assert(m((3L, 4L)) === ((0.0, 0.0, 0.0, 0.0)))
    assert(m((5L, 6L)) === ((1.0, 1.0, 1.0, 0.0)))  // no bigrams: 0/0 -> 0.0
  }

  test("chrfPairs: identical, partial, and empty-doc hand cases through the fused gram pass") {
    // pins the r18 fused multi-order gram path (one explode for orders
    // 1..4): per-order precisions/recalls must match the hand
    // computation, short docs (< n chars) must contribute empty gram
    // sets for the missing orders, and an empty doc must still emit
    // its pair row with all-zero scores (retention contract).
    val docs = Seq(
      (1L, "ab cd"), (2L, "ab cd"),   // identical: P = R = F = 1
      (3L, "ab cd"), (4L, "ab"),      // s="abcd" vs s="ab"
      (5L, ""), (6L, "xyz"))          // empty candidate
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("i", "j")
    val m = TextStats.chrfPairs(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(m.size === 3, "every input pair must emit a row")
    assert(m((1L, 2L)) === ((1.0, 1.0, 1.0)))
    // i: grams 1..4 of "abcd" = 4/3/2/1; j: "ab" = 2/1/0/0
    // ov = 2/1/0/0 -> P = (0.5 + 1/3 + 0 + 0)/4, R = (1 + 1 + 0 + 0)/4
    val (p, r, f) = m((3L, 4L))
    assert(p === 0.208333333 && r === 0.5)
    assert(f === 0.390625)              // 5PR/(4P+R), round(6)
    assert(m((5L, 6L)) === ((0.0, 0.0, 0.0)))
  }

  test("bleuPairs: identical pair scores 0; truncated candidate pays exactly the brevity penalty") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"),  // identical: every term ln(1)=0
      (3L, "a b"), (4L, "a b c d"))      // candidate half the reference
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("i", "j")
    val m = TextStats.bleuPairs(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((1L, 2L)) === 0.0)
    // all smoothed precisions are 1 ((ov+1)/(cn+1) with ov = cn, incl.
    // the empty 3/4-gram orders: (0+1)/(0+1)); only bp = 1 - 4/2 = -1
    assert(m((3L, 4L)) === -1.0)
  }

  test("pair-report cap: deterministic md5 keep set, observed drop count, no-op under budget") {
    val docs = (1L to 6L).map(i => (i, s"tok$i common words here"))
      .toDF("doc_id", "text")
    val allPairs = (for { i <- 1L to 6L; j <- (i + 1) to 6L } yield (i, j))
      .toDF("i", "j") // 15 pairs
    // under budget: cap is a no-op — identical rows to the default path
    val full = TextStats.rougePairs(docs, allPairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq).toMap
    assert(full.size === 15)
    val atBudget = TextStats.rougePairs(docs, allPairs, "doc_id", "text",
      maxPairs = 15).collect()
    assert(atBudget.length === 15, "cap == report size must keep everything")
    // over budget: exactly maxPairs survive, each scoring exactly as in
    // the uncapped run (the cap drops pairs, never perturbs survivors)
    val capped = TextStats.rougePairs(docs, allPairs, "doc_id", "text",
      maxPairs = 4)
    val cr = capped.collect()
    assert(cr.length === 4)
    cr.foreach(r => assert(full((r.getLong(0), r.getLong(1))) === r.toSeq))
    // no-silent-caps: the kept/dropped counts ride the frame's metrics
    val m = capped.queryExecution.observedMetrics("graft_pair_cap")
    assert(m.getAs[Long]("pairs_kept") === 4L)
    assert(m.getAs[Long]("pairs_dropped") === 11L)
    // determinism: the md5-ranked keep set is replay-stable
    val again = TextStats.rougePairs(docs, allPairs, "doc_id", "text",
      maxPairs = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === cr.map(r => (r.getLong(0), r.getLong(1))).toSet)
    // bleuPairs shares the scaffold: same keep set, same metrics name
    val bleu = TextStats.bleuPairs(docs, allPairs, "doc_id", "text",
      maxPairs = 4)
    assert(bleu.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === again)
  }

  test("rougePairs: clipping counts repeated grams at the min") {
    // i repeats "a" 3×, j has it once: clipped unigram credit for "a"
    // is min(3,1) = 1, so ov1 = 1 ("a") + 1 ("b") = 2, not 4
    val docs = Seq((1L, "a a a b"), (2L, "a b z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("i", "j")
    val row = TextStats.rougePairs(docs, pairs, "doc_id", "text").collect()(0)
    assert(row.getDouble(2) === 0.5)          // precision 2/4
    assert(row.getDouble(3) === 0.666666667)  // recall 2/3, round(9)
    assert(row.getDouble(5) === 0.4)          // shared bigram "a b": 2/(3+2)
  }

  test("ngramNovelty: exact train twin zeroes novelty, unique doc maxes it") {
    // pick ids by their actual fold under the content-hash kFold
    val ids = (0L until 60L).toDF("doc_id")
    val foldOf = operators.Sampling.kFold(ids, "doc_id", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val evalIds = (0L until 60L).filter(foldOf(_) == 0L)
    val trainId = (0L until 60L).find(foldOf(_) != 0L).get
    assert(evalIds.size >= 2, "need two fold-0 ids in 0..59")
    val copied = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (evalIds(0), copied),                          // twin in train
      (evalIds(1), "u1 u2 u3 u4 u5 u6 u7"),          // unique grams
      (trainId, copied)).toDF("doc_id", "text")
    val m = TextStats.ngramNovelty(docs, "doc_id", "text", 5, 5, 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(m(evalIds(0)) === ((0L, 0.0)), "every gram seen in train")
    assert(m(evalIds(1))._2 === 1.0, "no gram seen in train")
    assert(!m.contains(trainId), "train docs are not scored")
  }

  test("chrfPairs: identical pair scores 1.0; hand case exact") {
    val docs = Seq((1L, "abab"), (2L, "ab"), (3L, "hello world"),
      (4L, "hello world")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("i", "j")
    val m = TextStats.chrfPairs(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(m((3L, 4L)) === ((1.0, 1.0, 1.0)), "identical pair is perfect")
    // "abab" vs "ab" (space-stripped chars): order 1 ov=2 of ci=4/cj=2;
    // order 2 ov=1 of ci=3/cj=1; orders 3,4 absent in the reference.
    // chrP = (0.5 + 1/3 + 0 + 0)/4, chrR = (1 + 1 + 0 + 0)/4 = 0.5,
    // chrF2 = 5PR/(4P+R) = 0.390625
    val (p, r, f) = m((1L, 2L))
    assert(p === 0.208333333)
    assert(r === 0.5)
    assert(f === 0.390625)
  }

  test("chrfPairs: disjoint alphabets score 0.0; every pair emits a row") {
    val docs = Seq((1L, "aaa"), (2L, "zzz"), (3L, "q"), (4L, "q"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("i", "j")
    val m = TextStats.chrfPairs(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(m.size === 2, "no pair row drops")
    assert(m((1L, 2L)) === 0.0, "zero shared chars")
    // single-char docs: only order 1 exists (P1 = R1 = 1, orders 2..4
    // have zero grams on both sides) -> chrP = chrR = 0.25, F = 0.25 —
    // the documented fixed-4-order convention, not the sacreBLEU
    // present-orders average
    assert(m((3L, 4L)) === 0.25)
  }
}
