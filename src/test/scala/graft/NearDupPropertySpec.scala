package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink
import org.scalacheck.rng.Seed

import graft.functions.WinnowImpl
import graft.operators.{AnnLsh, Dedup, Fingerprint, SemDedup, TextStats}

/** Family properties of the near-dup operators, checked on small
  * generated corpora that mix verbatim copies, reordered tokens, near
  * variants and tokens holding U+0001:
  *   - order invariance: permuting the input rows and repartitioning
  *     them changes no output row;
  *   - duplicate invariance: replicating every row k times (copy r of
  *     id x gets id x + r·Stride) changes the pair output only by the
  *     member expansion — each pair (x, y) becomes every pair of their
  *     copies with the same scores, and the copies of a doc pair up
  *     with its self-score when that clears the threshold;
  *   - for the pair metrics, report-subset invariance: a pair scores
  *     the same whatever other pairs are scored with it.
  * Few cases with a fixed seed: each case runs Spark plans, and the
  * point is a family-wide check, not a search. */
class NearDupPropertySpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private val Cases = 3
  private val Stride = 1000L

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(Cases).withWorkers(1)
      .withInitialSeed(Seed(0x6EA7L)), p)
    assert(r.passed, r.status.toString)
  }

  // ------------------------------------------------------------ corpora

  private val vocab = Seq("a", "b", "c", "d", "x", "y", "x\u0001y", "a\u0001b")

  /** (id, text): base docs, near variants (one token changed), token
    * reorderings, a separator twin (two tokens fused by U+0001) and
    * verbatim copies, ids in shuffled order. */
  private val textCorpus: Gen[Seq[(Long, String)]] = for {
    nBase <- Gen.choose(4, 6)
    bases <- Gen.listOfN(nBase, Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf(vocab))))
    variants <- Gen.sequence[List[List[String]], List[String]](bases.map { b =>
      if (b.isEmpty) Gen.const(b)
      else for { k <- Gen.choose(0, b.size - 1); t <- Gen.oneOf(vocab) }
        yield b.updated(k, t)
    })
    copies <- Gen.someOf(bases)
    seed <- Gen.long
  } yield {
    val twins = bases.filter(_.size >= 2).take(1)
      .map(b => (b(0) + "\u0001" + b(1)) :: b.drop(2))
    val texts = bases ++ variants ++ bases.take(2).map(_.reverse) ++ twins ++ copies
    new scala.util.Random(seed).shuffle(texts.map(_.mkString(" ")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  private val Dim = 64

  /** (vec_id, embedding): small-integer 64-dim vectors with near
    * variants and exact copies; never the zero vector. */
  private val vecCorpus: Gen[Seq[(Long, Array[Float])]] = {
    val vec = Gen.listOfN(Dim, Gen.choose(-2, 2))
      .map(v => (1 +: v.tail).map(_.toFloat).toArray)
    for {
      bases <- Gen.listOfN(4, vec)
      variants <- Gen.sequence[List[Array[Float]], Array[Float]](bases.map { b =>
        for { k <- Gen.choose(1, Dim - 1); x <- Gen.choose(-2, 2) }
          yield b.updated(k, x.toFloat)
      })
      copies <- Gen.someOf(bases ++ variants)
      seed <- Gen.long
    } yield new scala.util.Random(seed).shuffle(bases ++ variants ++ copies)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
  }

  private def texts(rows: Seq[(Long, String)], parts: Int): DataFrame =
    rows.toDF("doc_id", "text").repartition(parts)
  private def vectors(rows: Seq[(Long, Array[Float])], parts: Int): DataFrame =
    rows.toDF("vec_id", "embedding").repartition(parts)

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  private val permutation = for { seed <- Gen.long; parts <- Gen.choose(1, 4) }
    yield (new scala.util.Random(seed), parts)

  private def tokens(t: String): Seq[String] =
    t.split("[ \t\n\u000B\f\r]+").toSeq.filter(_.nonEmpty)

  // --------------------------------------------------- pair operators

  /** A pair operator under test: its plan, whether its pairs are
    * directed, and the within-group score a doc's copies must carry
    * (None when a doc cannot pair with its own copy). */
  private case class PairOp[A](name: String, corpus: Gen[Seq[(Long, A)]],
                               frame: (Seq[(Long, A)], Int) => DataFrame,
                               run: DataFrame => DataFrame, directed: Boolean,
                               selfScore: A => Option[Seq[Any]])

  private def selfCosine(v: Array[Float]): Double = {
    var dot = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; dot += x * x; i += 1 }
    dot / (math.sqrt(dot) * math.sqrt(dot))
  }

  /** Distinct winnowed fingerprints of `t` at overlapPairs' k = 3,
    * w = 2 below: the `shared` count a doc's copies pair up with. */
  private def fingerprintCount(t: String): Long =
    WinnowImpl.winnow(org.apache.spark.unsafe.types.UTF8String.fromString(t), 3, 2)
      .numElements().toLong

  private val pairOps: Seq[PairOp[_]] = Seq(
    PairOp[String]("minHashNearDups", textCorpus, texts,
      Dedup.minHashNearDups(_, "doc_id", "text", theta = 0.5, shingleN = 1),
      directed = false,
      t => Option.when(tokens(t).nonEmpty)(Seq(1.0))),
    PairOp[String]("containmentPairs", textCorpus, texts,
      Dedup.containmentPairs(_, "doc_id", "text", shingleN = 1, minContainment = 0.5),
      directed = true,
      t => Option.when(tokens(t).nonEmpty)(Seq(tokens(t).distinct.size.toLong, 1.0))),
    PairOp[String]("simHashNearDupsMd5", textCorpus, texts,
      Dedup.simHashNearDupsMd5(_, "doc_id", "text", 7),
      directed = false,
      t => Option.when(tokens(t).nonEmpty)(Seq(0))),
    PairOp[String]("overlapPairs", textCorpus, texts,
      Fingerprint.overlapPairs(_, "doc_id", "text", minShared = 2, k = 3, w = 2),
      directed = false,
      t => Option.when(fingerprintCount(t) >= 2)(Seq(fingerprintCount(t)))),
    PairOp[Array[Float]]("cosineNearDupsExact", vecCorpus, vectors,
      AnnLsh.cosineNearDupsExact(_, "vec_id", "embedding", 0.4),
      directed = false,
      v => Option.when(selfCosine(v) >= 0.4)(Seq(selfCosine(v)))))

  /** Expected output on the k-fold replicated corpus, from the output
    * `out` on the original one. */
  private def expanded[A](op: PairOp[A], corpus: Seq[(Long, A)],
                          out: Seq[Seq[Any]], k: Int): Seq[Seq[Any]] = {
    def id(x: Long, r: Int) = x + r * Stride
    val cross = for {
      row <- out; r <- 0 until k; s <- 0 until k
      (a, b) = (id(row(0).asInstanceOf[Long], r), id(row(1).asInstanceOf[Long], s))
    } yield (if (op.directed) Seq(a, b) else Seq(math.min(a, b), math.max(a, b))) ++
      row.drop(2)
    val within = for {
      (x, content) <- corpus; score <- op.selfScore(content).toSeq
      r <- 0 until k; s <- 0 until k if r != s && (op.directed || r < s)
    } yield Seq(id(x, r), id(x, s)) ++ score
    (cross ++ within).sortBy(_.toString)
  }

  private def replicated[A](corpus: Seq[(Long, A)], k: Int): Seq[(Long, A)] =
    for { r <- 0 until k; (x, c) <- corpus } yield (x + r * Stride, c)

  pairOps.foreach { op0 =>
    val op = op0.asInstanceOf[PairOp[Any]]

    test(s"${op.name}: permuting and repartitioning the input changes no output row") {
      check(forAllNoShrink(op.corpus, permutation) { case (corpus, (rnd, parts)) =>
        val base = rowsOf(op.run(op.frame(corpus, 1)))
        rowsOf(op.run(op.frame(rnd.shuffle(corpus), parts))) == base
      })
    }

    test(s"${op.name}: replicating every row k times only expands the pairs by members") {
      check(forAllNoShrink(op.corpus, Gen.choose(2, 3)) { (corpus, k) =>
        val base = rowsOf(op.run(op.frame(corpus, 2)))
        rowsOf(op.run(op.frame(replicated(corpus, k), 2))) ==
          expanded(op, corpus, base, k)
      })
    }
  }

  // ------------------------------------------------------- rougePairs

  private def allPairs(corpus: Seq[(Long, String)]): Seq[(Long, Long)] =
    for { (i, _) <- corpus; (j, _) <- corpus if i < j } yield (i, j)

  private def rouge(corpus: Seq[(Long, String)], pairs: Seq[(Long, Long)],
                    parts: Int): Seq[Seq[Any]] =
    rowsOf(TextStats.rougePairs(texts(corpus, parts),
      pairs.toDF("i", "j").repartition(parts), "doc_id", "text"))

  test("rougePairs: permuting and repartitioning docs and pairs changes no output row") {
    check(forAllNoShrink(textCorpus, permutation) { case (corpus, (rnd, parts)) =>
      val pairs = allPairs(corpus)
      rouge(rnd.shuffle(corpus), rnd.shuffle(pairs), parts) == rouge(corpus, pairs, 1)
    })
  }

  test("rougePairs: scoring a subset of the pairs changes none of their rows") {
    check(forAllNoShrink(textCorpus, Gen.long) { (corpus, seed) =>
      val pairs = allPairs(corpus)
      val some = new scala.util.Random(seed).shuffle(pairs).take(pairs.size / 3)
      val kept = some.toSet
      rouge(corpus, some, 2) == rouge(corpus, pairs, 2).filter(row =>
        kept((row(0).asInstanceOf[Long], row(1).asInstanceOf[Long])))
    })
  }

  test("rougePairs: replicated docs and pairs score exactly as their originals") {
    check(forAllNoShrink(textCorpus, Gen.choose(2, 3)) { (corpus, k) =>
      val base = rouge(corpus, allPairs(corpus), 2)
      val copyPairs = for {
        (i, j) <- allPairs(corpus); r <- 0 until k; s <- 0 until k
      } yield (i + r * Stride, j + s * Stride)
      val expected = (for {
        row <- base; r <- 0 until k; s <- 0 until k
      } yield Seq(row(0).asInstanceOf[Long] + r * Stride,
        row(1).asInstanceOf[Long] + s * Stride) ++ row.drop(2)).sortBy(_.toString)
      rouge(replicated(corpus, k), copyPairs, 2) == expected
    })
  }

  // -------------------------------------------------------- SemDedup

  test("SemDedup.kept: permuting and repartitioning the input changes no kept row") {
    def kept(df: DataFrame) = rowsOf(SemDedup.kept(df, "vec_id", "embedding",
      nlist = 4, theta = 0.4, maxCell = 3, subBits = 2))
    check(forAllNoShrink(vecCorpus, permutation) { case (corpus, (rnd, parts)) =>
      kept(vectors(rnd.shuffle(corpus), parts)) == kept(vectors(corpus, 1))
    })
  }
}
