package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, NativeExpressions, TextAnalysis, Vectors}
import graft.operators.Dedup

object NativeExprSpec {
  /** (id, sig): the SimHash64Md5 signature over lowercase whitespace
    * tokens that Dedup.simHashNearDupsMd5 joins on. */
  def simHashSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"), NativeExpressions.simHash64Md5(
      TextAnalysis.tokens(lower(col("text")))).as("sig"))
}

class NativeExprSpec extends SparkSpec {
  import NativeExprSpec.simHashSigs

  lazy val docs = table("documents")
  lazy val emb = table("embeddings")

  test("native cosine is value-identical to the HOF composition") {
    val pairs = emb.select(col("vec_id").as("i"), col("embedding").as("va"))
      .join(emb.select(col("vec_id").as("j"), col("embedding").as("vb")),
        col("i") === col("j") - 250)
    val diffs = pairs.select(
      (Vectors.cosine(col("va"), col("vb")) -
        HofReference.cosineHof(col("va"), col("vb"))).as("d"))
      .agg(max(abs(col("d")))).head().getDouble(0)
    assert(diffs === 0.0)
  }

  test("native word n-grams are element-identical to the HOF shingles") {
    for (n <- Seq(2, 3, 5)) {
      val native = Dedup.shingleDf(docs, "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val hof = HofReference.shingleDfHof(docs, "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(native.keySet === hof.keySet)
      native.foreach { case (id, sh) =>
        assert(sh === hof(id), s"n=$n doc $id") } // order AND multiplicity
    }
    // non-distinct path + whitespace-edge handling
    val ss = spark
    import ss.implicits._
    val edge = Seq((1L, "  a  b\tc \n"), (2L, "x"), (3L, ""), (4L, "a a a"))
      .toDF("doc_id", "text")
    val got = edge.select(col("doc_id"),
        NativeExpressions.wordNGrams(col("text"), 2, distinct = false).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) === Seq("a b", "b c"))
    assert(got(2L) === Seq.empty)
    assert(got(3L) === Seq.empty)
    assert(got(4L) === Seq("a a", "a a"))
  }

  test("native minhash signature is hash-identical to the HOF pipeline") {
    val native = Dedup.signatureDf(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = HofReference.signatureDfHof(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet === hof.keySet)
    native.foreach { case (id, sig) => assert(sig === hof(id), s"doc $id") }
  }

  test("native simhash is bit-identical to the HOF pipeline") {
    val native = simHashSigs(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = HofReference.simHashDfHof(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === hof)
  }

  test("simHashBlockKeys: keys match the Scala reference; shared key iff >= keyBlocks agreeing blocks") {
    val (blocks, keyBlocks) = (9, 2)
    def refKeys(sig: Long): Seq[Long] = {
      val base = 64 / blocks; val rem = 64 % blocks
      val sizes = Seq.tabulate(blocks)(i => if (i < rem) base + 1 else base)
      val offsets = sizes.scanLeft(0)(_ + _)
      val bl = Seq.tabulate(blocks)(i =>
        (sig >>> offsets(i)) & ((1L << sizes(i)) - 1L))
      (0 until blocks).combinations(keyBlocks).map(_.foldLeft(0L)((k, i) =>
        (k << sizes(i)) | bl(i))).toSeq
    }
    val sigs = simHashSigs(docs).limit(100)
    val got = sigs.select(col("id"), col("sig"),
        NativeExpressions.simHashBlockKeys(col("sig"), blocks, keyBlocks).as("ks"))
      .collect().map(r => (r.getLong(1), r.getSeq[Long](2)))
    got.foreach { case (sig, ks) => assert(ks === refKeys(sig), f"sig=$sig%016x") }
    // pigeonhole: hamming <= blocks - keyBlocks pairs share >= 1 key
    // at the SAME table index (the join matches on (tbl, key))
    for (Array((s1, k1), (s2, k2)) <- got.take(30).combinations(2)
         if java.lang.Long.bitCount(s1 ^ s2) <= blocks - keyBlocks)
      assert(k1.zip(k2).exists { case (x, y) => x == y }, f"$s1%016x vs $s2%016x")
  }

  test("native hamming equals bit_count(xor)") {
    val sigs = simHashSigs(docs).limit(50)
    val a = sigs.select(col("id").as("i"), col("sig").as("sa"))
    val b = sigs.select(col("id").as("j"), col("sig").as("sb"))
    val joined = a.join(b, col("i") < col("j"))
    val bad = joined.select(
      (NativeExpressions.hamming(col("sa"), col("sb")) -
        bit_count(col("sa").bitwiseXOR(col("sb")))).as("d"))
      .filter(col("d") =!= 0).count()
    assert(bad === 0L)
  }

  test("native hyperplane buckets are bit-identical to the HOF bucketKey") {
    import graft.operators.AnnLsh
    val planes = AnnLsh.md5SignPlanes(tables = 4, numPlanes = 6, dim = 64)
    val native = emb.select(col("vec_id"),
      NativeExpressions.hyperplaneBuckets(
        col("embedding").cast("array<double>"), planes).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = emb.select(col("vec_id"),
      array(planes.map(p => HofReference.bucketKey(col("embedding"), p)): _*).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native === hof)
  }

  test("native winnow is hash-identical to the HOF fingerprint pipeline") {
    import graft.operators.Fingerprint
    val native = Fingerprint.fingerprintMd5Df(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = HofReference.fingerprintDfHof(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet === hof.keySet)
    native.foreach { case (id, fps) => assert(fps === hof(id), s"doc $id") }
  }

  test("expressions run inside whole-stage codegen") {
    // the `*(n)` prefix marks operators fused into a codegen stage
    val plan = emb.select(Vectors.cosine(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.trim.matches("""\*\(\d+\) Project.*graft_cosine.*""")), plan)
  }

  test("graft_nfc composes decomposed input, idempotent, null-safe") {
    import SparkSpec.spark.implicits._
    val composed = "café niño"             // é, ñ precomposed
    val decomposed = "café niño"         // e+◌́, n+◌̃
    val df = Seq(decomposed, composed, "plain ascii", null).toDF("s")
      .select(NativeExpressions.nfc(col("s")).as("n"))
    val out = df.collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(out(0) == composed)            // composition happened
    assert(out(1) == composed)            // already-NFC unchanged
    assert(out(2) == "plain ascii")       // ASCII fast path
    assert(out(3) == null)
    // idempotent + SQL-registered
    GraftFunctions.register(spark)
    val twice = spark.sql(s"SELECT graft_nfc(graft_nfc('$decomposed'))")
      .head().getString(0)
    assert(twice == composed)
  }

  test("SQL registration: graft_* callable from spark.sql") {
    GraftFunctions.register(spark)
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql(
      """SELECT graft_hamming(graft_simhash64_md5(array('a','b')),
        |                     graft_simhash64_md5(array('a','c'))) AS h""".stripMargin)
      .head().getInt(0)
    assert(viaSql >= 0)
    val sig = spark.sql("SELECT graft_simhash64_md5(array('a','b')) AS s")
      .head().getLong(0)
    assert(sig === spark.range(1).select(NativeExpressions.simHash64Md5(
      array(lit("a"), lit("b")))).head().getLong(0))
    val minhash = spark.sql(
      "SELECT graft_minhash(array('x y z'), 8) AS sig").head().getSeq[Long](0)
    assert(minhash.length === 8)
    val ngrams = spark.sql(
      "SELECT graft_ngrams('a b c b c', 2, true) AS g").head().getSeq[String](0)
    assert(ngrams === Seq("a b", "b c", "c b"))
    val cos = spark.sql(
      """SELECT graft_cosine(CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>),
        |                    CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>)) AS c""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val buckets = spark.sql(
      """SELECT vec_id, graft_lsh_buckets(CAST(embedding AS ARRAY<DOUBLE>), 8, 6)
        |  AS ks FROM embeddings WHERE vec_id < 20""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(buckets.size === 20 &&
      buckets.values.forall(ks => ks.length === 8 && ks.forall(k => k >= 0 && k < 64)))
    // the SQL form builds the md5-parity planes of AnnLsh.md5SignPlanes
    val viaApi = emb.filter(col("vec_id") < 20).select(col("vec_id"),
        NativeExpressions.hyperplaneBuckets(col("embedding").cast("array<double>"),
          graft.operators.AnnLsh.md5SignPlanes(8, 6, 64)).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(buckets === viaApi)
    val z = spark.sql("SELECT graft_zorder(3L, 5L, 10) AS z").head().getLong(0)
    assert(z === ((1L << 0) + (1L << 2)) + ((1L << 1) + (1L << 5))) // x bits -> 2b, y bits -> 2b+1
    val m = spark.sql(
      """SELECT graft_md5_60('abc') AS n,
        |  CAST(conv(substring(md5('abc'), 1, 15), 16, 10) AS BIGINT) AS b""".stripMargin)
      .head()
    assert(m.getLong(0) === m.getLong(1))
  }

  test("native zorder equals the static mask-shift expansion") {
    import org.apache.spark.sql.functions._
    val bits = 10
    val df = table("orders").select(
      pmod(col("o_custkey"), lit(1024L)).as("x"),
      pmod(unix_date(col("o_orderdate").cast("date")).cast("long"), lit(1024L)).as("y"))
    val expansion = (0 until bits).map { b =>
      shiftleft(col("x").bitwiseAND(lit(1L << b)), b) +
        shiftleft(col("y").bitwiseAND(lit(1L << b)), b + 1)
    }.reduce(_ + _)
    val mismatches = df.select(
      graft.functions.NativeExpressions.zorder(col("x"), col("y"), bits).as("zn"),
      expansion.as("ze"))
      .filter(col("zn") =!= col("ze")).count()
    assert(mismatches === 0L)
  }

  test("graft_md5_60 whole-stage codegen COMPILES (no interpreted fallback)") {
    // r9 ADVICE: the emitted Java referenced a nested Scala module with
    // no static forwarder; Janino failed and every stage containing
    // graft_md5_60 silently fell back to interpreted projections while
    // value tests stayed green. Disable the silent fallback so a
    // codegen compile failure fails THIS test, and assert the emitted
    // call site resolves to the top-level forwarder object.
    val ss = SparkSpec.spark
    val oldFb = ss.conf.get("spark.sql.codegen.fallback")
    val oldAqe = ss.conf.get("spark.sql.adaptive.enabled")
    ss.conf.set("spark.sql.codegen.fallback", "false")
    // no AQE: the collapsed WSCG plan is then visible at planning time
    // (under AQE the stages live behind leaf QueryStageExec nodes)
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = table("documents")
        .select(NativeExpressions.md5Prefix60(col("text")).as("h"))
        .agg(max(col("h")).as("s")) // max, not sum: 60-bit hashes overflow ANSI long sums
      val wscg = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
      assert(wscg.nonEmpty,
        s"no WholeStageCodegen subtree:\n${df.queryExecution.executedPlan}")
      val gen = wscg.map(_.doCodeGen()._2.body).mkString
      assert(gen.contains("graft.functions.Md5Impl.hash60"))
      assert(df.collect()(0).getLong(0) !== 0L) // executes under no-fallback
    } finally {
      ss.conf.set("spark.sql.codegen.fallback", oldFb)
      ss.conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  test("native md5Prefix60 equals conv(substring(md5(s),1,15),16,10) everywhere") {
    val ss = SparkSpec.spark
    import ss.implicits._
    // corpus strings (incl. any unicode the table carries) + hostile
    // hand-picks: empty, astral, NUL, marker char, long runs
    val hand = Seq("", "a", " ", "😀 astral", "prepost",
      "x" * 10000, "boot:123:45", "  ").toDF("s")
    val corpus = table("documents").select(col("text").as("s"))
    val both = corpus.unionAll(hand)
      .select(NativeExpressions.md5Prefix60(col("s")).as("n"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("b"))
    assert(both.filter(col("n") =!= col("b")).count() === 0L)
    assert(both.filter(col("n") < 0).count() === 0L) // 60 bits: never negative
  }
}
