package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.TopK

class TopKTextSpec extends SparkSpec {

  lazy val docs = table("documents")

  test("topKeys == groupBy-count-orderBy-limit") {
    val toks = docs.select(TextAnalysis.tokens(col("text")).as("toks"))
    val viaOp = TopK.topKeys(toks, "toks", 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = toks.select(explode(col("toks")).as("token"))
      .groupBy("token").count()
      .orderBy(col("count").desc, col("token").asc).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaOp === expected)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val toks = docs.select(TextAnalysis.tokens(col("text")).as("toks"))
    val plan = executedPlans(TopK.topKeys(toks, "toks", 10)).mkString("\n")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("topK == the lazy orderBy.limit plan, row for row, in one partition") {
    import SparkSpec.spark.implicits._
    // a, b and d tie on 3; c, e and f trail
    val counted = TopK.countByKey(
      Seq("b", "a", "d", "b", "c", "a", "d", "e", "b", "a", "d", "f", "c").toDF("token"), "token")
    val empty = counted.filter(lit(false))
    val order = Seq(col("cnt").desc, col("token").asc)
    for ((df, k) <- Seq(counted -> 1, counted -> 2, counted -> 10, empty -> 10)) {
      val eager = TopK.topK(df, k, order: _*)
      val expected = df.orderBy(order: _*).limit(k)
      assert(eager.schema === expected.schema, s"k = $k")
      assert(eager.collect().toSeq === expected.collect().toSeq, s"k = $k")
      assert(eager.rdd.getNumPartitions === 1, s"k = $k")
    }
    assert(TopK.topK(counted, 2, order: _*).collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(TopK.topK(counted, 10, order: _*).count() === 6)
    val none = TopK.topK(empty, 10, order: _*)
    assert(none.isEmpty)
    assert(none.schema.fieldNames.toSeq === Seq("token", "cnt"))
  }

  test("approx_count_distinct tracks exact within rsd on token keys") {
    val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
    val exact = toks.distinct().count()
    val approx = toks.agg(approx_count_distinct(col("t"), 0.05)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.15)
  }

  test("quality score is bounded in [0,1] and language id is total") {
    val rows = docs.select(
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("lang")).collect()
    assert(rows.forall { r => val q = r.getDouble(0); q >= 0.0 && q <= 1.0 })
    val langs = Set("en", "es", "de", "fr", "unknown")
    assert(rows.forall(r => langs.contains(r.getString(1))))
  }

  test("token counts: bpe-ish >= whitespace count on punctuated text") {
    import SparkSpec.spark.implicits._
    val df = Seq("hello, world! it's 2024.").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")),
      TextAnalysis.bpeishTokenCount(col("text"))).head()
    assert(r.getInt(0) === 4)
    assert(r.getInt(1) === 9) // hello , world ! it ' s 2024 .
  }
}
