package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, Multiply, Size}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.plans.JaccardLengthFilter

/** The injected optimizer rule: jaccard-threshold filters gain the
  * length prefilter, results never change, and the rewrite does not
  * stack under the optimizer's fixpoint batch. The rule comes with the
  * session's GraftExtensions; the baseline names it in the optimizer's
  * excluded rules. */
class JaccardRuleSpec extends SparkSpec {

  private def withoutRule[A](body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, (saved.toSeq :+ JaccardLengthFilter.ruleName).mkString(","))
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def jaccardQuery = Dedup
    .jaccardPairs(table("documents"), "doc_id", "text", 3, 40)
    .filter(col("jac") >= 0.8)

  /** t·size(x) comparisons in the optimized plan (the predicate may
    * live in a Filter or a pushed-down Join condition). */
  private def scaledSizeCompares(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.foreach(_.expressions.foreach(_.foreach {
      case GreaterThanOrEqual(_, Multiply(_, _, _)) => n += 1
      case _ => ()
    }))
    n
  }

  test("rule adds the length conjuncts exactly once and keeps results identical") {
    val before = withoutRule {
      val q = jaccardQuery
      assert(scaledSizeCompares(q) === 0, q.queryExecution.optimizedPlan.toString)
      q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val q = jaccardQuery
    // one guard = two conjuncts; fixpoint must not have stacked more
    assert(scaledSizeCompares(q) === 2, q.queryExecution.optimizedPlan.toString)
    val after = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === before)
    assert(after.nonEmpty)
  }

  test("rule disables itself under spark.sql.legacy.sizeOfNull=true") {
    // size(null) = -1 there: jaccard on a null array is -1/-1 = 1.0 >= t
    // (true) but the length conjunct -1 >= t*(-1) is false — firing
    // would flip filter results, so the rule must not fire at all
    // legacy sizeOfNull only takes effect with ANSI off (Spark 4 default
    // is on — SQLConf.legacySizeOfNull && !ansiEnabled); flip both
    val savedAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
    try {
      assert(scaledSizeCompares(jaccardQuery) === 0)
    } finally {
      spark.conf.set("spark.sql.legacy.sizeOfNull", "false")
      spark.conf.set("spark.sql.ansi.enabled", savedAnsi)
    }
  }

  test("rule leaves non-jaccard filters untouched") {
    val q = table("orders").filter(col("o_totalprice") >= 100.0)
    val sizes = q.queryExecution.optimizedPlan.collect {
      case f: Filter => f.condition.collect { case s: Size => s }.size
    }.sum
    assert(sizes === 0)
  }
}
