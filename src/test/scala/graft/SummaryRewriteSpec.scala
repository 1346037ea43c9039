package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.SummaryRewrite

class SummaryRewriteSpec extends SparkSpec {

  private def scansPath(df: DataFrame, fragment: String): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains(fragment))
          case _ => false
        }
      case _ => false
    }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  // the rule itself comes with the session's GraftExtensions; each
  // test drops the summaries it registered
  private def withSummaries[A](body: => A): A =
    try body finally SummaryRewrite.clear()

  test("aggregate over the fact table is redirected to the summary") {
    withSummaries {
      val base = table("lineitem")
      val sumDir = tmpDir("mv") + "/sum"
      base.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .write.mode("overwrite").parquet(sumDir)
      SummaryRewrite.register(base, spark.read.parquet(sumDir),
        dims = Seq("l_returnflag", "l_linestatus"),
        sums = Map("l_quantity" -> "sum_qty"), cnt = Some("cnt"),
        mins = Map("l_extendedprice" -> "min_price"),
        maxs = Map("l_extendedprice" -> "max_price"))

      // same dims
      val q1 = base.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
      assert(scansPath(q1, sumDir) && !scansPath(q1, "lineitem"),
        q1.queryExecution.optimizedPlan.toString)

      // subset dims + min/max + arithmetic over rewritable aggs
      val q2 = base.groupBy(col("l_returnflag"))
        .agg(min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"),
          (sum(col("l_quantity")) / count(lit(1))).as("mean_qty"))
      assert(scansPath(q2, sumDir) && !scansPath(q2, "lineitem"),
        q2.queryExecution.optimizedPlan.toString)

      // results identical to the un-rewritten plans: snapshot the
      // rewritten results first, then clear and compare
      val got1 = rows(q1)
      val got2 = rows(q2)
      SummaryRewrite.clear()
      assert(got1 === rows(base.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))))
      assert(got2 === rows(base.groupBy(col("l_returnflag"))
        .agg(min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"),
          (sum(col("l_quantity")) / count(lit(1))).as("mean_qty"))))
    }
  }

  test("non-derivable aggregates and filtered scans are left alone") {
    withSummaries {
      val base = table("lineitem")
      val sumDir = tmpDir("mv2") + "/sum"
      base.groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(sumDir)
      SummaryRewrite.register(base, spark.read.parquet(sumDir),
        dims = Seq("l_returnflag"),
        sums = Map("l_quantity" -> "sum_qty"), cnt = Some("cnt"))

      // avg is not in the measure map → untouched
      val qAvg = base.groupBy(col("l_returnflag"))
        .agg(avg(col("l_quantity")).as("a"))
      assert(!scansPath(qAvg, sumDir))

      // sum of an unmapped column → untouched
      val qOther = base.groupBy(col("l_returnflag"))
        .agg(sum(col("l_extendedprice")).as("s"))
      assert(!scansPath(qOther, sumDir))

      // a filter between aggregate and base → untouched
      val qFiltered = base.filter(col("l_quantity") > 10)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(!scansPath(qFiltered, sumDir))

      // grouping by a non-dim → untouched
      val qBadDim = base.groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
      assert(!scansPath(qBadDim, sumDir))

      // DISTINCT modifier → untouched
      val qDistinct = base.groupBy(col("l_returnflag"))
        .agg(sum_distinct(col("l_quantity")).as("sd"))
      assert(!scansPath(qDistinct, sumDir))
    }
  }

  test("a live-aggregate summary does not rewrite itself into a loop") {
    withSummaries {
      val base = table("orders")
      val liveSummary = base.groupBy(col("o_orderstatus"))
        .agg(sum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("cnt"))
      SummaryRewrite.register(base, liveSummary,
        dims = Seq("o_orderstatus"),
        sums = Map("o_totalprice" -> "sum_price"), cnt = Some("cnt"))
      // evaluating the view's own definition terminates and is correct
      assert(liveSummary.count() === base.select("o_orderstatus").distinct().count())
      // an equivalent user query stays on the fact: a live view would
      // scan it anyway, so it is not a rewrite target
      val q = base.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      assert(q.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.size === 1, q.queryExecution.optimizedPlan.toString)
      val direct = withClue(q.queryExecution.optimizedPlan.toString) {
        q.collect().map(_.toString).toSet
      }
      SummaryRewrite.clear()
      val expected = base.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n")).collect().map(_.toString).toSet
      assert(direct === expected)
    }
  }
}
