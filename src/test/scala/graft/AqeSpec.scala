package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Runtime proof of the SURVEY §5 adaptive-execution claims: AQE
  * re-plans a skewed shuffle join by splitting the hot partition, and
  * coalesces undersized shuffle partitions — both asserted on the
  * FINAL adaptive plan after execution, not on static plan text.
  * Session conf is set per-test and restored (SparkSpec contract). */
class AqeSpec extends SparkSpec {

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Executes the frame THROUGH ITS OWN QueryExecution (collect — a
    * count() would plan a separate query and leave this one unrun),
    * then returns the final re-optimized adaptive plan. */
  private def executedFinalPlan(df: DataFrame): (Long, SparkPlan) = {
    val n = df.collect().length.toLong
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (n, p)
  }

  test("AQE splits the hot partition of a skewed sort-merge join at runtime") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // 40k of 50k left rows land on key 0 — one reducer drowns unless
      // AQE splits it; the right side stays tiny and gets replicated
      val left = spark.range(0, 50000)
        .select(when(col("id") < 40000, 0L).otherwise(col("id")).as("k"), col("id").as("v"))
      val right = spark.range(0, 100).select(col("id").as("k"), lit(1).as("w"))
      val (n, plan) = executedFinalPlan(left.join(right, "k"))
      assert(n === 40000L) // skew split must not change the row count
      // query stages are leaf wrappers (collect can't descend), so
      // assert on the rendered final plan
      val p = plan.toString
      assert(p.contains("SortMergeJoin(skew=true)"), p)
      assert(p.contains("AQEShuffleRead skewed"), p)
    }
  }

  test("AQE coalesces undersized shuffle partitions after the map stage") {
    withConf(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB") {
      // a 10-group aggregate over 1k rows produces 4 near-empty shuffle
      // partitions; the AQE shuffle read must merge them
      val df = spark.range(0, 1000).groupBy((col("id") % 10).as("g")).count()
      val (n, plan) = executedFinalPlan(df)
      assert(n === 10L)
      assert(plan.toString.contains("AQEShuffleRead coalesced"), plan.toString)
    }
  }

  test("a fresh GraftSession carries the posture before any table load") {
    // a new session on the suite's context: its conf comes from what
    // GraftSession set at build time, untouched by other tests and by
    // any Tables.load
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .head().getDouble(0) === 1.0)
    assert(fresh.conf.get("spark.sql.join.preferSortMergeJoin") === "false")
    assert(fresh.conf.get("spark.sql.optimizer.excludedRules")
      .contains("InferFiltersFromGenerate"))
  }
}
