package graft

import org.apache.spark.sql.SparkSession

/** graft's engine posture, in one place. Every graft main and the test
  * suite build their session here, so the plans the tests exercise are
  * the plans Verify checks and Bench times:
  *
  *   - `GraftExtensions`: the `graft_*` SQL functions, the GroupTopK
  *     strategy, the JaccardLengthFilter and SummaryRewrite rules;
  *   - `preferSortMergeJoin=false`: the planner may pick a shuffled-hash
  *     join when its own per-partition size checks allow it. SMJ's sort
  *     is a pass both sides pay; SHJ builds the smaller side. AQE skew
  *     splitting stays on, so a skewed partition still gets SMJ with a
  *     skew split. Measured 5-15% on the join-heavy queries
  *     (OPTIMIZATION_r18.md);
  *   - `InferFiltersFromGenerate` excluded: that rule turns every
  *     `explode(f(x))` into a pushed-down `size(f(x)) > 0 AND
  *     isnotnull(f(x))`, so the whole array expression (tokenize,
  *     shingle, distinct) runs a second time in the scan stage. The
  *     generate handles empty arrays itself; the inferred filter only
  *     duplicates compute (q_contamination 7.5 s to sub-second);
  *   - session time zone UTC, UI off.
  */
object GraftSession {

  /** Cores for a local session: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The posture on a builder, plus a `local[cores]` master with one
    * shuffle partition per core. A master already set (spark-submit sets
    * `spark.master`) is left alone, and so is the shuffle partition
    * count: local cores say nothing about a cluster's. */
  def builder(cores: Int = cpus): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (sys.props.contains("spark.master")) b
    else b.master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
  }

  /** A session with the posture, logging at ERROR. */
  def local(cores: Int = cpus): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
