package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate aggregates for 100 TB-scale profiling: all are one-pass,
  * mergeable, fixed-size sketches — the partial states combine
  * associatively across partitions, so there is no second shuffle and
  * no exact-op memory cliff. The exact counterparts (`q_count_distinct`,
  * `q_percentile`) stay the correctness oracles; these are the
  * scale-path variants whose error bounds ScalaTest pins down.
  */
object Sketches {

  /** HyperLogLog++ distinct count per group (rsd = relative error). */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_nd"))

  /** Re-aggregatable Apache DataSketches HLL: per-group binary sketches
    * that union with `hll_union_agg` — the shape for incremental /
    * partitioned profiling where estimates must merge across runs. */
  def hllSketches(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol)).as("sketch"))

  /** KLL-style approximate percentiles (one pass, bounded memory;
    * `accuracy` trades memory for error ~ 1/accuracy). */
  def approxPercentiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                        percentiles: Seq[Double],
                        accuracy: Int = 10000): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(percentile_approx(col(valueCol),
        typedlit(percentiles), lit(accuracy)).as("pcts"))
}
