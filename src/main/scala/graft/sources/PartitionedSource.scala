package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reader over the hive-partitioned hour layout
  * (`year=YYYY/month=MM/day=DD/hour=HH`), replacing the reference's
  * hand-built path strings + HDFS file listing (App.java:59-84).
  *
  * The WHAT is identical — scan exactly one time window's files. The
  * HOW is Spark-native: partition values are catalog columns, the
  * window predicate is a partition filter, and Catalyst prunes
  * directories BEFORE listing files — `.explain` shows the pruned
  * `PartitionFilters`, and at 100 TB the scan never touches
  * out-of-window directories. No driver-side FS walking.
  */
object PartitionedSource {

  def read(spark: SparkSession, basePath: String): DataFrame =
    spark.read.option("basePath", basePath).parquet(basePath)

  /** Scan one time window via partition pruning. */
  def readWindow(spark: SparkSession, basePath: String, w: TimeWindow): DataFrame =
    read(spark, basePath).filter(
      w.partitionFilter(col("year"), col("month"), col("day"), col("hour")))
}
