package graft

import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Materialize._
import graft.operators.TopK
import graft.sources._
import graft.streaming.StoreSink

/** The reference batch job's contract, Spark-4-native: args are
  * `basePath outPath [year month day hour]` — explicit hour window, or
  * the previous full hour when omitted (reference App.java:44-56). Scans
  * exactly one window from the partitioned hour layout (partition-pruned,
  * not a driver-side HDFS listing), counts event types, writes the
  * reference's header'd CSV, and publishes to the serving store with
  * the retire-then-upsert window protocol.
  */
object BatchJob {
  def main(args: Array[String]): Unit = {
    val (basePath, outPath, window) = args match {
      case Array(b, o) => (b, o, TimeWindow.previousHour(Instant.now()))
      case Array(b, o, y, m, d, h) =>
        (b, o, TimeWindow.hour(y.toInt, m.toInt, d.toInt, h.toInt))
      case _ => sys.error("usage: BatchJob <basePath> <outPath> [year month day hour]")
    }
    // spark-submit injects the master; a bare run is local
    val spark = GraftSession.local()
    try run(spark, basePath, outPath, window)
    finally spark.stop()
  }

  /** Testable core: window scan → top-10 → CSV + store publish. */
  def run(spark: SparkSession, basePath: String, outPath: String,
          window: TimeWindow): Unit = {
    val events = PartitionedSource.readWindow(spark, basePath, window)
    // the ≤ 10 rows feed two sinks: materialize them once, so the
    // window is scanned and decoded once rather than once per sink
    val counts = TopK.topK(
      TopK.countByKey(events.select(col("event_type").as("token")), "token"),
      10, col("cnt").desc, col("token").asc).eagerCheckpoint()

    Sinks.csv(counts, s"$outPath/top10")
    val store = new ParquetResultStore(spark, s"$outPath/results", "key", "win_start")
    StoreSink.publishWindow(store,
      StoreSink.windowKeyed(counts.withColumn("win_start",
        lit(java.sql.Timestamp.from(window.start))), "win_start"),
      window.start, window.end)
  }
}
