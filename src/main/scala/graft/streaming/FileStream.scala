package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File-based streaming source over the hive-partitioned hour layout —
  * the streaming twin of sources.PartitionedSource. New files landing
  * under year=/month=/day=/hour= directories are discovered
  * incrementally; partition values surface as columns.
  *
  * maxFilesPerTrigger bounds per-batch work so a backlog (e.g. first
  * start against a year of history) streams through in bounded-memory
  * batches instead of one giant batch.
  */
object FileStream {

  def parquet(spark: SparkSession, basePath: String, schema: StructType,
              maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(schema)
      .option("basePath", basePath)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(basePath + "/*/*/*/*")

  /** Streaming ingest of the reference's actual input format
    * (App.java:93-95 reads *.avro): the same incremental file
    * discovery over a flat avro directory, through Spark's built-in
    * Avro file format ([[graft.sources.TableLoader.avroFormat]]); a
    * file-stream source needs a v1 FileFormat, which it is. */
  def avro(spark: SparkSession, path: String, schema: StructType,
           maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .format(graft.sources.TableLoader.avroFormat)
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(path)
}
