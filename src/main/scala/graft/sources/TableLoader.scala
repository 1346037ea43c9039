package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format-pluggable table reader, generalizing the reference's
  * `spark.read.format("avro").load(files)` (reference App.java:93-95).
  *
  * Formats are Spark datasource names, so anything on the classpath
  * plugs in. `avro` reads through Spark's built-in Avro file format,
  * which ships inside spark-sql itself (see [[avroFormat]]).
  */
object TableLoader {

  val SupportedFormats: Set[String] = Set("parquet", "csv", "json", "avro", "orc")

  /** The datasource behind `avro`: Spark's built-in v1 Avro file format,
    * named by class. The spark-sql jar ships the class but registers no
    * `avro` short name, so `format("avro")` alone fails to resolve. */
  val avroFormat: String = "org.apache.spark.sql.avro.AvroFileFormat"

  def read(spark: SparkSession, format: String, path: String,
           schema: Option[StructType] = None,
           options: Map[String, String] = Map.empty): DataFrame = {
    require(SupportedFormats.contains(format), s"unsupported format: $format")
    val provider = if (format == "avro") avroFormat else format
    var base: DataFrameReader = spark.read.format(provider).options(options)
    // header applies with AND without an explicit schema — otherwise the
    // header line comes back as a data row
    if (format == "csv") base = base.option("header", "true")
    val withSchema = schema.fold {
      // CSV/JSON without an explicit schema would trigger an extra
      // inference scan — fine locally, wasteful at 100 TB; callers
      // should pass a schema for text formats.
      if (format == "csv") base.option("inferSchema", "true") else base
    }(base.schema(_))
    withSchema.load(path)
  }
}
