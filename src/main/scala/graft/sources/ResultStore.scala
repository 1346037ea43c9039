package graft.sources

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Pluggable serving-layer result store with the reference's
  * Elasticsearch semantics re-expressed engine-neutrally: the batch
  * layer retires the speed layer's rows for the recomputed window
  * (delete-by-query on timestamp ∈ [from, to), reference
  * App.java:104-127,150-161) and upserts its own authoritative rows
  * (the bulk-upsert sketch at App.java:163-186).
  *
  * A real deployment would back this with ES/OpenSearch/Delta; the
  * parquet impl below keeps identical semantics for offline tests.
  */
trait ResultStore {
  /** Delete rows with tsCol in [from, to) — retire speed-layer output. */
  def rangeDelete(from: Instant, to: Instant): Unit
  /** Insert-or-replace by key column. `rows` is read more than once;
    * a caller that hands in an expensive plan persists it first. */
  def upsert(rows: DataFrame): Unit
  def read(): DataFrame
}

/** Parquet-backed ResultStore. Rewrites are full-snapshot (read →
  * transform → write `.compact.tmp` → [[Sinks.swapIn]]); fine for
  * serving-sized result tables, which are top-k aggregates, not raw
  * data. The key/timestamp column names are fixed at construction.
  *
  * Crash safety is Sinks' swap: a rewrite torn between its two renames
  * leaves the store under `.compact.old` (or a finished `.compact.tmp`),
  * and every call first runs [[Sinks.recoverCompact]], so the next
  * instance rolls the store back (or forward) instead of reading it as
  * absent and overwriting it with one batch.
  *
  * Spark jobs per call, on a store that exists:
  *   - `read()`: none while the store is as this instance last saw
  *     it. The store keeps the schema it last wrote, or last inferred,
  *     with the store directory's modification time, and scans with
  *     it. A read that finds a different time (the first read, or one
  *     after another writer's rewrite) infers the schema again in one
  *     job;
  *   - `rangeDelete`: one write job;
  *   - `upsert`: one job to find whether the store is empty, one to
  *     broadcast the incoming keys for the anti-join, one write job.
  *     An empty store skips the broadcast; an absent one is only
  *     written.
  */
final class ParquetResultStore(spark: SparkSession, path: String,
                               keyCol: String, tsCol: String) extends ResultStore {

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private val target = new org.apache.hadoop.fs.Path(path)

  /** The schema of the files at `path`, with the store directory's
    * modification time when it was taken; each rewrite's rename
    * installs a new directory, so another writer's rewrite changes the
    * time. Always the store's schema, never an incoming frame's: an
    * upsert whose columns do not match the store fails in
    * `unionByName`. */
  @volatile private var schema: Option[(Long, StructType)] = None

  /** The store directory's modification time, after healing a torn
    * swap; None when it is absent. */
  private def modified: Option[Long] = {
    Sinks.recoverCompact(path)
    try Some(fs.getFileStatus(target).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
  }

  override def read(): DataFrame = modified match {
    case None => spark.emptyDataFrame
    case Some(t) => schema match {
      case Some((`t`, s)) => spark.read.schema(s).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schema = Some(t -> df.schema)
        df
    }
  }

  /** Read-modify-write through Sinks' swap: parquet can't overwrite a
    * path while reading it, and a failed rewrite must not destroy the
    * store. */
  private def rewrite(df: DataFrame): Unit = {
    Sinks.swapIn(path)(tmp => df.write.mode(SaveMode.Overwrite).parquet(tmp))
    schema = modified.map(_ -> df.schema)
  }

  override def rangeDelete(from: Instant, to: Instant): Unit = {
    if (modified.isDefined) {
      val ts = col(tsCol)
      rewrite(read().filter(
        ts < lit(java.sql.Timestamp.from(from)) ||
          ts >= lit(java.sql.Timestamp.from(to))))
    }
  }

  override def upsert(rows: DataFrame): Unit = {
    val cur = read()
    if (cur.isEmpty) rewrite(rows)
    else rewrite(cur.join(rows.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(rows))
  }
}
