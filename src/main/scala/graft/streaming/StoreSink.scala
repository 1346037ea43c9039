package graft.streaming

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.sources.ResultStore

/** Serving-layer wiring for the Lambda pair the reference implements:
  *
  *  - the SPEED path (streaming): update-mode micro-batches contain
  *    only re-aggregated keys, so each batch is keyed-UPSERTed via
  *    foreachBatch — idempotent under replay, no range deletes (a
  *    range delete would retire sibling keys the batch didn't touch).
  *  - the BATCH path (`publishWindow`): an authoritative recompute of
  *    a whole window range-deletes the speed layer's rows for
  *    [from, to) and inserts its own — exactly the reference's ES
  *    delete-by-query + bulk upsert (App.java:104-127,163-186).
  */
object StoreSink {

  /** Streaming side: keyed upsert per micro-batch. The body runs
    * several actions on the batch (the emptiness check, then the
    * upsert's own; see [[graft.sources.ParquetResultStore]] for what
    * each costs), and each would run the stateful aggregate again, so
    * the batch is persisted ([[MicroBatch.persisted]]) and the
    * aggregate runs once per trigger. */
  def writer(counts: DataFrame, store: ResultStore,
             checkpointDir: String): DataStreamWriter[Row] =
    counts.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(MicroBatch.persisted { (batch, _) =>
        if (!batch.isEmpty) store.upsert(batch)
      })

  def start(counts: DataFrame, store: ResultStore, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    writer(counts, store, checkpointDir).trigger(trigger).start()

  /** Batch side: retire everything in [from, to) and install the
    * authoritative recompute. */
  def publishWindow(store: ResultStore, authoritative: DataFrame,
                    from: Instant, to: Instant): Unit = {
    store.rangeDelete(from, to)
    store.upsert(authoritative)
  }

  /** Adds the store key `key` = `<tsCol in epoch seconds>|<token>`.
    * A token's rows of different windows are different rows; keyed on
    * the token alone, publishing window H+1 would evict window H's row
    * of every token the two windows share. */
  def windowKeyed(rows: DataFrame, tsCol: String): DataFrame =
    rows.withColumn("key", concat_ws("|", col(tsCol).cast("long"), col("token")))
}
