package graft.streaming

import org.apache.spark.sql.DataFrame

/** The once-per-batch rule for `foreachBatch` bodies.
  *
  * The frame `foreachBatch` hands its body is the micro-batch's whole
  * incremental plan: the source read and any stateful operator (state
  * load, update, commit). Every action on it runs that plan again, so a
  * body that checks emptiness, broadcasts and then writes pays for the
  * batch three times. Spark's `foreachBatch` guidance is to cache the
  * frame when it is used more than once; [[persisted]] is that rule in
  * one place.
  *
  * It persists rather than checkpoints: a `localCheckpoint` per trigger
  * holds its blocks until a GC cleans them up, and with
  * `spark.graft.checkpointDir` set `eagerCheckpoint` would write a
  * reliable checkpoint on every trigger.
  */
object MicroBatch {

  /** `body` against the batch frame persisted: the first action computes
    * the batch, later ones read its cached blocks. The blocks are
    * released when `body` returns or throws. */
  def persisted(body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      batch.persist()
      try body(batch, batchId) finally batch.unpersist()
    }
}
