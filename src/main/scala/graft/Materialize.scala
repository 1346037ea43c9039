package graft

import org.apache.spark.sql.Dataset

/** The eager plan-materialization point every fan-out site uses (the
  * ~50 guide-§3.3 shared-subtree checkpoints plus the iterative-loop
  * lineage truncations).
  *
  * Default posture: `localCheckpoint(eager = true)` — executor-local
  * blocks, no filesystem round trip. Fast, and correct on a
  * single-node/benchmark deployment, but the truncated lineage means an
  * executor loss mid-query makes the RDD unrecomputable and fails the
  * query (retry = full re-run).
  *
  * The 100 TB posture (r18 verdict item on localCheckpoint durability):
  * set `spark.graft.checkpointDir` on the session (`--conf` under
  * spark-submit, or `-Dspark.graft.checkpointDir=…` on a bare JVM, which
  * GraftSession's builder picks up) and every site
  * upgrades to a RELIABLE `checkpoint(eager = true)` into that
  * directory: blocks survive executor loss, so a lost node costs a
  * re-fetch, not a failed query. One config point, zero call-site
  * changes; the default keeps the driver's bench methodology (and its
  * round-over-round comparability) untouched.
  */
object Materialize {

  private val ConfKey = "spark.graft.checkpointDir"

  implicit class EagerCheckpointOps[T](private val ds: Dataset[T])
      extends AnyVal {
    /** Eagerly materialize this Dataset and truncate its lineage —
      * executor-local by default, reliable when a checkpoint dir is
      * configured (see [[Materialize]]). */
    def eagerCheckpoint(): Dataset[T] = {
      val spark = ds.sparkSession
      val dir = spark.conf.getOption(ConfKey).filter(_.nonEmpty)
      dir match {
        case Some(d) =>
          val sc = spark.sparkContext
          // setCheckpointDir mints a fresh UUID subdir per call — set it
          // once per context (a dir pinned earlier by the user wins)
          if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
          ds.checkpoint(eager = true)
        case None => ds.localCheckpoint(eager = true)
      }
    }
  }
}
