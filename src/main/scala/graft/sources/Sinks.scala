package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Batch sinks, generalizing the reference's CSV writer
  * (`write.mode(Overwrite).format("csv").option("header","true")`,
  * reference App.java:135).
  */
object Sinks {

  /** Header'd CSV, overwrite — the reference's result sink. Top-k
    * results are tiny, so coalesce(1) mirrors its single-file output
    * without a meaningful scale cost. */
  def csv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** Parquet with optional hive partitioning — the lake-native sink.
    * Partition columns become directory keys, enabling partition-pruned
    * reads downstream. */
  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
              mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Avro, overwrite — the write half of the reference's read format
    * (TableLoader reads avro; reference App.java:93-95 scans *.avro).
    * Writes through Spark's built-in Avro file format
    * ([[TableLoader.avroFormat]]), the same one the reads use. */
  def avro(df: DataFrame, path: String,
           mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).format(TableLoader.avroFormat).save(path)

  /** Write an event table into the hive-partitioned hour layout
    * (year=/month=/day=/hour=) that PartitionedSource reads back —
    * the reference's /topics/tweets/... layout re-expressed as
    * partition columns instead of hand-built path strings. */
  def partitionedByHour(df: DataFrame, tsCol: String, path: String,
                        mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("year", year(col(tsCol)))
      .withColumn("month", month(col(tsCol)))
      .withColumn("day", dayofmonth(col(tsCol)))
      .withColumn("hour", hour(col(tsCol)))
      .write.mode(mode)
      .partitionBy("year", "month", "day", "hour")
      .parquet(path)

  /** Bucketed managed table — the shuffle-amortization sink for tables
    * that are repeatedly joined or aggregated on one key: the write
    * hash-partitions rows into `numBuckets` files per partition ONCE,
    * and every later equi-join/groupBy on `bucketCol` between tables
    * with compatible bucketing reads co-located and skips its
    * Exchange entirely (asserted in SourcesSpec). At 100 TB this is
    * the difference between shuffling the fact table on every join
    * and never shuffling it again; `sortBy` additionally pre-sorts
    * within buckets so sort-merge joins skip their Sort. Bucket count
    * should be sized so one bucket ≈ one task's worth of data
    * (bytes / numBuckets ≲ maxPartitionBytes). */
  def bucketed(df: DataFrame, table: String, bucketCol: String,
               numBuckets: Int, sortCols: Seq[String] = Nil,
               mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Clustered (range-partitioned + sorted) parquet layout on a sort
    * key — pair with q_zorder's Morton key for multi-dimensional
    * clustering: `repartitionByRange` gives files PAIRWISE-DISJOINT key
    * ranges (sampled range exchange, the scalable global sort — never a
    * single partition), `sortWithinPartitions` orders rows inside each
    * file, so parquet's per-file/rowgroup min-max footer stats prune a
    * key-range predicate down to the few files that overlap it.
    * SourcesSpec asserts the disjointness that makes the pruning claim
    * real. */
  def clustered(df: DataFrame, path: String, sortCol: String,
                numFiles: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(mode).parquet(path)

  /** Small-file compaction — the maintenance pass every streaming /
    * incremental-append layout needs: micro-batch appends leave
    * thousands of KB-sized files whose per-file open/footer overhead
    * eventually dominates scans. Rewrite the directory into
    * ceil(bytes / targetBytes) files, then swap tmp into place.
    *
    * The swap is two sequential renames, NOT atomic: between
    * rename(path → .compact.old) and rename(.compact.tmp → path) the
    * live path does not exist, and a crash in that window strands the
    * data under `.compact.old` (a Hadoop FileSystem has no
    * exchange-style rename; a real deployment swaps a manifest/symlink
    * instead — Iceberg/Delta solve exactly this). [[recoverCompact]] closes the
    * gap on restart: call it before reading a compactable path — it
    * rolls a torn swap forward (tmp finished: `_SUCCESS` present) or
    * back (tmp incomplete), and compact() itself invokes it first so a
    * re-run self-heals. Returns the output file count. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L << 20): Int = {
    recoverCompact(path)
    val (fs, live, _, _) = swapPaths(path)
    val bytes = fs.listStatus(live)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    swapIn(path) { tmp =>
      spark.read.parquet(path).coalesce(n)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    n
  }

  /** The snapshot-swap protocol shared by [[compact]], [[merge]] and
    * [[ParquetResultStore]]: write the replacement under `.compact.tmp`,
    * then two renames on the path's Hadoop `FileSystem` (a path that
    * does not exist yet is simply renamed into place). One debris
    * naming scheme means ONE recovery routine ([[recoverCompact]])
    * heals a torn swap from any of them — a reader restarted
    * mid-crash doesn't need to know which writer died. */
  private[sources] def swapIn(path: String)(write: String => Unit): Unit = {
    val (fs, live, tmp, bak) = swapPaths(path)
    write(tmp.toString)
    if (fs.exists(live)) {
      if (fs.exists(bak)) fs.delete(bak, true)
      require(fs.rename(live, bak), s"rename $live -> $bak failed")
    }
    require(fs.rename(tmp, live), s"rename $tmp -> $live failed")
    fs.delete(bak, true)
  }

  /** (file system, live, `.compact.tmp`, `.compact.old`) for `path`,
    * resolved against the active session's Hadoop configuration. */
  private def swapPaths(path: String) = {
    import org.apache.hadoop.fs.Path
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val live = new Path(path.stripSuffix("/"))
    (live.getFileSystem(conf), live, live.suffix(".compact.tmp"),
      live.suffix(".compact.old"))
  }

  /** MERGE INTO-shaped upsert against a keyed parquet table — the
    * TRANSACTIONAL complement of the q_scd_apply query shape: the
    * change set applies to the STORED table via one full-outer join
    * on the key and the [[compact]] snapshot-swap protocol (same
    * debris names, same [[recoverCompact]] crash recovery).
    *
    *   matched,   deleteWhen   → row dropped
    *   matched,   !deleteWhen  → source payload replaces the row
    *   source-only, deleteWhen → no-op (MERGE's delete-of-absent)
    *   source-only, !deleteWhen → insert
    *   target-only              → passes through unchanged
    *
    * `deleteWhen` evaluates over SOURCE columns; extra source columns
    * (op markers, change timestamps) never land in the table — the
    * written schema is exactly the target's. The source must be
    * key-unique, as in ANSI MERGE's double-match error: enforced with
    * a delta-sized distinct count up front, failing loudly instead of
    * fanning duplicate rows into the snapshot. Merge keys must be
    * non-null on both sides (null keys never equi-match; a null-keyed
    * source row would silently insert every time).
    *
    * Scale shape: the target shuffles ONLY on the merge key (or not at
    * all when the delta broadcasts under AQE — the common nightly-delta
    * case); inserted/updated/deleted counts ride the write as
    * `graft_merge` observe metrics per the no-silent-caps rule. At
    * 100 TB the rewrite cost is the table scan itself — partition the
    * table and call merge per affected partition, or move to a
    * manifest-swap format; the JOIN SHAPE here is unchanged either
    * way. */
  def merge(spark: org.apache.spark.sql.SparkSession, path: String,
            source: DataFrame, keys: Seq[String],
            deleteWhen: org.apache.spark.sql.Column = lit(false)): Unit = {
    recoverCompact(path)
    val merged = mergedFrame(spark.read.parquet(path), source, keys, deleteWhen)
    swapIn(path) { tmp =>
      merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    }
  }

  /** The merge source's (row count, distinct key count) in ONE
    * delta-sized job; count_distinct over the keys STRUCT so an
    * (invalid) all-null key still counts as a distinct value, exactly
    * like the two-job distinct().count() it replaces. Shared so
    * VersionedTable.merge can compute it once and reuse it for both
    * its pruning-budget decision and [[mergedFrame]]'s guard. */
  private[sources] def sourceKeyCounts(source: DataFrame,
                                       keys: Seq[String]): (Long, Long) = {
    val guard = source.agg(count(lit(1)).as("n"),
      count_distinct(struct(keys.map(col): _*)).as("k")).collect().head
    (guard.getLong(0), guard.getLong(1))
  }

  /** The MERGE join shape shared by [[merge]] (in-place swap, one
    * generation) and [[VersionedTable.merge]] (append-a-snapshot time
    * travel): full-outer on the keys, source payload wins, deletes
    * filtered, counts on the frame as `graft_merge` observe metrics. */
  private[sources] def mergedFrame(tgt: DataFrame, source: DataFrame,
                                   keys: Seq[String],
                                   deleteWhen: org.apache.spark.sql.Column,
                                   precounted: Option[(Long, Long)] = None,
                                   obs: Option[org.apache.spark.sql.Observation] =
                                     None)
      : DataFrame = {
    val outCols = tgt.columns.toSeq
    require(keys.nonEmpty && keys.forall(outCols.contains),
      s"merge keys $keys must be target columns (${outCols.mkString(",")})")
    val (nSrc, nKey) = precounted.getOrElse(sourceKeyCounts(source, keys))
    require(nSrc == nKey,
      s"merge source must be key-unique: $nSrc rows over $nKey distinct " +
        "keys — collapse to a last-writer-per-key change set first " +
        "(the q_scd_apply max_by shape)")
    val t = tgt.withColumn("_tp", lit(1)).alias("t")
    val s = source.withColumn("_sp", lit(1)).alias("s")
    val on = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val srcHit = col("s._sp").isNotNull
    val tgtHit = col("t._tp").isNotNull
    val del = srcHit && coalesce(deleteWhen, lit(false))
    val joined = t.join(s, on, "full_outer")
    val cnts = Seq(
      sum(when(srcHit && tgtHit && !del, 1L).otherwise(0L)).as("updated"),
      sum(when(srcHit && !tgtHit && !del, 1L).otherwise(0L)).as("inserted"),
      sum(when(tgtHit && del, 1L).otherwise(0L)).as("deleted"))
    // a caller-supplied Observation lets the counts be RETRIEVED after
    // the write action (VersionedTable persists them into the commit's
    // manifest); the bare named observe keeps the metrics visible to
    // QueryExecutionListeners either way
    obs.fold(joined.observe("graft_merge", cnts.head, cnts.tail: _*))(o =>
        joined.observe(o, cnts.head, cnts.tail: _*))
      .filter(!del)
      .select(outCols.map(c =>
        when(srcHit, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)): _*)
  }

  /** Startup recovery for a compact() swap torn by a crash. Outcomes:
    * live path present → drop leftovers; live path missing with a
    * COMPLETE tmp (Spark's `_SUCCESS` marker) → roll forward; live path
    * missing, tmp incomplete → roll back to `.compact.old`. Idempotent;
    * no-op when no compaction debris exists. */
  def recoverCompact(path: String): Unit = {
    val (fs, live, tmp, bak) = swapPaths(path)
    if (fs.exists(live)) { // swap completed (or never started): clear debris
      if (fs.exists(bak)) fs.delete(bak, true)
      if (fs.exists(tmp)) fs.delete(tmp, true)
    } else if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
      require(fs.rename(tmp, live), s"roll-forward $tmp -> $live failed")
      fs.delete(bak, true)
    } else if (fs.exists(bak)) {
      require(fs.rename(bak, live), s"roll-back $bak -> $live failed")
      fs.delete(tmp, true)
    }
  }
}
