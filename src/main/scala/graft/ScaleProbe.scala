package graft

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Scale probe for the file-granular VersionedTable commit path (r17):
  * prints one JSON line quantifying that a merge's cost tracks the
  * DELTA, not the table — the acceptance number for replacing
  * full-snapshot-per-commit with per-version file manifests.
  *
  *   ScaleProbe <sfDir> [numFiles]
  *
  * Measures, on the sf customer table clustered into `numFiles`
  * (default 64) files by key:
  *   - init_sec        table creation (the unavoidable O(table) write)
  *   - small_merge_sec a 100-key point-update merge
  *   - small_files     data files that merge rewrote (manifest diff)
  *   - broad_merge_sec a merge touching every key range (worst case —
  *                     the old design's EVERY case)
  *   - broad_files     files that merge rewrote
  *   - overwrite_sec   a full-snapshot replace (what every commit cost
  *                     before r17)
  *
  * The claim being graded: small_files ≪ numFiles and
  * small_merge_sec ≪ overwrite_sec, while broad_merge stays correct at
  * ~overwrite cost (its delta IS table-sized). */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val numFiles = if (args.length > 1) args(1).toInt else 64
    val spark = GraftSession.local()

    val work = java.nio.file.Files.createTempDirectory("graft_scaleprobe")
    val tbl = work.resolve("tbl").toString
    val base = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
    val nRows = base.count()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val (_, tInit) =
      timed(VersionedTable.init(spark, tbl, base, Seq("key"), numFiles))
    val f1 = VersionedTable.files(tbl).toSet

    // 100 contiguous keys: the point-update CDC shape
    val small = base.filter(col("key") >= 1000 && col("key") < 1100)
      .withColumn("bal", col("bal") + 1.0)
    val (_, tSmall) = timed(VersionedTable.merge(spark, tbl, small, Seq("key")))
    val f2 = VersionedTable.files(tbl).toSet

    // every ~1000th key: touches every file's range — the worst case
    val broad = base.filter(col("key") % 1000 === 0)
      .withColumn("bal", col("bal") + 1.0)
    val (_, tBroad) = timed(VersionedTable.merge(spark, tbl, broad, Seq("key")))
    val f3 = VersionedTable.files(tbl).toSet

    val (_, tOver) =
      timed(VersionedTable.overwrite(spark, tbl, base, Seq("key"), numFiles))

    // write amplification in BYTES — the number that matters at 100 TB
    // (wall time at sandbox scale is dominated by fixed per-job
    // overheads, not data volume)
    def bytes(rel: Set[String]): Long =
      rel.toSeq.map(r => new java.io.File(tbl, r).length()).sum
    println(s"""{"probe":"versioned_merge_scale","sf":"$sfDir",""" +
      s""""rows":$nRows,"num_files":${f1.size},""" +
      s""""table_bytes":${bytes(f1)},""" +
      s""""init_sec":${f"$tInit%.2f"},""" +
      s""""small_merge_sec":${f"$tSmall%.2f"},""" +
      s""""small_files_rewritten":${(f2 -- f1).size},""" +
      s""""small_bytes_written":${bytes(f2 -- f1)},""" +
      s""""broad_merge_sec":${f"$tBroad%.2f"},""" +
      s""""broad_files_rewritten":${(f3 -- f2).size},""" +
      s""""overwrite_sec":${f"$tOver%.2f"}}""")
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    spark.stop()
  }
}
