package graft

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Three-point decomposition of the file-granular merge COMMIT path
  * (r17 verdict item 7): vary DELTA SIZE × FILE COUNT on one corpus
  * and emit a timing grid, so the sandbox wall readings (q_time_travel
  * 1.9 → 3.4 s at sf0.1) decompose into the model
  *
  *   t(delta, files) ≈ fixed + a·deltaRows + b·files
  *
  * the way the pair-scoring family's sf fits did (PLANS.md r16
  * precedent). `fixed` is the ~6-job commit overhead (key-unique
  * guard, prune join, stage write, stats read-back, manifest link) —
  * constant per commit; `a` is the genuinely delta-proportional term
  * (rewrite bytes); `b` is the per-file term (stats join row, driver
  * manifest bookkeeping) — the coefficient that must stay tiny for
  * the 64k-file / 100 TB design point to hold.
  *
  *   MergeFitProbe <sfDir> [fileCounts=16,64,256] [deltas=1,100,10000]
  *
  * One JSON line per (files, delta) cell: min of two merges over
  * disjoint key ranges (distinct ranges, so the second is never a
  * warm replay of the first). Run across sf0.1/sf1/sf3 dirs for the
  * corpus-size axis.
  */
object MergeFitProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val fileCounts = (if (args.length > 1) args(1) else "16,64,256")
      .split(',').map(_.trim.toInt).toSeq
    val deltas = (if (args.length > 2) args(2) else "1,100,10000")
      .split(',').map(_.trim.toInt).toSeq
    val spark = GraftSession.local()

    val base = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
    val nRows = base.count()
    val maxKey = base.agg(max(col("key"))).collect().head.getLong(0)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    for (nf <- fileCounts) {
      val work = java.nio.file.Files.createTempDirectory("graft_mergefit")
      val tbl = work.resolve("tbl").toString
      VersionedTable.init(spark, tbl, base, Seq("key"), nf)
      for (d <- deltas) {
        // two DISJOINT contiguous key windows, both well inside the
        // domain; min over the pair drops one-off JIT/IO noise without
        // ever replaying the same keys
        val starts = Seq(maxKey / 5, 3 * maxKey / 5)
        val runs = starts.map { s0 =>
          val delta = base
            .filter(col("key") >= s0 && col("key") < s0 + d)
            .withColumn("bal", col("bal") + 1.0)
          val before = VersionedTable.files(tbl).toSet
          val (_, t) = timed(VersionedTable.merge(spark, tbl, delta, Seq("key")))
          val after = VersionedTable.files(tbl).toSet
          val written = (after -- before).toSeq
            .map(r => new java.io.File(tbl, r).length()).sum
          (t, (after -- before).size, written)
        }
        val bestIdx = if (runs.head._1 <= runs.last._1) 0 else 1
        val (t, rw, bw) = runs(bestIdx)
        println(s"""{"probe":"merge_fit","sf":"$sfDir","rows":$nRows,""" +
          s""""files":$nf,"delta_keys":$d,"merge_sec":${f"$t%.3f"},""" +
          s""""files_rewritten":$rw,"bytes_written":$bw}""")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    }
    spark.stop()
  }
}
