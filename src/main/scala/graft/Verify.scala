package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Modes:
  *   Verify <sfDir> <outDir>                    — full matrix (the driver's call)
  *   Verify <sfDir> <outDir> <query...>         — named subset (local iteration)
  */
object Verify {

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional trailing query names: verify just those (local iteration)
    val named = rest.toSet
    val unknown = named.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — " +
        "a typo here would silently verify nothing")
    val wanted: String => Boolean = name => named.isEmpty || named(name)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (wanted(name)) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        } catch { case NonFatal(e) =>
          System.err.println(
            s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          // don't leave an older success's parquet in a reused outDir —
          // delete the result dir so oracle_check reports a FAIL for
          // THIS run instead of green-matching stale data
          def rmrf(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
            f.delete()
          }
          rmrf(new java.io.File(s"$outDir/$name"))
        }
        // dedup operators persist intermediates (shingle tables, CC labels)
        // that outlive their query; running all of them in one session
        // would otherwise accumulate cached blocks
        spark.catalog.clearCache()
      }
    }

    // a named subset writes just that subset (and, per the workflow
    // notes, should not feed a full oracle_check)
    val json = JsonUtil.obj(SparkEntry.oracleSql.filter(kv => wanted(kv._1)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
