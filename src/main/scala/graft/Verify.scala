package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Modes:
  *   Verify <sfDir> <outDir>                    — full matrix (the driver's call)
  *   Verify <sfDir> <outDir> <query...>         — named subset (local iteration)
  *   Verify <sfDir> <outDir> --changed          — incremental gate: re-run only
  *     queries whose CANONICALIZED logical plan or oracle SQL changed since
  *     the manifest stored in <outDir>/verify_manifest.json, plus a fixed
  *     smoke set. Plan hashing is engine-level change detection — an edit to
  *     a shared operator re-runs every query whose plan it shifts, which a
  *     git-line-range diff of SparkEntry.scala would miss. Use a PERSISTENT
  *     outDir so unchanged queries keep their previous parquet (the full
  *     oracle_sql.json is always written, so oracle_check still compares
  *     the whole matrix — only the Spark re-execution is skipped).
  *   Verify <sfDir> <outDir> --changed <query...> — --changed restricted
  *     to the named queries; every other query's old manifest hash is
  *     carried forward unchanged.
  */
object Verify {

  /** Always re-run: the end-to-end canaries that exercise scan, shuffle,
    * broadcast join, dedup, and the custom-aggregate path even when no
    * plan changed (catches environment/jar drift the hash can't see). */
  private val Smoke = Set("q1_agg", "q_top10_tokens", "q_star_join",
    "q_dedup_exact", "q_quantile_sketch")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val changedMode = rest.contains("--changed")
    // optional trailing query names: verify just those (local iteration)
    val named = rest.filterNot(_ == "--changed").toSet
    val unknown = named.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — " +
        "a typo here would silently verify nothing")
    val wanted: Option[Set[String]] = if (named.isEmpty) None else Some(named)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    val manifestPath = Paths.get(s"$outDir/verify_manifest.json")
    val oldManifest: Map[String, String] =
      if (changedMode && Files.exists(manifestPath))
        "\"([^\"]+)\"\\s*:\\s*\"([a-f0-9]+)\"".r
          .findAllMatchIn(Files.readString(manifestPath))
          .map(m => m.group(1) -> m.group(2)).toMap
      else Map.empty

    def planHash(name: String): Option[String] =
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.analyzed.canonicalized.toString
        val body = plan + "|" + SparkEntry.oracleSql.getOrElse(name, "")
        Some(org.apache.commons.codec.digest.DigestUtils.md5Hex(body))
      } catch { case NonFatal(_) => None } // run it; let the run report

    val newManifest = scala.collection.mutable.LinkedHashMap[String, String]()
    val toRun: String => Boolean =
      if (!changedMode) name => wanted.forall(_(name))
      else { name =>
        if (!wanted.forall(_(name))) {
          // --changed restricted to named queries: carry the old hash
          // forward for everything else so a changed-but-unnamed query
          // still re-runs on the next unrestricted --changed pass.
          oldManifest.get(name).foreach(newManifest(name) = _)
          false
        } else {
          val h = planHash(name)
          h.foreach(newManifest(name) = _)
          Smoke(name) || h.isEmpty || !oldManifest.get(name).contains(h.get)
        }
      }

    var ran = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (toRun(name)) {
        ran += 1
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        } catch { case NonFatal(e) =>
          System.err.println(
            s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          // a crashing query must NOT persist its new plan hash (drop
          // it so the next --changed pass re-runs it) and must not
          // leave an older success's parquet in a PERSISTENT outDir —
          // delete the result dir so oracle_check reports a FAIL for
          // THIS pass instead of green-matching stale data
          if (changedMode) newManifest -= name
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
    if (changedMode)
      System.err.println(s"[verify] --changed: ran $ran of ${SparkEntry.queries.size}")

    // --changed writes the FULL oracle map (the compare stays whole-matrix);
    // a named subset writes just that subset (and, per the workflow notes,
    // should not feed a full oracle_check).
    val json = JsonUtil.obj(SparkEntry.oracleSql
      .filter(kv => changedMode || wanted.forall(_(kv._1))))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (changedMode)
      Files.writeString(manifestPath, JsonUtil.obj(newManifest.toMap))
    spark.stop()
  }
}
