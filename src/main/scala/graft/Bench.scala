package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Driver-run benchmark: one JSON line on stdout.
  *
  * Every query materializes fully through the noop sink — a count()
  * would let column pruning skip the actual computed columns (a
  * quality-score "benchmark" that never scores anything). The headline
  * value is the flagship top-10-tokens time — the apples-to-apples
  * comparison with the reference's single hashtag-count job; the
  * queries map carries every per-query time plus _total.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b times just those
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.map(o => SparkEntry.queries.filter(kv => o(kv._1)))
      .getOrElse(SparkEntry.queries)

    // Warmup: run every query once at the smallest SF first. Measured:
    // the FIRST execution of an expression shape costs 1-4 s of
    // per-JVM one-time work (classloading + C2-JIT of the eval paths +
    // codegen compile) on top of its real runtime — 0.3 s vs 3.9 s for
    // the same tokenize stage cold vs warm, codegen on or off. A
    // cluster job pays that once per executor lifetime, not per query,
    // so timing steady state is the honest number; the tiny-SF pass
    // compiles/JITs the identical plans at negligible data cost.
    val warmDir0 = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    val warmDir = if (new java.io.File(warmDir0).isDirectory) warmDir0 else sfDir
    // a failing query is recorded as -1; its cause goes to stderr and,
    // for a query that never produced a reading, into the full record
    val causes = scala.collection.mutable.Map[String, String]()
    def report(name: String, e: Throwable): Unit = {
      causes(name) = s"${e.getClass.getName}: ${e.getMessage}"
      System.err.println(s"[bench] $name failed: ${causes(name)}")
    }
    selected.foreach { case (name, fn) =>
      try run(fn(spark, warmDir)) catch { case NonFatal(e) => report(name, e) }
      spark.catalog.clearCache()
    }
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      val ok = try { run(SparkEntry.queries(name)(spark, sfDir)); true }
        catch { case NonFatal(e) => report(name, e); false }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // release operator-persisted intermediates
      if (ok) dt else -1.0
    }
    // Contention-robust timing. A shared container
    // means one wall-clock measurement can absorb tens of seconds of
    // neighbor/GC/IO stall, and a single sorted-order pass lets one
    // contended interval corrupt an alphabetically-CONTIGUOUS block of
    // queries (measured: 12 false >2x regressions, all in the
    // q_token_*..q_tpch_* stretch of the sort order, zero code change).
    // Fix, two independent mechanisms:
    //   1. min over SPARK_GRAFT_PASSES (default 2) FULL passes, each
    //      visiting queries in a different deterministically-shuffled
    //      order — a contended window hits different queries in each
    //      pass, so the per-query min sees at least one clean reading;
    //   2. any query whose pass readings still disagree by >1.5x gets
    //      one extra targeted measurement (min over all three) — the
    //      disagreement itself is the noise signal, so the extra cost
    //      is proportional to observed contention, not suite size.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
    val sortedNames = selected.toSeq.sortBy(_._1).map(_._1)
    val passTimes: Seq[Map[String, Double]] = (0 until passes).map { p =>
      val order = new scala.util.Random(42L + p).shuffle(sortedNames)
      order.map(n => n -> timeOne(n)).toMap
    }
    def minOk(ds: Seq[Double]): Double = {
      val ok = ds.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    val results = sortedNames.map { name =>
      val ds = passTimes.map(_(name))
      val ok = ds.filter(_ >= 0)
      val noisy = ok.size >= 2 && ok.min > 0.05 && ok.max / ok.min > 1.5
      val all = if (noisy) ds :+ timeOne(name) else ds
      name -> minOk(all)
    }
    val flagship = results.toMap.getOrElse("q_top10_tokens", -1.0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.filter(_._2 < 0).map(_._1)
    def fmt(v: Double): String = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

    // The COMPLETE per-query map goes to a file: stdout is read through
    // a 2000-char tail buffer, so 311 keys can never ride the JSON line.
    val fullJson = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString(",")
      s"""{"metric":"top10","value":${fmt(flagship)},"unit":"sec","sf":"$sfDir",""" +
        s""""queries":{$qs},""" +
        s""""failures":${JsonUtil.obj(failed.map(n => n -> causes(n)).toMap)},""" +
        s""""_total":${fmt(total)},"_n":${results.size}}"""
    }
    // SPARK_GRAFT_ONLY subsets are local-iteration runs; writing their
    // partial map over BENCH_FULL.json would destroy the full record.
    // SPARK_GRAFT_FULL_OUT redirects the full map (e.g. a run at another
    // SF must not clobber the committed sf0.1 record).
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_FULL_OUT", "BENCH_FULL.json")
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(fullOut), fullJson)
      catch { case _: Throwable => () }

    // stdout line: slowest-K + failures + totals, K auto-trimmed
    // so the line stays under the 1900 chars that survive the tail buffer.
    def line(k: Int): String = {
      val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(k).sortBy(_._1)
      val qs = (slowest ++ failed.map(_ -> -1.0)
          :+ ("_total" -> total) :+ ("_n" -> results.size.toDouble))
        .map { case (k2, v) => "\"" + k2 + "\":" + fmt(v) }.mkString("{", ",", "}")
      s"""{"metric":"top10","value":${fmt(flagship)},"unit":"sec","queries":$qs,""" +
        s""""full":"$fullOut","sf":"$sfDir"}"""
    }
    val out = (40 to 8 by -4).map(line).find(_.length <= 1900).getOrElse(line(8))
    println(out)
    spark.stop()
  }
}
