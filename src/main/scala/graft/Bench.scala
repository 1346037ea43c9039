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
  /** Quiet-box reference for one calibration probe from the committed
    * BENCH_FULL.json text: the minimum across that record's own
    * per-pass probe readings (its "refs" echo is a PRIOR minimum and
    * folding it back in would ratchet the reference monotonically
    * DOWNWARD on every refresh). Returns None — caller falls back to
    * the hard-coded constants — when the record carries no
    * calibration block, no reading for the probe, or its own
    * "contended" flag is true: a contended record's pass readings are
    * inflated, and adopting them would ratchet the reference UPWARD
    * exactly when the sentinel's evidence is weakest, quietly raising
    * the bar future contention is graded against (r14 advice).
    */
  def calRefFromRecord(txt: String, probe: String): Option[Double] = {
    if ("\"contended\"\\s*:\\s*true".r.findFirstIn(txt).nonEmpty) None
    else {
      val cal = txt.indexOf("\"calibration\"")
      if (cal < 0) None
      else {
        val block0 = txt.substring(cal)
        val stop = block0.indexOf("\"refs\"")
        val block1 = if (stop > 0) block0.take(stop) else block0
        // strip the probe_drift RATIO maps before matching: per-probe
        // grading (r15) echoes each probe's NAME with its drift RATIO
        // inside every pass block, and the reading regex would adopt a
        // ~1.0x ratio as a seconds reference — measured: refs deflated
        // 2.61 s -> 1.03 for the bpe probe, flagging an honest run
        // ~2.9x "contended" against a reference that was never a time
        val block =
          "\"probe_drift\"\\s*:\\s*\\{[^}]*\\}".r.replaceAllIn(block1, "")
        val re = ("\"" + java.util.regex.Pattern.quote(probe) +
          "\"\\s*:\\s*([0-9.]+)").r
        val vs = re.findAllMatchIn(block).map(_.group(1).toDouble).toSeq
        if (vs.isEmpty) None else Some(vs.min)
      }
    }
  }

  /** Grade one calibration pass (r14 verdict item 2). Returns
    * (per-probe drift ratios, aggregate sum ratio, drifted?). The
    * aggregate Σ probes / Σ refs is kept for continuity with prior
    * records, but grading is per probe: a pass is drifted when ANY
    * probe exceeds 1.5x its reference. The sum weighting masked a
    * real detection in the r14 record's own pass 1 — the flagship
    * probe read 1.64x its reference while the aggregate said 1.06,
    * because the longer bpe probe dominated the sums; contention that
    * hits short scan-bound queries but not long compute-bound ones
    * was invisible by construction.
    */
  def gradePass(readings: Seq[(String, Double)], refs: Map[String, Double])
      : (Seq[(String, Double)], Double, Boolean) = {
    val ratios = readings.map { case (n, v) => n -> v / refs(n) }
    val agg = readings.map(_._2).sum / readings.map(r => refs(r._1)).sum
    (ratios, agg, ratios.exists(_._2 > 1.5))
  }

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
    // the calibration probes (below) must be warmed even when a
    // SPARK_GRAFT_ONLY subset excludes them — a cold pass-1 probe reads
    // as fake 3x "contention" (measured) when it is just codegen + JIT
    val calProbeNames = Seq("q_top10_tokens", "q_bpe_encode")
    val toWarm = selected ++ calProbeNames.filterNot(selected.contains)
      .map(n => n -> SparkEntry.queries(n))
    // a failing query is recorded as -1; its cause goes to stderr and,
    // for a query that never produced a reading, into the full record
    val causes = scala.collection.mutable.Map[String, String]()
    def report(name: String, e: Throwable): Unit = {
      causes(name) = s"${e.getClass.getName}: ${e.getMessage}"
      System.err.println(s"[bench] $name failed: ${causes(name)}")
    }
    toWarm.foreach { case (name, fn) =>
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
    // Contention-robust timing (r11 verdict item 1). A shared container
    // means one wall-clock measurement can absorb tens of seconds of
    // neighbor/GC/IO stall, and a single sorted-order pass lets one
    // contended interval corrupt an alphabetically-CONTIGUOUS block of
    // queries (r10: 2 false >2x regressions; r11: 12, all in the
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
    // Environment-drift sentinel (r13 verdict item 1): the r13 driver
    // sweep shipped numbers up to 13.7x off steady-state on a contended
    // box, and nothing in the emitted JSON could distinguish "code got
    // slower" from "box got slower" — shuffled-min defeats PER-QUERY
    // adjacency bias but is blind to GLOBAL contention. Fix: time a
    // fixed two-query probe at the START of every pass (the flagship
    // scan/shuffle shape + a mid-weight codegen-compute shape) against
    // committed quiet-box references, and emit the per-pass readings in
    // the JSON. Drift = Σ probe times / Σ references — the sum weights
    // the longer probe, so a 0.1 s jitter on the 0.2 s flagship can't
    // fake contention. The run is marked "contended" only when EVERY
    // pass drifts >1.5x: the per-query minimum already survives one bad
    // pass, so the flag fires exactly when no clean reading exists and
    // the minima themselves are suspect. References hold for the
    // driver's sf0.1 corpus; at any other SF the probes still run (the
    // per-pass readings remain comparable to each other) but drift is
    // not graded against the cross-SF constants.
    val calRefDir = "/root/testdata/sf0.1"
    // references track the COMMITTED BENCH_FULL's own calibration
    // block (min across its passes — the quiet-box steady state of the
    // last honest record, SKIPPED when that record is itself marked
    // contended: see calRefFromRecord) so the constants can never
    // silently go stale against the file they claim to mirror; the
    // hard-coded d42bdb8 values remain the fallback for a fresh
    // checkout with no committed calibration block yet
    val calFallback = Map("q_top10_tokens" -> 0.21, "q_bpe_encode" -> 2.68)
    val calRefs = calProbeNames.map { n =>
      val fromFile =
        try {
          val f = new java.io.File("BENCH_FULL.json")
          if (!f.isFile) None
          else calRefFromRecord(new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"), n)
        } catch { case _: Throwable => None }
      n -> fromFile.getOrElse(calFallback(n))
    }
    val calGraded = sfDir.stripSuffix("/") == calRefDir
    // steady-state the probes at the MEASURED corpus before pass 1:
    // the tiny-SF warm-up compiles the plans but cannot prime the
    // sf0.1 page cache / scan shapes, and the committed a799d55 record
    // showed the resulting pass-1 probe reading 4.7x off on a provably
    // quiet box — a standing false "contention suspected" WARN that
    // halved the sentinel's evidence at the default 2 passes
    calProbeNames.foreach(timeOne)
    val calReadings = Array.fill[Seq[(String, Double)]](passes)(Seq.empty)
    val passTimes: Seq[Map[String, Double]] = (0 until passes).map { p =>
      calReadings(p) = calProbeNames.map(n => n -> timeOne(n))
      val order = new scala.util.Random(42L + p).shuffle(sortedNames)
      order.map(n => n -> timeOne(n)).toMap
    }
    // graded per probe, not summed (r14 verdict item 2 — see gradePass)
    val calGrades: Seq[Option[(Seq[(String, Double)], Double, Boolean)]] =
      calReadings.toSeq.map { rs =>
        val ok = rs.forall(_._2 >= 0)
        if (!calGraded || !ok) None
        else Some(gradePass(rs, calRefs.toMap))
      }
    val calDrifts: Seq[Option[Double]] = calGrades.map(_.map(_._2))
    val contended = calGrades.nonEmpty &&
      calGrades.forall(g => g.exists(_._3))
    calGrades.zipWithIndex.foreach { case (g, i) =>
      g.filter(_._3).foreach { case (ratios, agg, _) =>
        val worst = ratios.maxBy(_._2)
        System.err.println(f"WARN calibration pass ${i + 1}: probe " +
          f"${worst._1} drift ${worst._2}%.2fx (aggregate $agg%.2fx) vs " +
          "committed reference — box contention suspected")
      }
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

    // Scale soak (dedup/ANN/join family at 1x and 10x via in-memory
    // replication — see Soak): skipped when SPARK_GRAFT_SOAK=0 or when
    // timing a hand-picked SPARK_GRAFT_ONLY subset. A soak CRASH is
    // reported as soak_error, never as a silently-empty soak map — an
    // empty {} must mean "not requested", not "failed and swallowed".
    val skipSoak = sys.env.getOrElse("SPARK_GRAFT_SOAK", "1") == "0" || only.nonEmpty
    val (soak, soakError): (Seq[(String, Double, Double)], Option[String]) =
      if (skipSoak) (Seq.empty, None)
      else {
        val repl = sys.env.getOrElse("SPARK_GRAFT_SOAK_REPL", "10").toInt
        try (Soak.run(spark, sfDir, repl), None)
        catch { case e: Throwable =>
          (Seq.empty, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(160)))
        }
      }
    val soakJson = soak
      .map { case (n, t1, tR) => "\"" + n + "\":[" + fmt(t1) + "," + fmt(tR) + "]" }
      .mkString("{", ",", "}")
    // 30× point for the tightest-headroom families (r7 verdict item 7):
    // substring dedup's 10× ratio (~5×) left the least margin, and the
    // bpe-encode / kmeans-assign paths were the round's parity fixes —
    // their scale curves get a deeper sample. Skipped with the soak.
    val soak30: Seq[(String, Double, Double)] =
      if (skipSoak || soakError.nonEmpty) Seq.empty
      else try Soak.runAt(spark, sfDir,
        Set("substring_dedup", "bpe_encode", "bpe_encode_cv", "kmeans_assign"), 30)
      catch { case _: Throwable => Seq.empty }
    val soak30Json = soak30
      .map { case (n, t1, tR) => "\"" + n + "\":[" + fmt(t1) + "," + fmt(tR) + "]" }
      .mkString("{", ",", "}")
    val soakErrJson = soakError.fold("")(m =>
      ",\"soak_error\":" + JsonUtil.quote(m))

    // The COMPLETE per-query map goes to a repo file — the harness
    // captures stdout through a 2000-char tail buffer (measured: round-1's
    // full map broke its parse), so 168 keys can never ride the JSON
    // line. BENCH_FULL.json is the round-over-round diff surface.
    val calJson = {
      val passJs = calReadings.toSeq.zipWithIndex.map { case (rs, i) =>
        val qs = rs.map { case (n, v) => "\"" + n + "\":" + fmt(v) }.mkString(",")
        val d = calDrifts(i).map(fmt).getOrElse("null")
        // per-probe ratios + the pass verdict ride along so a reader
        // can audit the ANY-probe grading without recomputing it
        val pd = calGrades(i).map { case (ratios, _, drifted) =>
          val rj = ratios.map { case (n, r) => "\"" + n + "\":" + fmt(r) }
            .mkString("{", ",", "}")
          s""","probe_drift":$rj,"drifted":$drifted"""
        }.getOrElse("")
        s""""pass_${i + 1}":{$qs,"drift":$d$pd}"""
      }
      // the references graded against ride along so a reader can audit
      // a drift number without digging up the prior committed record
      val refJs = calRefs.map { case (n, v) => "\"" + n + "\":" + fmt(v) }
        .mkString("\"refs\":{", ",", "}")
      (passJs :+ refJs).mkString("{", ",", "}")
    }
    val fullJson = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString(",")
      s"""{"metric":"top10","value":${fmt(flagship)},"unit":"sec","sf":"$sfDir",""" +
        s""""queries":{$qs},"soak_1x_vs_10x_sec":$soakJson$soakErrJson,""" +
        s""""soak_1x_vs_30x_sec":$soak30Json,""" +
        s""""calibration":$calJson,"contended":$contended,""" +
        s""""failures":${JsonUtil.obj(failed.map(n => n -> causes(n)).toMap)},""" +
        s""""_total":${fmt(total)},"_n":${results.size}}"""
    }
    // SPARK_GRAFT_ONLY subsets are local-iteration runs; writing their
    // partial map over BENCH_FULL.json would destroy the round-over-
    // round diff surface (the full file is committed per round).
    // SPARK_GRAFT_FULL_OUT redirects the full map (e.g. a cross-SF
    // sweep writing BENCH_SF1_FULL.json must not clobber the sf0.1
    // record the calibration references track).
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_FULL_OUT", "BENCH_FULL.json")
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(fullOut), fullJson)
      catch { case _: Throwable => () }

    // stdout line: slowest-K + failures + totals + soak, K auto-trimmed
    // so the line stays under the 1900 chars that survive the tail buffer.
    def line(k: Int): String = {
      val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(k).sortBy(_._1)
      val qs = (slowest ++ failed.map(_ -> -1.0)
          :+ ("_total" -> total) :+ ("_n" -> results.size.toDouble))
        .map { case (k2, v) => "\"" + k2 + "\":" + fmt(v) }.mkString("{", ",", "}")
      val cal = calDrifts.map(_.map(fmt).getOrElse("null")).mkString("[", ",", "]")
      s"""{"metric":"top10","value":${fmt(flagship)},"unit":"sec","queries":$qs,""" +
        s""""soak":$soakJson$soakErrJson,"cal_drift":$cal,"contended":$contended,""" +
        s""""full":"$fullOut","sf":"$sfDir"}"""
    }
    val out = (40 to 8 by -4).map(line).find(_.length <= 1900).getOrElse(line(8))
    println(out)
    spark.stop()
  }
}
