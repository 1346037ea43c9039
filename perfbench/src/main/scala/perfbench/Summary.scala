package perfbench

import java.nio.file.{Files, Paths}

/** Trace summariser: turns the spans and listener events of a traced run
  * into per-layer metrics. Events are grouped by the op whose interval
  * holds them. Two groupings are used:
  *
  *  - per op (a window, a micro-batch): times and counts that a single
  *    op pays, reported as the median over ops;
  *  - per pass (the backfill window, the whole stream): data volumes,
  *    reported as the median over passes.
  *
  * A layer's self time is the time of its spans not covered by child
  * spans, by planning phases (`plans`) or by running jobs (`exec`). */
object Summary {
  type Iv = (Double, Double)

  private def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private def len(ivs: Seq[Iv]): Double = union(ivs).map(i => i._2 - i._1).sum / 1e3

  private def clip(ivs: Seq[Iv], w: Iv): Seq[Iv] =
    ivs.map(i => (math.max(i._1, w._1), math.min(i._2, w._2))).filter(i => i._2 > i._1)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs)

  val PerOp = Set("window", "batch")
  val PerPass = Set("backfill", "run")

  def layers(tr: Tracer, r: Recorder, workloadOps: Seq[Op]): Map[String, Double] = {
    val data = r.batches.filter(_.inputRows > 0).toSeq
    val ops = workloadOps ++ data.map(b => Op("batch", b.t - b.triggerS * 1e3, b.t))
    val perOp = ops.filter(o => PerOp(o.kind))
    val passes = ops.filter(o => PerPass(o.kind))
    def in(o: Op, t: Double) = t >= o.t0 && t <= o.t1
    def spansIn(o: Op) = tr.spans.filter(s => in(o, s.t0)).toSeq
    def queriesIn(o: Op) = r.queries.filter(q => in(o, q.t0)).toSeq
    def tasksIn(o: Op) = r.tasks.filter(t => in(o, t.finish)).toSeq
    def jobsIn(o: Op) = r.jobs.values.filter(j => in(o, j.t0)).toSeq
    def stagesIn(o: Op) = r.stages.filter(s => in(o, s.t1)).toSeq
    def jobIvs(o: Op): Seq[Iv] = jobsIn(o).map(j => (j.t0, if (j.t1.isNaN) o.t1 else j.t1))
    def planIvs(o: Op): Seq[Iv] = queriesIn(o).map(q =>
      (q.t0, q.t0 + (q.analysisS + q.optimizationS + q.planningS) * 1e3))

    def opMed(f: Op => Double) = med(perOp.map(f))
    def passMed(f: Op => Double) = med(passes.map(f))
    def spanMed(name: String) = med(tr.spans.filter(_.name == name).map(_.dur).toSeq)

    val filesRead = opMed(o => (0L +: queriesIn(o).map(_.filesRead)).max.toDouble)
    val explode = passMed(o => queriesIn(o).map(_.explodeRows).sum.toDouble)
    val partialOut = passMed(o => queriesIn(o).map(_.partialAggOut).sum.toDouble)

    // self time per layer, per op
    val selfPerOp: Seq[Map[String, Double]] = perOp.map { o =>
      val jobs = clip(jobIvs(o), (o.t0, o.t1))
      val plans = clip(planIvs(o), (o.t0, o.t1))
      val spans = spansIn(o)
      val bySpan = spans.map { s =>
        val kids = spans.filter(_.parent == s.id).map(k => (k.t0, k.t1))
        s.layer -> (len(Seq((s.t0, s.t1))) - len(clip(kids ++ jobs ++ plans, (s.t0, s.t1))))
      }
      bySpan.groupBy(_._1).map { case (l, xs) => s"$l.self_s" -> xs.map(_._2).sum } ++
        Map("exec.self_s" -> len(jobs), "plans.self_s" -> len(plans))
    }
    val selfKeys = Seq("sources", "operators", "plans", "exec").map(_ + ".self_s")
    val self = selfKeys.map(k => k -> med(selfPerOp.map(_.getOrElse(k, 0.0)))).toMap

    Map(
      "sources.list_s" -> opMed(o => spansIn(o).filter(_.name == "TableLoader.read").map(_.dur).sum),
      "sources.files_read" -> filesRead,
      "sources.scans_per_window" -> opMed { o =>
        val qs = queriesIn(o).map(_.filesRead)
        if (qs.isEmpty || qs.max == 0) 0.0 else qs.sum.toDouble / qs.max
      },
      "sources.scan_task_s" -> passMed(o => tasksIn(o).filter(_.inBytes > 0).map(_.runS).sum),
      "sources.scan_rows" -> passMed(o => tasksIn(o).map(_.inRows).sum.toDouble),
      "sources.scan_bytes" -> passMed(o => tasksIn(o).map(_.inBytes).sum.toDouble),
      "sources.csv_s" -> opMed(o => spansIn(o).filter(_.name == "Sinks.csv").map(_.dur).sum),
      "sources.store_retire_s" -> spanMed("ResultStore.rangeDelete"),
      "sources.store_upsert_s" -> spanMed("ResultStore.upsert"),
      "operators.explode_rows" -> explode,
      "operators.partial_agg_ratio" -> (if (explode > 0) partialOut / explode else 0.0),
      "operators.shuffle_write_bytes" -> passMed(o => tasksIn(o).map(_.shWrite).sum.toDouble),
      "operators.shuffle_read_bytes" -> passMed(o => tasksIn(o).map(_.shRead).sum.toDouble),
      "operators.agg_task_s" -> passMed(o => tasksIn(o).filter(_.shRead > 0).map(_.runS).sum),
      "plans.analysis_s" -> opMed(o => queriesIn(o).map(_.analysisS).sum),
      "plans.optimization_s" -> opMed(o => queriesIn(o).map(_.optimizationS).sum),
      "plans.planning_s" -> opMed(o => queriesIn(o).map(_.planningS).sum),
      "plans.broadcast_bytes" -> passMed(o => queriesIn(o).map(_.broadcastBytes).sum.toDouble),
      "exec.sched_gap_s" -> opMed(o => o.dur - len(clip(jobIvs(o), (o.t0, o.t1)))),
      "exec.jobs" -> opMed(o => jobsIn(o).size.toDouble),
      "exec.stages" -> opMed(o => stagesIn(o).size.toDouble),
      "exec.tasks" -> opMed(o => tasksIn(o).size.toDouble),
      "exec.task_run_s" -> passMed(o => tasksIn(o).map(_.runS).sum),
      "exec.task_cpu_s" -> passMed(o => tasksIn(o).map(_.cpuS).sum),
      "exec.gc_s" -> passMed(o => tasksIn(o).map(_.gcS).sum),
      "exec.spill_bytes" -> passMed(o => tasksIn(o).map(_.spill).sum.toDouble),
      "exec.peak_exec_mem_bytes" -> (0L +: r.tasks.map(_.peakMem).toSeq).max.toDouble,
      "exec.starved_stages" -> passMed { o =>
        val ts = tasksIn(o).groupBy(_.stage).map { case (s, xs) => s -> xs.map(_.runS).sum }
        stagesIn(o).count(s => s.tasks <= 2 && ts.getOrElse(s.id, 0.0) >= StarvedTaskS).toDouble
      },
      "graft.observed_caps_tripped" -> r.queries.map(_.capsTripped).sum.toDouble,
      "streaming.trigger_s" -> med(data.map(_.triggerS)),
      "streaming.add_batch_s" -> med(data.map(_.addBatchS)),
      "streaming.latest_offset_s" -> med(data.map(_.latestOffsetS)),
      "streaming.wal_commit_s" -> med(data.map(_.walCommitS)),
      "streaming.state_rows" -> (0L +: data.map(_.stateRows)).max.toDouble,
      "streaming.state_bytes" -> (0L +: data.map(_.stateBytes)).max.toDouble,
      "streaming.rows_dropped_by_watermark" -> r.batches.map(_.dropped).sum.toDouble,
      "streaming.batches" -> r.batches.size.toDouble) ++
      Seq("bhj", "shj", "smj", "bnlj").map(k =>
        s"plans.joins_$k" -> passMed(o => queriesIn(o).map(_.joins.getOrElse(k, 0)).sum.toDouble)) ++
      self ++
      Map("streaming.self_s" -> med(data.map(b => b.triggerS - b.addBatchS)))
  }

  /** A stage of at most two tasks that still carries this much task time
    * leaves the other cores idle. */
  val StarvedTaskS = 0.1

  def writeSpans(tr: Tracer, path: String): Unit =
    Files.writeString(Paths.get(path), tr.spans.map(s => Json.value(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "t0_ms" -> s.t0, "t1_ms" -> s.t1))).mkString("", "\n", "\n"))
}
