package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Empirical decomposition (guide §1.1): run a query warm and print
  * every JOB with its wall time plus the sum of its stages' task
  * times, so the expensive piece of a multi-job operator is visible
  * without the UI, then the query's initial formatted plan and the
  * final adaptive plan of every action of the timed run. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.StageProbe q_x [q_y ...]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq("q_top10_tokens")
    val spark = GraftSession.local()
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    case class JobRec(id: Int, desc: String, start: Long, var end: Long = 0,
                      var stages: Int = 0, var tasks: Int = 0,
                      var taskMs: Long = 0)
    case class StageRec(id: Int, var name: String, var tasks: Int = 0,
                        var taskMs: Long = 0, var wallMs: Long = 0)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stages = mutable.LinkedHashMap[Int, StageRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties.getProperty("spark.job.description"))
          .orElse(Option(e.properties.getProperty("callSite.short")))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = JobRec(e.jobId, d, e.time)
          e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          for (j <- stageToJob.get(si.stageId); r <- jobs.get(j)) {
            r.stages += 1
            r.tasks += si.numTasks
          }
          val sr = stages.getOrElseUpdate(si.stageId,
            StageRec(si.stageId, si.name))
          if (sr.name == "?") sr.name = si.name
          sr.tasks += si.numTasks
          sr.wallMs += (for (s <- si.submissionTime; c <- si.completionTime)
            yield c - s).getOrElse(0L)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          for (j <- stageToJob.get(e.stageId); r <- jobs.get(j);
               m <- Option(e.taskMetrics))
            r.taskMs += m.executorRunTime
          for (m <- Option(e.taskMetrics)) {
            val sr = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId, "?"))
            sr.taskMs += m.executorRunTime
          }
        }
    }
    // each action's own QueryExecution: its executed plan after the run
    // is the FINAL adaptive plan (AQE join rewrites and coalesced shuffle
    // reads are runtime decisions the initial plan cannot show). A query
    // that materializes while it builds (TopK.topK) runs its work in an
    // action before the noop write.
    val finalPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        finalPlans.add(s"$funcName: ${qe.executedPlan}")
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      // warm run: codegen/JIT out of the measurement
      try run(fn(spark, sfDir)) catch { case NonFatal(_) => () }
      spark.catalog.clearCache()
      jobs.clear(); stages.clear(); stageToJob.clear()
      finalPlans.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      run(df)
      val wall = (System.nanoTime() - t0) / 1e9
      val initialPlan = df.queryExecution.explainString(FormattedMode)
      spark.catalog.clearCache()
      Thread.sleep(300) // let listener events drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n=== $n wall $wall%.2fs, ${jobs.size} jobs ===")
      val rows = jobs.values.toSeq
      val jobWall = rows.map(r => (r.end - r.start).max(0L)).sum / 1e3
      println(f"  sum(job wall) ${jobWall}%.2fs (gap to wall = driver/planning)")
      rows.sortBy(r => -(r.end - r.start)).take(25).foreach { r =>
        println(f"  job ${r.id}%3d ${(r.end - r.start) / 1e3}%6.2fs " +
          f"stages=${r.stages}%2d tasks=${r.tasks}%4d taskTime=${r.taskMs / 1e3}%6.2fs  ${r.desc.take(90)}")
      }
      println("  -- stages by task time --")
      stages.values.toSeq.sortBy(-_.taskMs).take(15).foreach { s =>
        println(f"  stage ${s.id}%3d wall ${s.wallMs / 1e3}%6.2fs tasks=${s.tasks}%4d " +
          f"taskTime=${s.taskMs / 1e3}%7.2fs  ${s.name.take(100)}")
      }
      println("  -- initial plan --")
      println(initialPlan)
      println("  -- final adaptive plan of each action of the timed run --")
      if (finalPlans.isEmpty) println("(not captured)")
      finalPlans.forEach(p => println(p))
    }
    spark.stop()
  }
}
