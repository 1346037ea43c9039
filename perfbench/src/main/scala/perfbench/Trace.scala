package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into graft, recorded by the benchmark around the call.
  * Times are wall-clock milliseconds so that they line up with Spark's
  * listener events. `layer` is the graft module the call belongs to. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      t0: Double, t1: Double) {
  def dur: Double = (t1 - t0) / 1e3
}

/** An operation of a workload: one window, one backfill, one micro-batch.
  * The per-layer summary groups every event by the op it falls in. */
final case class Op(kind: String, t0: Double, t1: Double) {
  def dur: Double = (t1 - t0) / 1e3
}

/** In-memory span recorder. With tracing off `span` only runs its body,
  * so the untraced runs that give the end-to-end metrics pay nothing. */
final class Tracer(val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = nowMs
      try body
      finally {
        stack.set(stack.get.tail)
        val s = Span(id, parent, name, layer, t0, nowMs)
        synchronized { spans += s }
      }
    }
}

final case class TaskRec(stage: Int, finish: Double, runS: Double, cpuS: Double,
                         gcS: Double, spill: Long, peakMem: Long, shWrite: Long,
                         shRead: Long, inBytes: Long, inRows: Long)
final case class JobRec(id: Int, t0: Double, var t1: Double)
final case class StageRec(id: Int, tasks: Int, t1: Double)
final case class QueryRec(t0: Double, analysisS: Double,
                          optimizationS: Double, planningS: Double,
                          filesRead: Long, explodeRows: Long, partialAggOut: Long,
                          broadcastBytes: Long, joins: Map[String, Int],
                          capsTripped: Int)
final case class BatchRec(t: Double, batchId: Long, triggerS: Double,
                          addBatchS: Double, latestOffsetS: Double, walCommitS: Double,
                          stateRows: Long, stateBytes: Long, dropped: Long,
                          inputRows: Long, rowsUpdated: Long)

/** Spark's public listener APIs, registered from the benchmark: stage,
  * task and shuffle counts, the planning phases and final adaptive plan
  * of every action, and streaming progress. */
final class Recorder(spark: SparkSession) {
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  val queries = mutable.ArrayBuffer[QueryRec]()
  val batches = mutable.ArrayBuffer[BatchRec]()

  private object Walk extends AdaptiveSparkPlanHelper

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += StageRec(i.stageId, i.numTasks,
        i.completionTime.map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        tasks += TaskRec(e.stageId, e.taskInfo.finishTime.toDouble,
          m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
      }
    }
  }

  private def phase(qe: QueryExecution, n: String): (Double, Double) =
    qe.tracker.phases.get(n).map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      .getOrElse((Double.NaN, Double.NaN))

  private def record(qe: QueryExecution): Unit = {
    val end = System.currentTimeMillis().toDouble
    val ph = Seq("analysis", "optimization", "planning").map(n => phase(qe, n))
    val starts = ph.map(_._1).filterNot(_.isNaN)
    val nodes: Seq[SparkPlan] =
      try Walk.collectWithSubqueries(qe.executedPlan) { case p => p }
      catch { case _: Exception => Nil }
    def metric(p: SparkPlan, m: String): Long = p.metrics.get(m).map(_.value).getOrElse(0L)
    def named(n: String) = nodes.filter(_.nodeName == n)
    val partialOut = nodes.filter(p => p.nodeName.endsWith("HashAggregate") &&
      p.simpleString(200).contains("partial_")).map(metric(_, "numOutputRows")).sum
    val joins = Seq("BroadcastHashJoin" -> "bhj", "ShuffledHashJoin" -> "shj",
      "SortMergeJoin" -> "smj", "BroadcastNestedLoopJoin" -> "bnlj")
      .map { case (n, k) => k -> nodes.count(_.nodeName == n) }.toMap
    val caps = qe.observedMetrics.count { case (name, row) =>
      name.startsWith("graft_") && name.contains("cap") &&
        row.schema.fieldNames.zipWithIndex.exists { case (f, i) =>
          f.endsWith("dropped") && !row.isNullAt(i) &&
            row.get(i).toString.toDouble > 0 }
    }
    val q = QueryRec(if (starts.isEmpty) end else starts.min,
      (ph(0)._2 - ph(0)._1) / 1e3, (ph(1)._2 - ph(1)._1) / 1e3,
      (ph(2)._2 - ph(2)._1) / 1e3,
      // input scans only: the benchmark's result store lives under .../store
      nodes.filter(p => p.nodeName.startsWith("Scan") && !p.simpleString(400).contains("/store"))
        .map(metric(_, "numFiles")).sum,
      named("Generate").map(metric(_, "numOutputRows")).sum, partialOut,
      named("BroadcastExchange").map(metric(_, "dataSize")).sum, joins, caps)
    synchronized { queries += q }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      val st = p.stateOperators.headOption
      synchronized {
        batches += BatchRec(System.currentTimeMillis().toDouble, p.batchId,
          d("triggerExecution"), d("addBatch"), d("latestOffset"), d("walCommit"),
          st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
          st.map(_.numRowsDroppedByWatermark).getOrElse(0L), p.numInputRows,
          st.map(_.numRowsUpdated).getOrElse(0L))
      }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Listener events arrive asynchronously; wait for the bus to drain. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var last = -1
    while (System.currentTimeMillis() < deadline && {
      val n = synchronized(tasks.size + queries.size + jobs.size + batches.size)
      val moving = n != last; last = n; moving
    }) Thread.sleep(300)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}
