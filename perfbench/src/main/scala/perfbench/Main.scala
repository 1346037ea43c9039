package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. run.py builds it, prepares the inputs and
  * calls it once per run:
  *
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *                      --data DIR --work DIR --out RECORD.json
  *   perfbench.Main gen-batch --seed N --data DIR [--hours H --tweets T]
  *
  * A run writes one JSON record: metrics, failures with their cause,
  * and the outputs the Python side checks against the generators.
  */
object Main {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String, d: Int): Int = kv.get(k).map(_.toInt).getOrElse(d)
  }

  def parse(args: Seq[String]): Args =
    Args(args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq.drop(1))
    argv.headOption match {
      case Some("run") => run(a)
      case Some("gen-batch") =>
        BatchHour.generate(a("seed").toLong, a("data"), a.int("hours", BatchHour.Hours),
          a.int("tweets", BatchHour.TweetsPerHour), a.int("cpus", cpus))
      case other => sys.error(s"unknown mode $other")
    }
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The engine posture graft's own Bench measures with. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap occupancy right after collections, summed over the heap pools:
    * `peak` over every GC from `reset()` on, and `retainedMb()` after a
    * full collection, the live heap the workload still holds. */
  object HeapAfterGc extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile var peak = 0L
    def reset(): Unit = peak = 0L
    def retainedMb(): Double = {
      // Spark's ContextCleaner drops shuffle and broadcast blocks only
      // after a collection finds them unreachable: collect, let it run,
      // collect again
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
      ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => heapPools(p.getName))
        .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
    }
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = peak max used }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))
  }

  /** Failed operations keep their cause. Fatal errors (out of memory,
    * interrupts) are not caught here: they abort the run visibly. */
  final class Outcomes {
    var attempted = 0
    val failures = mutable.ArrayBuffer[Map[String, Any]]()
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch { case NonFatal(e) =>
        failures += Map("op" -> what, "class" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage).take(500))
        None
      }
    }
  }

  /** What a workload hands back: end-to-end values, per-layer values,
    * outputs for the checker, and the ops that the trace summary groups
    * events by. */
  final case class Result(metrics: Map[String, Double], layers: Recorder => Map[String, Double],
                          outputs: Map[String, Any], ops: Seq[Op])

  trait Workload {
    /** Build the session's view of the inputs: everything the first
      * timed op needs, without running it. */
    def setup(spark: SparkSession): Unit
    /** Untimed pass that compiles and JITs the measured code paths. */
    def warm(spark: SparkSession): Unit
    def measure(spark: SparkSession, seconds: Int, tracer: Tracer, out: Outcomes): Result
  }

  private def run(a: Args): Unit = {
    val work = a("work")
    val trace = a("trace") == "1"
    Seq("spark-local", "warehouse", "tmp").foreach(d => Files.createDirectories(Paths.get(work, d)))
    // set-up runs from the start of this JVM until the first timed op is
    // ready: session, graft's extensions, the inputs' schema and the
    // warm-up. The inputs were made before, by another JVM.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def elapsedS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    def phase(what: String): Unit = System.err.println(f"perfbench: $what at $elapsedS%.1f s")
    val w: Workload = a("workload") match {
      case "batch_hour" => new BatchHour(a("data"), work)
      case "speed_layer" => new SpeedLayer(a("data"), work, a("seed").toLong, a("python"), a("gen"))
      case o => sys.error(s"unknown workload $o")
    }
    val spark = session(cpus, work)
    w.setup(spark)
    val sessionS = elapsedS
    phase("set up")
    w.warm(spark)
    val setupS = elapsedS
    phase("warmed up")
    spark.catalog.clearCache()
    val rec = if (trace) Some(new Recorder(spark)) else None
    rec.foreach(_.register())
    val tracer = new Tracer(trace)
    val outcomes = new Outcomes
    // the heap peak is the measured loop's: the warm-up's garbage goes first
    System.gc()
    HeapAfterGc.reset()
    val res = w.measure(spark, a("seconds").toInt, tracer, outcomes)
    val peakMb = HeapAfterGc.peak / 1048576.0
    val retainedMb = HeapAfterGc.retainedMb()
    phase("measured")
    val layers = rec.map { r =>
      r.drain(); r.unregister()
      val l = Summary.layers(tracer, r, res.ops) ++ res.layers(r) ++ extraTraced(w, work)
      val listed = l.getOrElse("sources.files_listed", 0.0)
      l + ("sources.prune_ratio" -> (if (listed > 0) l("sources.files_read") / listed else 0.0))
    }.getOrElse(Map.empty)
    rec.foreach(_ => Summary.writeSpans(tracer, s"$work/spans.jsonl"))
    val record = Map(
      "metrics" -> (res.metrics ++ Map("setup_s" -> setupS, "heap_after_gc_mb" -> peakMb)),
      "setup_session_s" -> sessionS,
      "heap_retained_mb" -> retainedMb,
      "layers" -> layers,
      "attempted" -> outcomes.attempted,
      "failures" -> outcomes.failures.toSeq,
      "outputs" -> res.outputs,
      "jvm" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "cpus" -> cpus)
    Files.writeString(Paths.get(a("out")), Json.value(record))
    phase("done")
    SparkSession.active.stop()
  }

  /** Once per traced run: the backfill on one core against all cores,
    * both untraced, warm and into the same store, for the parallel
    * speed-up of the batch layer's data path. */
  private def extraTraced(w: Workload, work: String): Map[String, Double] = w match {
    case b: BatchHour =>
      // on each side the first backfill warms the context and is dropped
      val all = median(b.backfills(SparkSession.active, 1 + ParallelRuns).drop(1))
      SparkSession.active.stop()
      val one = median(b.backfills(session(1, work), 1 + ParallelRuns).drop(1))
      Map("exec.parallel_speedup" -> one / all, "exec.backfill_local1_s" -> one)
    case _ => Map.empty
  }
  val ParallelRuns = 2

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Just enough JSON for the record file. */
object Json {
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => graft.JsonUtil.quote(k) + ":" + value(v) }
      .mkString("{", ",", "}")
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => graft.JsonUtil.quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => graft.JsonUtil.quote(other.toString)
  }
}
