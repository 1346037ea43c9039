package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs, built with graft's engine
  * posture (GraftSession) so the tests run the plans Verify checks and
  * Bench times. One JVM-wide session keeps the suite fast; tests must
  * not mutate global conf. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.Sf
  def table(name: String) = Tables.load(spark, sf, name)
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` with `listener` registered and returns once the
    * listener has seen every event `body` caused. Listener events are
    * delivered in order, so once a marker registered after `listener`
    * sees a later job end, `listener` has seen everything before it. */
  def listening[A](listener: SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(marker)
    try {
      val out = body
      val group = s"drain-${java.util.UUID.randomUUID}"
      sc.setJobGroup(group, "drain")
      try spark.range(1).count() finally sc.clearJobGroup()
      val drain = sc.statusTracker.getJobIdsForGroup(group).max
      val deadline = System.currentTimeMillis() + 30000
      while (!ended.contains(drain) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(ended.contains(drain), "listener events did not drain")
      out
    } finally {
      sc.removeSparkListener(marker)
      sc.removeSparkListener(listener)
    }
  }

  /** The physical plans of the SQL executions `body` ran: each plan as it
    * started, then each adaptive re-plan, the final one last. Every plan
    * renders one node per line, as `executedPlan.toString` does, for
    * callers that materialize their result and so hand back a plan that
    * no longer shows the work. */
  def executedPlans(body: => Any): Seq[String] = {
    def render(p: SparkPlanInfo, depth: Int): Seq[String] =
      ("  " * depth + p.simpleString) +: p.children.flatMap(render(_, depth + 1))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    listening(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(render(s.sparkPlanInfo, 0).mkString("\n"))
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add(render(u.sparkPlanInfo, 0).mkString("\n"))
        case _ => ()
      }
    })(body)
    plans.asScala.toSeq
  }
}
