package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM. */
object SparkTestSession {
  val SF = "/root/testdata/sf0.001"
  val SF01 = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = LocalSession(8)

  /** Spark jobs `body` submits from this thread. The job group tags
    * them (schema inference and driver-side planning run on the
    * calling thread); a sentinel job flushes the listener queue, which
    * delivers in order.
    */
  def jobsOf(body: => Unit): Int = jobsAndActionsOf(body)._1

  /** [[jobsOf]] and the Dataset actions behind those jobs: the
    * distinct SQL executions they ran under, so one action (a collect,
    * a count, a localCheckpoint) counts once with every AQE stage or
    * broadcast job it submits.
    */
  def jobsAndActionsOf(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[Properties]()
    def isSentinel(p: Properties) =
      p.getProperty("spark.job.description") == "sentinel"
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(seen.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "")
      try {
        body
        sc.setJobDescription("sentinel")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.asScala.exists(isSentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(isSentinel),
        "listener never saw the sentinel")
      val jobs = seen.asScala.filterNot(isSentinel)
      (jobs.size, jobs.flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).toSet.size)
    } finally sc.removeSparkListener(l)
  }
}
