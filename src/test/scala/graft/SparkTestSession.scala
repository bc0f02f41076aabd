package graft

import java.util.concurrent.ConcurrentLinkedQueue

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
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .filter(_ == group)
          .foreach(_ => seen.add(Option(e.properties
            .getProperty("spark.job.description")).getOrElse("")))
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
      while (!seen.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("sentinel"), "listener never saw the sentinel")
      seen.size - 1
    } finally sc.removeSparkListener(l)
  }
}
