package perfbench

import scala.collection.mutable.{ArrayBuffer, HashMap => MMap}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Bench spans are opened by the benchmark around
  * each call into a layer; job spans come from the Spark listener and
  * hang under the bench span that was open when the job was
  * submitted. `op` is the op execution the span belongs to, `parent`
  * is -1 for the op's root span. Times are nanoseconds on the
  * `System.nanoTime` clock.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

final case class TaskRec(stage: Int, launchNs: Long, finishNs: Long,
    runNs: Long, cpuNs: Long, gcNs: Long, shuffleWrite: Long,
    shuffleRead: Long, fetchWaitNs: Long, spill: Long, inBytes: Long,
    inRecords: Long, outBytes: Long)

/** In-memory trace of the traced passes: bench spans, Spark jobs,
  * stages and tasks, and the planning time of every action. Nothing is
  * written until the run ends.
  */
final class Tracer(val spark: SparkSession) {
  private val sc = spark.sparkContext
  // epoch ms (listener timestamps) -> nanoTime clock, re-read at the
  // start of each traced pass so that clock drift stays negligible
  @volatile private var offsetNs = 0L
  private def fromMs(ms: Long): Long = ms * 1000000L + offsetNs

  val spans = ArrayBuffer[Span]()
  val tasks = ArrayBuffer[TaskRec]()
  /** (stage id, owning job span id) of every submitted stage */
  val stages = ArrayBuffer[(Int, Int)]()
  /** (start, end, phase total) of each action's planning, ns */
  val plans = ArrayBuffer[(Long, Long, Long)]()
  /** rows returned, and (files, bytes) left on disk, per storage op */
  val resultRows = MMap[Int, Long]()
  val onDisk = MMap[Int, (Long, Long)]()
  private val jobStarts = MMap[Int, (Int, Int, Long)]() // job -> (op, parent, start)
  private val stageJob = MMap[Int, Int]()               // stage -> job span id
  private var nextId = 0
  private var stack = List.empty[Int]
  private var currentOp = -1
  @volatile var recording = false

  private def newId(): Int = synchronized { nextId += 1; nextId }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val op = Option(p).flatMap(x => Option(x.getProperty("perfbench.op")))
      val parent = Option(p).flatMap(x => Option(x.getProperty("perfbench.span")))
      (op, parent) match {
        case (Some(o), Some(s)) => Tracer.this.synchronized {
          jobStarts(e.jobId) = (o.toInt, s.toInt, fromMs(e.time))
          val id = -e.jobId - 2 // provisional; replaced at job end
          e.stageIds.foreach(st => stageJob(st) = id)
        }
        case _ => ()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (op, parent, start) =>
        val id = newId()
        spans += Span(id, parent, op, "job", start, fromMs(e.time))
        val provisional = -e.jobId - 2
        stageJob.foreachEntry((st, j) => if (j == provisional) stageJob(st) = id)
        for (i <- stages.indices if stages(i)._2 == provisional)
          stages(i) = (stages(i)._1, id)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(j =>
          stages += ((e.stageInfo.stageId, j)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      Tracer.this.synchronized {
        if (stageJob.contains(e.stageId)) {
          val sr = m.shuffleReadMetrics
          tasks += TaskRec(e.stageId, fromMs(e.taskInfo.launchTime),
            fromMs(e.taskInfo.finishTime), m.executorRunTime * 1000000L,
            m.executorCpuTime, m.jvmGCTime * 1000000L,
            m.shuffleWriteMetrics.bytesWritten,
            sr.remoteBytesRead + sr.localBytesRead,
            sr.fetchWaitTime * 1000000L,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Tracer.this.synchronized {
        plans += ((fromMs(ph.map(_.startTimeMs).min),
          fromMs(ph.map(_.endTimeMs).max), ph.map(_.durationMs).sum * 1000000L))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def listenerManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  /** Attach the listeners for one traced pass. */
  def start(): Unit = {
    offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    recording = true
    sc.addSparkListener(sparkListener)
    listenerManager.register(qeListener)
  }

  /** Detach after every queued event of the pass has been delivered. */
  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    listenerManager.unregister(qeListener)
    recording = false
  }

  /** Run `body` as one op execution; its root span is named `name`. */
  def op[A](opId: Int, name: String)(body: => A): A = {
    currentOp = opId
    sc.setLocalProperty("perfbench.op", opId.toString)
    try span(name)(body)
    finally {
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.span", null)
      currentOp = -1
    }
  }

  /** A bench span around one call into a layer (traced passes only). */
  def span[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty("perfbench.span", id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty("perfbench.span",
          stack.headOption.map(_.toString).orNull)
        synchronized { spans += Span(id, parent, currentOp, name, t0, t1) }
      }
    }
}

/** Interval arithmetic and the span-tree checks. */
object Spans {
  /** Total length covered by `ivs` inside [lo, hi]. */
  def covered(ivs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(ch, s.start, s.end))
    }.toMap
  }

  /** Listener timestamps have millisecond resolution. */
  val SlackNs = 5000000L

  /** Problems with the span tree, empty when well-formed: unique ids,
    * every non-root span's parent exists and belongs to the same op,
    * children lie inside their parent, each op has one root, and no
    * self time is negative or exceeds its op's wall time.
    */
  def problems(spans: Seq[Span]): Seq[String] = {
    val out = ArrayBuffer[String]()
    val byId = spans.groupBy(_.id)
    byId.collect { case (id, ss) if ss.size > 1 => out += s"duplicate span id $id" }
    val roots = spans.filter(_.parent == -1)
    roots.groupBy(_.op).collect { case (op, rs) if rs.size > 1 =>
      out += s"op $op has ${rs.size} root spans" }
    val rootOf = roots.map(r => r.op -> r).toMap
    spans.filter(_.parent != -1).foreach { s =>
      byId.get(s.parent).map(_.head) match {
        case None => out += s"span ${s.id} (${s.name}) has no parent ${s.parent}"
        case Some(p) =>
          if (p.op != s.op) out += s"span ${s.id} crosses ops ${s.op} / ${p.op}"
          if (s.start < p.start - SlackNs || s.end > p.end + SlackNs)
            out += s"span ${s.id} (${s.name}) lies outside its parent ${p.name}"
      }
      if (!rootOf.contains(s.op)) out += s"span ${s.id} belongs to an op without root"
    }
    // a cycle would leave some span unreachable from every root
    val kids = spans.groupBy(_.parent)
    val seen = scala.collection.mutable.Set[Int]()
    def walk(id: Int): Unit = if (seen.add(id))
      kids.getOrElse(id, Nil).foreach(k => walk(k.id))
    roots.foreach(r => walk(r.id))
    if (seen.size != spans.size) out += s"${spans.size - seen.size} spans unreachable from a root"
    val self = selfTimes(spans)
    spans.foreach { s =>
      val wall = rootOf.get(s.op).map(_.dur).getOrElse(0L)
      val st = self(s.id)
      if (st < -SlackNs || st > wall + SlackNs)
        out += s"span ${s.id} (${s.name}) self time $st ns outside [0, op wall $wall ns]"
    }
    out.toSeq
  }
}
