package perfbench

import scala.collection.mutable.ArrayBuffer

/** Per-layer metrics of the traced passes, each summed over the
  * traced passes and divided by their number (so a count is per pass),
  * except ratios, which are taken over the totals.
  */
object Layers {
  /** Modules whose queries some workload runs; each reports its metrics
    * on every workload (0 where it runs nothing), so every run prints
    * the same names.
    */
  lazy val modules: Seq[String] =
    Ops.workloads.values.flatten.map(_.module).filter(_ != "sources").toSeq.distinct.sorted

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def compute(tr: Tracer, passWalls: Seq[(Boolean, Double)],
      tracedGcMs: Long, calib: Double, inputBytes: Long,
      problems: ArrayBuffer[String]): Seq[(String, Double)] = {
    val spans = tr.spans.toSeq
    problems ++= Spans.problems(spans)
    val nT = passWalls.count(_._1).max(1).toDouble
    val s = 1e9
    val roots = spans.filter(_.parent == -1)
    val jobs = spans.filter(_.name == "job")
    val jobsOf = jobs.groupBy(_.op)
    val jobsUnder = jobs.groupBy(_.parent)
    val stageJob = tr.stages.toMap
    val jobSpan = jobs.map(j => j.id -> j).toMap
    val tasks = tr.tasks.toSeq.filter(t => stageJob.get(t.stage).exists(jobSpan.contains))
    val tasksUnder = tasks.groupBy(t => jobSpan(stageJob(t.stage)).parent)
    val byName = spans.groupBy(_.name)
    def named(n: String) = byName.getOrElse(n, Nil)
    def tasksOf(sp: Seq[Span]) = sp.flatMap(x => tasksUnder.getOrElse(x.id, Nil))

    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    // planning: the QueryPlanningTracker phases of every action in an op
    val plans = tr.plans.toSeq.filter { case (a, _, _) =>
      roots.exists(r => a >= r.start - Spans.SlackNs && a <= r.end) }
    m("plan.s") = plans.map(_._3).sum / s / nT
    m("plan.actions") = plans.size / nT
    // scheduler
    m("sched.jobs") = jobs.size / nT
    m("sched.stages") = tr.stages.count(st => jobSpan.contains(st._2)) / nT
    m("sched.tasks") = tasks.size / nT
    val jobTime = roots.map(r => Spans.covered(
      jobsOf.getOrElse(r.op, Nil).map(j => (j.start, j.end)), r.start, r.end)).sum
    m("sched.driver_gap_s") = (roots.map(_.dur).sum - jobTime) / s / nT
    // tasks
    val taskDur = tasks.map(t => t.finishNs - t.launchNs)
    val stageMax = tasks.groupBy(_.stage).values.map(ts => ts.map(t => t.finishNs - t.launchNs).max)
    m("task.run_s") = tasks.map(_.runNs).sum / s / nT
    m("task.cpu_s") = tasks.map(_.cpuNs).sum / s / nT
    m("task.gc_s") = tasks.map(_.gcNs).sum / s / nT
    m("task.crit_s") = stageMax.sum / s / nT
    // the share of op wall time that is the slowest task of each stage
    m("task.crit_share") = if (roots.isEmpty) 0.0 else stageMax.sum.toDouble / roots.map(_.dur).sum
    m("task.parallelism") = if (jobTime > 0) taskDur.sum.toDouble / jobTime else 0.0
    m("task.max_share") = if (taskDur.sum > 0) stageMax.sum.toDouble / taskDur.sum else 0.0
    m("task.input_bytes") = tasks.map(_.inBytes).sum / nT
    // shuffle
    m("shuffle.write_bytes") = tasks.map(_.shuffleWrite).sum / nT
    m("shuffle.read_bytes") = tasks.map(_.shuffleRead).sum / nT
    m("shuffle.fetch_wait_s") = tasks.map(_.fetchWaitNs).sum / s / nT
    m("shuffle.spill_bytes") = tasks.map(_.spill).sum / nT
    // sources (GraftStorage)
    Ops.storageCalls.foreach { c =>
      val sp = named(s"sources.$c")
      m(s"sources.$c.s") = sp.map(_.dur).sum / s / nT
      m(s"sources.$c.calls") = sp.size / nT
    }
    val srcSpans = spans.filter(_.name.startsWith("sources."))
    m("sources.commit_tail_s") = srcSpans
      .filter(x => Ops.writeCalls(x.name.stripPrefix("sources.")))
      .map { x =>
        val js = jobsUnder.getOrElse(x.id, Nil)
        if (js.isEmpty) x.dur else x.end - js.map(_.end).max.min(x.end)
      }.sum / s / nT
    val srcTasks = tasksOf(srcSpans)
    m("sources.input_bytes") = srcTasks.map(_.inBytes).sum / nT
    m("sources.input_records") = srcTasks.map(_.inRecords).sum / nT
    val prunedIn = tasksOf(srcSpans.filter(x => Ops.prunedCalls(x.name.stripPrefix("sources."))))
      .map(_.inRecords).sum
    val prunedOps = roots.filter(_.name == "indexed_read").map(_.op)
    val prunedOut = prunedOps.flatMap(tr.resultRows.get).sum
    m("sources.rows_per_result") = if (prunedOut > 0) prunedIn.toDouble / prunedOut else 0.0
    m("sources.output_bytes") = srcTasks.map(_.outBytes).sum / nT
    m("sources.output_files") = tr.onDisk.values.map(_._1).sum / nT
    // bytes the round trips leave on disk per byte of their input
    m("sources.write_amp") = if (tr.onDisk.isEmpty || inputBytes == 0) 0.0
      else tr.onDisk.values.map(_._2).sum.toDouble / (inputBytes * tr.onDisk.size)
    // query modules
    modules.foreach { mod =>
      val b = named(s"$mod.build").map(_.dur).sum
      val e = named(s"$mod.exec").map(_.dur).sum
      m(s"$mod.s") = (b + e) / s / nT
      m(s"$mod.build_s") = b / s / nT
      m(s"$mod.exec_s") = e / s / nT
    }
    // environment and the tracer's own cost
    m("env.calib_s") = calib
    m("env.driver_gc_s") = tracedGcMs / 1e3 / nT
    // pass 0 is left out: it is still warming up after the set-up
    val settled = passWalls.drop(1)
    m("trace.overhead_s") = median(settled.filter(_._1).map(_._2)) -
      median(settled.filterNot(_._1).map(_._2))
    m.toSeq
  }
}
