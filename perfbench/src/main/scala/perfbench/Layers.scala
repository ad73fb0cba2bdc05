package perfbench

/** Per-layer metrics of a traced run, from the harness spans and the
  * Spark listener counters. */
object Layers {
  /** Largest allowed |accounted / wall − 1| (see `reconcile`). */
  val ReconcileTolerance = 0.05

  /** Harness spans that wrap one call into an engine entry point. The
    * spans that only group them (a pass, a query, a run) are not. */
  val Calls = Set("build", "action", "topology.parse", "topology.start",
    "topology.run_batch", "warm", "feed", "drain", "stop")

  /** `window` is the traced interval (epoch ms), timed by the workload
    * around the traced call, not by a span. */
  def spark(res: Result, tracer: Tracer, c: SparkCounters,
            window: (Double, Double)): Unit = {
    val jobs = c.jobs.synchronized(c.jobs.toVector)
      .filterNot(_.endMs.isNaN)
    val phases = c.phases.synchronized(c.phases.toVector)
    jobs.foreach(j => tracer.attach("job", j.id.toString, j.startMs, j.endMs))
    phases.foreach { case (n, s, e) =>
      tracer.attach("catalyst." + n, "", s, e) }
    val spans = tracer.all
    val builds = spans.filter(_.name == "build")
    def inBuild(t: Double) = builds.exists(b => b.startMs <= t && t < b.endMs)
    val nJobs = jobs.size.toDouble
    val buildJobs = jobs.count(j => inBuild(j.startMs)).toDouble
    val (w0, w1) = window
    val wallSec = (w1 - w0) / 1e3
    val cores = tracer.coresHint
    val l = res.layers
    l("build.s") = builds.map(_.dur).sum / 1e3
    l("build.jobs") = buildJobs
    l("build.jobs_frac") = if (nJobs > 0) buildJobs / nJobs else 0.0
    l("catalyst.analysis_s") = c.phaseSec("analysis")
    l("catalyst.optimization_s") = c.phaseSec("optimization")
    l("catalyst.planning_s") = c.phaseSec("planning")
    l("catalyst.aqe_replans") = c.aqeReplans.toDouble
    l("exec.jobs") = nJobs
    l("exec.stages") = c.stages.toDouble
    l("exec.tasks") = c.tasks.toDouble
    l("exec.task_s") = c.taskMs / 1e3
    l("exec.cpu_s") = c.cpuNs / 1e9
    l("exec.gc_s") = c.gcMs / 1e3
    l("exec.busy_frac") = c.taskMs / 1e3 / (wallSec * cores)
    l("exec.shuffle_bytes") = c.shuffleBytes.toDouble
    l("exec.shuffle_records") = c.shuffleRecords.toDouble
    l("exec.spill_bytes") = c.spillBytes.toDouble
    l("exec.failed_tasks") = c.failedTasks.toDouble
    reconcile(res, window,
      jobs.map(j => (j.startMs, j.endMs)),
      phases.map(p => (p._2, p._3)),
      spans.filter(s => Calls(s.name)).map(s => (s.startMs, s.endMs)))
    l("trace.dropped_intervals") = tracer.dropped.toDouble
    l("trace.listener_s") = c.callbackNs / 1e9
  }

  /** Split the traced window into layers, each from its own source:
    * exec is the union of the SparkListener's job intervals (concurrent
    * jobs count once); catalyst is the QueryExecutionListener's phase
    * time outside jobs; calls is the harness's entry-point spans outside
    * both (DataFrame building, listing, waiting on the driver). Their sum
    * is the window time some instrument accounts for. Against the window
    * length it misses time spent outside every instrumented call, and
    * time lost when the clocks of the sources disagree. */
  def reconcile(res: Result, window: (Double, Double),
                jobs: Seq[(Double, Double)], phases: Seq[(Double, Double)],
                calls: Seq[(Double, Double)]): Unit = {
    val (w0, w1) = window
    def cover(iv: Seq[(Double, Double)]): Double = Tracer.unionLength(
      iv.collect { case (s, e) if e > w0 && s < w1 =>
        (math.max(s, w0), math.min(e, w1)) })
    val exec = cover(jobs)
    val catalyst = cover(jobs ++ phases) - exec
    val driver = cover(jobs ++ phases ++ calls) - exec - catalyst
    val wallMs = w1 - w0
    val l = res.layers
    l("driver.outside_jobs_s") = (wallMs - exec) / 1e3
    l("trace.exec_s") = exec / 1e3
    l("trace.catalyst_s") = catalyst / 1e3
    l("trace.calls_s") = driver / 1e3
    val err = math.abs((exec + catalyst + driver) / wallMs - 1.0)
    l("trace.reconcile_err") = err
    l("trace.reconcile_tol") = ReconcileTolerance
    if (err > ReconcileTolerance)
      res.fail(1, f"layer times miss traced wall time by ${err * 100}%.1f%%")
  }
}
