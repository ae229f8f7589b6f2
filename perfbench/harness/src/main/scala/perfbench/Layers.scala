package perfbench

/** Turns one traced pass's raw counters and spans into per-layer metrics. */
object Layers {
  def summarize(taken: (Seq[(String, JobCounters)], Map[String, Long], Long, Long),
                spans: Seq[Span], wall: Double, cores: Int): Map[String, Double] = {
    val (jobs, planMs, nodes, exchanges) = taken
    def total(f: JobCounters => Long): Double = jobs.map(j => f(j._2)).sum.toDouble
    val build = spans.filter(_.layer == "catalog.build")
    val buildNames = build.map(_.name).toSet
    Map(
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> total(_.stages),
      "sched.tasks" -> total(_.tasks),
      "sched.scheduler_delay_s" -> total(_.schedDelayMs) / 1e3,
      "sched.task_busy_s" -> total(_.busyMs) / 1e3,
      "sched.task_cpu_s" -> total(_.cpuNs) / 1e9,
      "sched.core_util" -> total(_.busyMs) / 1e3 / (cores * wall),
      "sched.task_failures" -> total(_.taskFailures),
      "sched.stage_retries" -> total(_.stageRetries),
      "shuffle.write_bytes" -> total(_.shuffleWrite),
      "shuffle.read_bytes" -> total(_.shuffleRead),
      "shuffle.fetch_wait_s" -> total(_.fetchWaitMs) / 1e3,
      "spill.mem_bytes" -> total(_.spillMem),
      "spill.disk_bytes" -> total(_.spillDisk),
      "lake.bytes_read" -> jobs.filter(_._1.startsWith("idr_load/")).map(_._2.inputBytes).sum.toDouble,
      "lake.rows_read" -> jobs.filter(_._1.startsWith("idr_load/")).map(_._2.inputRows).sum.toDouble,
      "plan.analysis_ms" -> planMs.getOrElse("analysis", 0L).toDouble,
      "plan.optimizer_ms" -> planMs.getOrElse("optimization", 0L).toDouble,
      "plan.physical_ms" -> planMs.getOrElse("planning", 0L).toDouble,
      "plan.nodes" -> nodes.toDouble,
      "plan.exchanges" -> exchanges.toDouble,
      "catalog.build_s" -> build.map(_.seconds).sum,
      "catalog.action_s" -> spans.filter(_.layer == "catalog.action").map(_.seconds).sum,
      "catalog.jobs_in_build" -> jobs.count(j => buildNames(j._1)).toDouble)
  }

  /** DAG shape of one pass from its stage spans (start = stage run invoked,
    * end = the Runner's metrics callback after the write). */
  def runner(stages: Seq[Span], dependsOn: Map[String, Seq[String]], retries: Double): Map[String, Double] = {
    if (stages.isEmpty) return Map.empty
    val byPipe = stages.groupBy(_.parent).map { case (p, ss) => p -> (ss.map(_.start).min, ss.map(_.end).max) }
    val t0 = stages.map(_.start).min
    val dagWall = (stages.map(_.end).max - t0) / 1e9
    def dur(p: String) = byPipe.get(p).map { case (a, b) => (b - a) / 1e9 }.getOrElse(0.0)
    def chain(p: String): Double = dur(p) + dependsOn.getOrElse(p, Nil).map(chain).foldLeft(0.0)(math.max)
    val depWait = byPipe.toSeq.map { case (p, (start, _)) =>
      val ready = dependsOn.getOrElse(p, Nil).flatMap(byPipe.get).map(_._2).foldLeft(t0)(math.max)
      math.max(0L, start - ready) / 1e9
    }.sum
    val secs = stages.map(_.seconds).sorted
    Map(
      "runner.stage_s" -> secs(secs.size / 2),
      "runner.dag_wall_s" -> dagWall,
      "runner.critical_path_s" -> byPipe.keys.map(chain).max,
      "runner.overlap" -> secs.sum / dagWall,
      "runner.dep_wait_s" -> depWait,
      "runner.retries" -> retries)
  }
}
