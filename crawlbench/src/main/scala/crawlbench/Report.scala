package crawlbench

import java.io.PrintStream
import Stats.Iv

/** Turns a run's measurements into named metrics with units. */
object Report {
  type Metrics = Map[String, (Double, String)]

  private def secs(iv: Iv): Double = iv.length / 1e9

  /** Every end-to-end metric the run defines. Those a workload does not
    * exercise (no store, no resume) are absent. */
  def endToEnd(us: Seq[UnitOut], sessionS: Double, setups: Seq[Double], gc: GcWatch,
      window: Iv): Metrics = {
    val steps = us.flatMap(_.steps).map(secs)
    val stepTime = steps.sum
    val urls = us.map(u => u.scheduled + u.fresh).sum
    val heap = gc.afterGcInside(window)
    val base: Metrics = Map(
      "setup_s" -> (sessionS + Stats.median(setups), "s"),
      "urls_per_s" -> (urls / stepTime, "1/s"),
      "results_per_s" -> (us.map(_.results).sum / stepTime, "1/s"),
      "step_p50_s" -> (Stats.median(steps), "s"),
      "step_max_s" -> (steps.max, "s"),
      "heap_peak_mb" -> (heap / 1048576.0, "MiB"))
    val tail = Stats.tail(steps).map(t => "step_tail_s" -> (t.value, "s"))
    val resumes = us.flatMap(_.resumeS)
    val resume = if (resumes.isEmpty) None else Some("resume_s" -> (Stats.median(resumes), "s"))
    val disk = if (us.forall(_.storeLog.isEmpty)) None
      else Some("disk_bytes_per_url" ->
        (us.map(_.storeBytes).sum.toDouble / us.map(_.frontierRows).sum, "B"))
    base ++ tail ++ resume ++ disk
  }

  /** The full end-to-end table: all twelve metrics, with n/a where the
    * workload does not define one. */
  def printEndToEnd(out: PrintStream, m: Metrics, sessionS: Double, setups: Seq[Double],
      failed: Long, attempted: Long): Unit = {
    def row(k: String, note: String = ""): Unit = m.get(k) match {
      case Some((v, u)) => out.println(f"metric $k%-20s $v%14.6f $u%-4s $note")
      case None => out.println(f"metric $k%-20s ${"n/a"}%14s      $note")
    }
    row("setup_s", f"(session $sessionS%.3f + median of set-ups ${setups.map(s => f"$s%.3f").mkString(",")})")
    row("urls_per_s", "(scheduled + newly discovered per second of step time)")
    row("results_per_s", "(first-committed result rows per second of step time)")
    row("step_p50_s")
    row("step_tail_s", "(highest percentile with >= 10 samples beyond it; n/a under 11 steps)")
    row("step_max_s")
    row("resume_s", "(store reopen to first resumed step)")
    row("seed_latency_p50_s", "(open-loop workload only; none in this benchmark)")
    row("seed_latency_tail_s", "(open-loop workload only; none in this benchmark)")
    row("disk_bytes_per_url", "(store bytes per live frontier row at the end)")
    row("heap_peak_mb", "(largest heap in use right after a GC while crawling)")
    out.println(f"metric ${"error_rate"}%-20s ${failed.toDouble / attempted}%14.6f      " +
      s"($failed failed of $attempted attempted)")
  }

  /** Per-layer metrics of a traced run. Metrics of a layer the workload
    * does not exercise read 0. */
  def perLayer(us: Seq[UnitOut], l: JobListener, gc: GcWatch, kernels: Map[String, Double],
      e2e: Metrics, cpus: Int): Metrics = {
    val steps = us.flatMap(_.steps)
    val n = steps.size.toDouble
    def inSteps(t: Long) = steps.exists(s => t >= s.start && t < s.end)
    val logs = us.flatMap(_.storeLog)
    // the benchmark's own file reads inside steps count as neither engine
    // driver time nor store time
    val inspects = logs.flatMap(_.inspects)
    val jobs = l.jobs.map(_.iv)
    val tasks = l.tasks.filter(t => inSteps(t.endNs))
    val stages = l.stages.filter(s => inSteps(s.iv.start))
    val commits = logs.flatMap(_.commits).filter(_.step > 0)
    val frontierCalls = logs.flatMap(c => c.commits.map(_.iv) ++ c.reads ++ c.seenFilters)
    val servers = us.flatMap(_.server)
    val requests = servers.flatMap(_.requests)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def perStep(x: Double) = x / n
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def total(k: String) = us.flatMap(_.totals.values).map(_.getOrElse(k, 0L)).sum.toDouble

    val skew = stages.filter(_.numTasks >= cpus).flatMap { st =>
      val rt = tasks.filter(_.stageId == st.id).map(_.runMs.toDouble)
      if (rt.size >= cpus && rt.sum > 0) Some(rt.max / (rt.sum / rt.size)) else None
    }
    val fetchSteps = steps.filter(s => requests.exists(_.clip(s).nonEmpty))
    val fetchBatches = fetchSteps.flatMap { s =>
      val in = requests.flatMap(_.clip(s))
      if (in.isEmpty) None else Some((in.map(_.end).max - in.map(_.start).min) / 1e9)
    }

    Map(
      "sched.jobs_per_step" -> (perStep(jobs.count(j => inSteps(j.start))), "count"),
      "sched.stages_per_step" -> (perStep(stages.size), "count"),
      "sched.driver_gap_ms_per_step" -> (perStep(steps.map(Stats.driverGap(_, jobs ++ inspects)).sum / 1e6), "ms"),
      "sched.job_cover_share" -> (ratio(steps.map(Stats.covered(_, jobs)).sum, steps.map(_.length).sum), "ratio"),
      "sched.attribution_err_max" -> (stepAttribution(us, l).map(math.abs).max, "ratio"),
      "sched.step_self_ms_per_step" -> (perStep(steps.map(Stats.selfTime(_, frontierCalls ++ inspects)).sum / 1e6), "ms"),
      "sched.exec_busy_ms_per_step" -> (perStep(tasks.map(_.runMs).sum), "ms"),
      "sched.exec_cpu_ms_per_step" -> (perStep(tasks.map(_.cpuNs).sum / 1e6), "ms"),
      "sched.shuffle_write_bytes_per_step" -> (perStep(tasks.map(_.shuffleWrite).sum), "B"),
      "sched.shuffle_read_bytes_per_step" -> (perStep(tasks.map(_.shuffleRead).sum), "B"),
      "sched.spill_bytes" -> (tasks.map(_.spill).sum.toDouble, "B"),
      "sched.gc_ms_per_step" -> (perStep(steps.map(Stats.covered(_, gc.pauses)).sum / 1e6), "ms"),
      "sched.task_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max, "ratio"),
      "sched.fetch_yield" -> (ratio(total("fetched"), total("scheduled")), "ratio"),
      "sched.new_per_candidate" -> (ratio(total("new_tasks"), total("candidates")), "ratio"),
      "sched.in_batch_dup_share" -> (ratio(total("in_batch_dups"), total("candidates")), "ratio"),
      "frontier.commit_s_p50" -> (p50(commits.map(c => secs(c.iv))), "s"),
      "frontier.commit_s_max" -> (if (commits.isEmpty) 0.0 else commits.map(c => secs(c.iv)).max, "s"),
      "frontier.jobs_per_commit" -> (ratio(commits.map(c => jobs.count(j => j.start >= c.iv.start && j.start < c.iv.end)).sum, commits.size), "count"),
      "frontier.compactions" -> (commits.count(_.compaction).toDouble, "count"),
      "frontier.compact_s_p50" -> (p50(commits.filter(_.compaction).map(c => secs(c.iv))), "s"),
      "frontier.read_s_p50" -> (p50(logs.flatMap(_.reads).map(secs)), "s"),
      "frontier.seen_filter_s_p50" -> (p50(logs.flatMap(_.seenFilters).map(secs)), "s"),
      "frontier.bytes_written_per_step" -> (ratio(commits.map(_.bytesWritten).sum, commits.size), "B"),
      "frontier.snap_dirs_max" -> (if (commits.isEmpty) 0.0 else commits.map(_.snapDirs).max.toDouble, "count"),
      "frontier.seen_fill_max" -> (if (commits.isEmpty) 0.0 else commits.map(_.seenFillMax).max, "ratio"),
      "frontier.bloom_bytes" -> (commits.lastOption.map(_.bloomBytes.toDouble).getOrElse(0.0), "B"),
      "fetch.requests" -> (requests.size.toDouble, "count"),
      "fetch.robots_requests_per_host" -> (ratio(servers.map(_.robotsRequests).sum, servers.map(_.robotsHosts).sum), "count"),
      "fetch.server_ms_p50" -> (p50(requests.map(_.length / 1e6)), "ms"),
      "fetch.max_inflight" -> (if (servers.isEmpty) 0.0 else servers.map(_.maxConcurrent).max.toDouble, "count"),
      "fetch.busy_share" -> (ratio(fetchSteps.map(Stats.covered(_, requests)).sum, fetchSteps.map(_.length).sum), "ratio"),
      "fetch.batch_s_p50" -> (p50(fetchBatches), "s"),
      "fetch.transport_errors" -> (servers.map(_.transportErrors).sum.toDouble, "count"),
      "trace.step_p50_s" -> e2e("step_p50_s"),
      "trace.urls_per_s" -> e2e("urls_per_s")
    ) ++ kernels.map { case (k, v) => k -> (v, if (k.endsWith("_per_kb")) "ns/KB" else "ns") }
  }

  /** Per step, the signed share by which its own jobs (and the benchmark's
    * file reads) plus its driver gap miss its wall time; see
    * [[Stats.attributionError]]. */
  def stepAttribution(us: Seq[UnitOut], l: JobListener): Seq[Double] = {
    val timed = l.jobs.map(_.iv) ++ us.flatMap(_.storeLog).flatMap(_.inspects)
    us.flatMap(_.steps).map(Stats.attributionError(_, timed))
  }

  /** Spark jobs, store calls and HTTP requests as spans under the step
    * that was running when they began. */
  def addLayerSpans(spans: SpanLog, l: JobListener, us: Seq[UnitOut]): Unit = {
    val stepSpans = spans.all.filter(_.name == "step")
    def under(name: String, iv: Iv) = spans.add(stepSpans.find(s => iv.start >= s.iv.start &&
      iv.start < s.iv.end).map(_.id).getOrElse(0), name, iv)
    l.jobs.foreach(j => under(s"job${j.id}", j.iv))
    us.flatMap(_.storeLog).foreach { log =>
      log.commits.foreach(c => under(s"commit${c.id}", c.iv))
      log.reads.foreach(under("store_read", _))
      log.seenFilters.foreach(under("seen_filter", _))
      log.inspects.foreach(under("bench_inspect", _))
    }
    us.flatMap(_.server).flatMap(_.requests).foreach(under("http_request", _))
  }

  /** The result line: exactly `correct`, `attempted`, `failed`, `metrics`. */
  def json(correct: Boolean, attempted: Long, failed: Long, m: Metrics): String = {
    val body = m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is not a number: $v")
      s""""$k": {"value": ${java.math.BigDecimal.valueOf(v).toPlainString}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
