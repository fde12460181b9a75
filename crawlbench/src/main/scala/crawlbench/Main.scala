package crawlbench

import java.nio.file.{Files, Path, Paths}
import graft.{ScalingRun, Udfs}
import Stats.Iv

/**
 * The crawl benchmark's driver: one workload, one seed, one run.
 *
 * {{{
 * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <scratch>
 * }}}
 *
 * It computes the workload's reference result (which also warms up the
 * JVM), times two extra set-ups, then runs whole crawls of the workload
 * until `--seconds` of crawling have passed (at least one), and checks
 * every crawl's final state. Set-up time is the median over the extra
 * set-ups and the measured crawls' own. With `--trace 1` it also attributes
 * step time to Spark jobs, the store, the HTTP server and the GC, and
 * times the single-thread kernels. The last stdout line is `result `
 * followed by the JSON result with every metric the run defines; the lines
 * before it are the full report.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, dir: Path)

  def parse(a: Seq[String]): Args = {
    val m = a.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not '$t'")
    }
    val seconds = need("seconds").toInt
    require(seconds > 0, "--seconds must be positive")
    Args(need("workload"), need("seed").toLong, seconds, trace, Paths.get(need("dir")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    val wl = Workload(args.workload)
    val code = try run(args, wl) catch {
      case e: Throwable =>
        System.err.println(s"crawlbench: ${args.workload} failed: $e")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  private def run(args: Args, wl: Workload): Int = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spans = new SpanLog
    val t0 = System.nanoTime()
    val spark = Udfs.newSession(s"local[$cpus]", cpus, "crawlbench")
    val sessionS = (System.currentTimeMillis() - Clock.jvmStartMs) / 1e3
    val root = spans.add(0, "run", Iv(Clock.ns(Clock.jvmStartMs), Clock.ns(Clock.jvmStartMs)))
    spans.add(root, "session", Iv(Clock.ns(Clock.jvmStartMs), System.nanoTime()))
    val listener = if (args.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val gc = new GcWatch
    val scratch = Files.createDirectories(args.dir.resolve("scratch"))
    val ctx = new Ctx(spark, cpus, args.seed, args.trace, scratch)
    def span[T](name: String)(f: => T): T = {
      val s = System.nanoTime()
      try f finally spans.add(root, name, Iv(s, System.nanoTime()))
    }
    try {
      val (pages, genS) = Workload.timed(span("generate")(wl.pages(spark, args.seed)))
      val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
      def release(): Unit = releaseCached(spark, keep)
      val expected = span("reference")(wl.expected(ctx, pages))
      release()
      val extraSetups = (1 to 2).map(_ => span("setup")(wl.setupOnce(ctx, pages)))
      val (spin, mapOnly) = span("calibrate")(calibrate(spark, cpus))
      release()

      val units = Seq.newBuilder[UnitOut]
      var crawled = 0.0
      var last = 0.0
      while (crawled == 0.0 || crawled + last <= args.seconds) {
        val u = wl.runUnit(ctx, pages)
        units += u
        val uid = spans.add(root, "unit", u.iv)
        u.steps.foreach(st => spans.add(uid, "step", st))
        last = u.iv.length / 1e9
        crawled += last
        release()
      }
      val us = units.result()
      // the measured crawls' own set-ups count among the set-up samples
      val setups = extraSetups ++ us.map(_.setupS)
      val window = Iv(us.head.iv.start, us.last.iv.end)

      val checks: Seq[(String, Boolean)] =
        us.zipWithIndex.flatMap { case (u, i) =>
          Checks.invariantNames.map(n => s"unit$i.$n" -> !u.failedInvariants.contains(n)) :+
            (s"unit$i.expected_digest" -> (u.check == expected))
        } ++ us.drop(1).zipWithIndex.map { case (u, i) =>
          s"unit${i + 1}.same_as_unit0" -> (u.digest == us.head.digest)
        }
      pages.unpersist()

      val kernels =
        if (args.trace) span("kernels")(Kernels.run(wl.graph(args.seed), ctx.freshDir("kernels")))
        else Map.empty[String, Double]
      listener.foreach(_.drain(spark.sparkContext))
      gc.close()

      val e2e = Report.endToEnd(us, sessionS, setups, gc, window)
      val serverErrors = us.flatMap(_.server).map(_.transportErrors).sum
      val failedChecks = checks.collect { case (n, false) => n }
      val attempted = us.map(u => u.steps.size.toLong +
        u.storeLog.map(_.commits.size.toLong).getOrElse(0L) +
        u.server.map(_.requests.size.toLong).getOrElse(0L)).sum + checks.size
      val failed = failedChecks.size + serverErrors

      val out = System.out
      out.println(s"crawlbench workload=${wl.name} seed=${args.seed} trace=${if (args.trace) 1 else 0} " +
        s"nproc=$cpus jvm=${System.getProperty("java.vm.name")} ${System.getProperty("java.version")} " +
        s"spark=${spark.version} master=local[$cpus]")
      out.println(f"calibration: spin_per_s=$spin%.4g maponly_rows_per_s=$mapOnly%.4g " +
        f"(co-measured; read rates against these)")
      val cfg = wl.graph(args.seed)
      out.println(f"input: pages=${graft.gen.PageGen.totalPages(cfg)} hosts=${cfg.nHosts} " +
        f"seeds=${wl.seeds(cfg).size} gen_s=$genS%.3f (not in setup_s) units=${us.size} " +
        f"steps=${us.map(_.steps.size).sum} digest=${us.head.digest}")
      us.zipWithIndex.foreach { case (u, i) =>
        out.println(f"unit$i: steps_s=${u.steps.map(s => f"${s.length / 1e9}%.3f").mkString(",")} " +
          f"scheduled=${u.scheduled} new=${u.fresh} results=${u.results}" +
          u.resumeS.fold("")(r => f" resume_s=$r%.3f") + (if (u.note.isEmpty) "" else s"; ${u.note}"))
      }
      out.println("phases_s: " + spans.all.filter(_.parent == root).groupBy(_.name).toSeq
        .sortBy(_._2.map(_.iv.start).min)
        .map { case (n, ss) => f"$n=${ss.map(_.iv.length).sum / 1e9}%.2f" }.mkString(" "))
      Report.printEndToEnd(out, e2e, sessionS, setups, failed, attempted)
      checks.foreach { case (n, ok) => out.println(s"check ${if (ok) "ok  " else "FAIL"} $n") }
      val layers =
        if (args.trace) {
          val l = Report.perLayer(us, listener.get, gc, kernels, e2e, cpus)
          l.toSeq.sortBy(_._1).foreach { case (k, (v, unit)) => out.println(f"layer $k%-34s $v%.6g $unit") }
          val attr = Report.stepAttribution(us, listener.get)
          out.println("attribution: per step (own jobs + driver gap - wall) / wall = " +
            attr.map(e => f"$e%+.4f").mkString(",") +
            (if (attr.exists(math.abs(_) > 0.1)) " FLAG: a step is off by more than 10%" else ""))
          val tdir = args.dir.getParent.resolve("traces")
          val tfile = tdir.resolve(s"${wl.name}-seed${args.seed}.tsv")
          Report.addLayerSpans(spans, listener.get, us)
          spans.write(tfile)
          out.println(s"spans: $tfile")
          l
        } else Map.empty[String, (Double, String)]
      out.println(f"run_s=${(System.nanoTime() - t0) / 1e9}%.2f")

      out.println("result " + Report.json(failed == 0, attempted, failed,
        if (args.trace) layers else e2e))
      out.flush()
      if (failed == 0) 0 else 1
    } finally {
      Workload.deleteDir(scratch)
      spark.stop()
    }
  }

  /** Co-measured machine calibration: a CPU spin on every core, and a
    * one-stage Spark job that canonicalizes and hashes synthetic urls. */
  private def calibrate(spark: org.apache.spark.sql.SparkSession, cpus: Int): (Double, Double) = {
    val iters = 100000000L
    val (_, spinS) = Workload.timed(ScalingRun.spinJob(cpus, iters / cpus))
    val rows = 500000L
    val (_, mapS) = Workload.timed(ScalingRun.mapOnlyJob(spark, rows))
    (iters / spinS, rows / mapS)
  }

  /** Drop every cached RDD but the run's inputs (`keep`) and collect
    * garbage, so each unit starts from the same state. */
  private def releaseCached(spark: org.apache.spark.sql.SparkSession, keep: Set[Int]): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
    System.gc()
  }
}
