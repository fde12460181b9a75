package crawlbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.fetch.LiveCrawler
import graft.frontier.{FrontierStore, SnapshotStore}
import graft.gen.PageGen
import graft.model.TaskStatus
import graft.sched.Crawler
import Stats.Iv

/** What the workloads share: the session, the run's scratch directory and
  * the instruments. */
final class Ctx(val spark: SparkSession, val cpus: Int, val seed: Long,
    val trace: Boolean, val scratch: Path) {
  private var dirs = 0
  /** A fresh directory under the run's scratch directory. */
  def freshDir(prefix: String): Path = {
    dirs += 1
    Files.createDirectories(scratch.resolve(s"$prefix-$dirs"))
  }
}

/** One measured unit of a workload: a whole crawl, run start to end. */
final case class UnitOut(
    iv: Iv,
    steps: Seq[Iv],
    scheduled: Long,
    fresh: Long,
    results: Long,
    /** full order-independent digest of the final frontier and results */
    digest: String,
    /** what the run compares against the workload's expected value */
    check: String,
    failedInvariants: Seq[String],
    /** cumulative per-project counters of the crawl */
    totals: Map[String, Map[String, Long]],
    /** the crawl's own set-up: call start to first superstep (seconds) */
    setupS: Double = 0.0,
    /** one line of workload-specific detail for the report */
    note: String = "",
    resumeS: Option[Double] = None,
    storeBytes: Long = 0L,
    frontierRows: Long = 0L,
    storeLog: Option[TimedStore.Log] = None,
    server: Option[PageServer] = None)

/**
 * A benchmark workload. Inputs are a pure function of the seed; the crawl
 * drivers receive only the generated pages, projects and seeds.
 */
sealed trait Workload {
  def name: String
  /** The generated web graph. */
  def graph(seed: Long): PageGen.Config
  def seeds(cfg: PageGen.Config): Seq[(String, String)]
  def projects(spark: SparkSession): DataFrame

  /** One set-up as a user pays it before the first superstep (seconds). */
  def setupOnce(ctx: Ctx, pages: DataFrame): Double
  /** The value every unit's `check` must equal, computed independently of
    * the path the unit measures. It runs first, untimed, and also warms
    * the JIT and Spark's code generation before anything is timed. */
  def expected(ctx: Ctx, pages: DataFrame): String
  def runUnit(ctx: Ctx, pages: DataFrame): UnitOut

  /** The graph's pages table, kept on disk for the run. */
  def pages(spark: SparkSession, seed: Long): DataFrame = {
    val p = PageGen.pages(spark, graph(seed)).toDF().persist(StorageLevel.DISK_ONLY)
    p.count()
    p
  }
}

object Workload {
  val all: Seq[Workload] = Seq(BfsCarry, PoliteStore)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))

  private[crawlbench] def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Step intervals of one `Crawler.run` call: its `stepSeconds`, laid end
    * to end so the last step ends when the call returned. */
  def stepsOf(call: Iv, stepSeconds: Seq[Double]): Seq[Iv] = {
    val durs = stepSeconds.map(s => (s * 1e9).toLong)
    val starts = durs.scanRight(call.end)((d, end) => end - d)
    starts.zip(starts.tail).map { case (s, e) => Iv(s, e) }
  }

  def deleteDir(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def store(dir: Path, compactEvery: Int): FrontierStore =
    new FrontierStore(dir.toString, 4, seenBuckets = 4, bloomItemsPerBucket = 1L << 17,
      compactEvery = compactEvery)

  def ratePerHost(spark: SparkSession, name: String, rate: Double): DataFrame = {
    import spark.implicits._
    Seq((name, rate, rate)).toDF("name", "rate", "burst")
  }

  /** Order-independent digest of a url set. */
  def urlSetDigest(urls: Iterable[String]): String = {
    val s = urls.toSeq.sorted
    f"${s.size}:${scala.util.hashing.MurmurHash3.seqHash(s)}%08x"
  }

  def successUrls(frontier: DataFrame): Seq[String] =
    frontier.where(col("status") === TaskStatus.Success).select("url").collect()
      .map(_.getString(0)).toSeq

  def finish(iv: Iv, steps: Seq[Iv], scheduled: Long, fresh: Long,
      frontier: DataFrame, results: DataFrame, seedRows: Long,
      totals: Map[String, Map[String, Long]],
      check: Option[DataFrame => String] = None): UnitOut = {
    val v = Checks.verify(frontier, results, seedRows, Checks.Totals.of(totals))
    UnitOut(iv, steps, scheduled, fresh, v.results.rows, v.digest,
      check.fold(v.digest)(_(frontier)), v.failed, totals, frontierRows = v.frontier.rows)
  }

  def totalsOf(countersPerStep: Seq[DataFrame]): Map[String, Map[String, Long]] =
    countersPerStep.flatMap(_.collect()).foldLeft(Map.empty[String, Map[String, Long]])(
      FrontierStore.foldCounterRow)
}

import Workload._

/** Broad BFS, no rate limit, in-memory carry: data-heavy supersteps. */
object BfsCarry extends Workload {
  val name = "bfs_carry"
  val steps = 3
  def graph(seed: Long): PageGen.Config = PageGen.Config(nHosts = 1600, pagesPerHost = 20,
    hotHosts = 16, hotFactor = 5, fanout = 8, seed = seed)
  /** pages 1-6 of every host */
  def seedPages(cfg: PageGen.Config): Seq[(Int, Int)] =
    for (h <- 0 until cfg.nHosts; k <- 1 to 6) yield (h, k)
  def seeds(cfg: PageGen.Config): Seq[(String, String)] =
    seedPages(cfg).map { case (h, k) => "bfs" -> PageGen.pageUrl(cfg, h, k) }
  def projects(spark: SparkSession): DataFrame = ratePerHost(spark, "bfs", 1e9)

  def setupOnce(ctx: Ctx, pages: DataFrame): Double = {
    val cfg = graph(ctx.seed)
    timed(Crawler.run(ctx.spark, pages, projects(ctx.spark), seeds(cfg),
      Crawler.CrawlConfig(maxSteps = 0)))._2
  }

  /** A one-step crawl of a small graph: the closed-form reference costs
    * nothing, so the warm-up is separate. */
  private def warmup(ctx: Ctx): Unit = {
    val cfg = PageGen.Config(nHosts = 40, pagesPerHost = 10, hotHosts = 1, fanout = 8,
      seed = ctx.seed)
    val pages = PageGen.pages(ctx.spark, cfg).toDF()
    Crawler.run(ctx.spark, pages, projects(ctx.spark), seeds(cfg),
      Crawler.CrawlConfig(maxSteps = 1))
  }

  def runUnit(ctx: Ctx, pages: DataFrame): UnitOut = {
    val cfg = graph(ctx.seed)
    val sd = seeds(cfg)
    val t0 = System.nanoTime()
    val run = Crawler.run(ctx.spark, pages, projects(ctx.spark), sd,
      Crawler.CrawlConfig(maxSteps = steps))
    val iv = Iv(t0, System.nanoTime())
    val stepIvs = stepsOf(iv, run.stepSeconds)
    // the crawl's own bound on its state rows, which picks the plan shape
    val perStep = run.countersPerStep.map(_.selectExpr("sum(scheduled) + sum(new_tasks)")
      .collect()(0).getLong(0))
    val stateRows = perStep.scanLeft(sd.size.toLong)(_ + _).init
    val gate = ctx.spark.conf.getOption("spark.graft.smallStepBroadcastRows").getOrElse("100000")
    finish(iv, stepIvs, run.totalScheduled, run.totalFresh,
      run.frontier, run.results, sd.distinct.size, totalsOf(run.countersPerStep),
      Some(f => urlSetDigest(successUrls(f)))).copy(setupS = (stepIvs.head.start - t0) / 1e9,
      note = s"state rows before each step ${stateRows.mkString(",")} (broadcast gate $gate)")
  }

  /** Closed-form BFS over the generated graph: the urls a `steps`-step
    * crawl fetches successfully. A page links to its `linkTargets` (to
    * `(k+1) mod n` for the gb2312 pages); a link succeeds when it names a
    * page that exists under `/page/` (every 13th page lives under the
    * robots-disallowed `/private/`). */
  def expected(ctx: Ctx, pages: DataFrame): String = {
    warmup(ctx)
    val cfg = graph(ctx.seed)
    def ok(h: Int, k: Int) = k < PageGen.pagesOf(cfg, h) && PageGen.pagePath(k) == s"/page/$k"
    def links(h: Int, k: Int): Seq[Int] =
      if (k % 17 == 0 && k > 0) Seq((k + 1) % PageGen.pagesOf(cfg, h))
      else PageGen.linkTargets(cfg, h, k)
    var level = seedPages(cfg).filter { case (h, k) => ok(h, k) }.toSet
    var seen = level
    (2 to steps).foreach { _ =>
      level = level.flatMap { case (h, k) => links(h, k).filter(ok(h, _)).map(h -> _) } -- seen
      seen ++= level
    }
    urlSetDigest(seen.toSeq.map { case (h, k) => PageGen.pageUrl(cfg, h, k) })
  }
}

/** Rate-limited crawl through the snapshot store: `Crawler.run` over
  * the archived pages, then resumed once by `LiveCrawler.run`, which
  * fetches the same graph from a loopback HTTP server. */
object PoliteStore extends Workload {
  val name = "polite_store"
  /** archived steps, then the live step after the resume: compaction every 2
    * snapshots makes step 2 (snapshot 3) a compaction, and the resumed live
    * step 3 runs on the compacted store */
  val firstSteps = 2
  val totalSteps = 3
  val compactEvery = 2
  def graph(seed: Long): PageGen.Config = PageGen.Config(nHosts = 50, pagesPerHost = 120,
    hotHosts = 2, hotFactor = 3, fanout = 6, seed = seed)
  def seeds(cfg: PageGen.Config): Seq[(String, String)] =
    (0 until cfg.nHosts).map(h => "polite" -> PageGen.pageUrl(cfg, h, 1))
  /** 4 urls per host per step (rate 4/s, burst 4, one virtual second a step) */
  def projects(spark: SparkSession): DataFrame = ratePerHost(spark, "polite", 4.0)

  def setupOnce(ctx: Ctx, pages: DataFrame): Double = {
    val dir = ctx.freshDir("setup")
    try timed(Crawler.run(ctx.spark, pages, projects(ctx.spark), seeds(graph(ctx.seed)),
      Crawler.CrawlConfig(maxSteps = 0), Some(store(dir, compactEvery))))._2
    finally deleteDir(dir)
  }

  /** `LiveCrawler.run` up to `maxSteps` against a server of `cfg`'s graph. */
  private def liveCrawl(ctx: Ctx, cfg: PageGen.Config, maxSteps: Int,
      s: Option[SnapshotStore]): (LiveCrawler.LiveRun, PageServer) = {
    val server = new PageServer(cfg, ctx.cpus)
    try (LiveCrawler.run(ctx.spark, projects(ctx.spark), seeds(cfg), maxSteps,
      fetch = server.fetch, store = s), server)
    finally server.close()
  }

  def runUnit(ctx: Ctx, pages: DataFrame): UnitOut = {
    val cfg = graph(ctx.seed)
    val sd = seeds(cfg)
    val dir = ctx.freshDir("store")
    try {
      val log = new TimedStore.Log
      val t0 = System.nanoTime()
      val r1 = Crawler.run(ctx.spark, pages, projects(ctx.spark), sd,
        Crawler.CrawlConfig(maxSteps = firstSteps),
        Some(new TimedStore(store(dir, compactEvery), dir, ctx.trace, log)))
      val t1 = System.nanoTime()
      // the resume: a new store object over the same directory, crawled live
      val inner = store(dir, compactEvery)
      val (r2, server) = liveCrawl(ctx, cfg, totalSteps,
        Some(new TimedStore(inner, dir, ctx.trace, log)))
      val iv = Iv(t0, System.nanoTime())
      val first = stepsOf(Iv(t0, t1), r1.stepSeconds)
      val resumed = liveSteps(log.reads.filter(_.start >= t1).toSeq)
      val totals = inner.read(ctx.spark).map(_.counterTotals).getOrElse(Map.empty)
      val out = finish(iv, first ++ resumed,
        r1.totalScheduled + r2.totalScheduled, r1.totalFresh + r2.totalFresh,
        r2.frontier, r2.results, sd.distinct.size, totals)
      out.copy(setupS = (first.head.start - t0) / 1e9,
        resumeS = Some((resumed.head.start - t1) / 1e9), storeBytes = TimedStore.sizeOf(dir),
        storeLog = Some(log), server = Some(server))
    } finally deleteDir(dir)
  }

  /** `LiveCrawler.run` reports no step times. It reads the store once
    * before its first step and once after each step's commit, so its steps
    * run from the end of one read to the end of the next. */
  def liveSteps(reads: Seq[Iv]): Seq[Iv] = {
    val ends = reads.map(_.end).sorted
    ends.zip(ends.tail).map { case (s, e) => Iv(s, e) }
  }

  /** The same crawl without a store and without the resume, in one
    * `LiveCrawler.run` over the served pages: the in-memory carry, and the
    * live side of the archived-versus-live equivalence for the steps the
    * unit crawls from the archive. It also compiles the live loop's plans
    * before anything is timed. */
  def expected(ctx: Ctx, pages: DataFrame): String = {
    val (run, _) = liveCrawl(ctx, graph(ctx.seed), totalSteps, None)
    Checks.stateDigest(run.frontier, run.results)
  }
}
