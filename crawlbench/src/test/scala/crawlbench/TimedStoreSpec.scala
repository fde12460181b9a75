package crawlbench

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.Udfs
import graft.gen.PageGen
import graft.sched.Crawler

class TimedStoreSpec extends AnyFunSuite {
  private lazy val spark = Udfs.newSession("local[2]", 2, "crawlbench-test")
  private def tmpDir(): Path = Files.createTempDirectory(
    Files.createDirectories(Paths.get(sys.props("java.io.tmpdir"))), "timed-store")

  test("the timing wrapper is transparent: same final state with and without it") {
    import spark.implicits._
    val cfg = PageGen.Config(nHosts = 3, pagesPerHost = 12, hotHosts = 1, fanout = 3, seed = 9)
    val pages = PageGen.pages(spark, cfg).toDF()
    val projects = Seq(("p", 2.0, 2.0)).toDF("name", "rate", "burst")
    val seeds = (0 until cfg.nHosts).map(h => "p" -> PageGen.pageUrl(cfg, h, 1))
    def crawl(wrap: Boolean): (String, Int) = {
      val dir = tmpDir()
      try {
        // compaction every 2 snapshots, so the fixture crosses one
        val inner = Workload.store(dir, 2)
        val timed = new TimedStore(inner, dir, detail = true)
        val run = Crawler.run(spark, pages, projects, seeds, Crawler.CrawlConfig(maxSteps = 3),
          Some(if (wrap) timed else inner))
        (Checks.stateDigest(run.frontier, run.results), timed.log.commits.size)
      } finally Workload.deleteDir(dir)
    }
    val (plain, _) = crawl(wrap = false)
    val (wrapped, commits) = crawl(wrap = true)
    assert(wrapped == plain)
    assert(commits == 4) // bootstrap + three steps
  }

  test("the wrapper records each commit, marks compactions and reads sizes") {
    import spark.implicits._
    val cfg = PageGen.Config(nHosts = 2, pagesPerHost = 10, hotHosts = 0, fanout = 3, seed = 3)
    val dir = tmpDir()
    try {
      val ts = new TimedStore(Workload.store(dir, 2), dir, detail = true)
      Crawler.run(spark, PageGen.pages(spark, cfg).toDF(),
        Seq(("p", 5.0, 5.0)).toDF("name", "rate", "burst"),
        Seq("p" -> PageGen.pageUrl(cfg, 0, 1)), Crawler.CrawlConfig(maxSteps = 2), Some(ts))
      val cs = ts.log.commits.toSeq
      assert(cs.map(_.step) == Seq(0, 1, 2))
      // snapshot 1 is the bootstrap (its own base); snapshot 3 re-bases
      assert(cs.map(_.compaction) == Seq(true, false, true))
      assert(cs.forall(c => c.bytesWritten > 0 && c.snapDirs >= 1 && c.iv.length > 0))
      assert(ts.log.reads.nonEmpty && ts.log.seenFilters.nonEmpty)
      // each commit's file reads are logged, after the commit returned
      assert(ts.log.inspects.size == cs.size &&
        cs.zip(ts.log.inspects).forall { case (c, i) => i.start >= c.iv.end })
    } finally Workload.deleteDir(dir)
  }
}
