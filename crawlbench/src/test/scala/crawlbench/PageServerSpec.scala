package crawlbench

import org.scalatest.funsuite.AnyFunSuite
import graft.Udfs
import graft.gen.PageGen

class PageServerSpec extends AnyFunSuite {
  private lazy val spark = Udfs.newSession("local[2]", 2, "crawlbench-test")

  test("fetch serves the graph's pages and robots.txt under their own urls") {
    import spark.implicits._
    val cfg = PageGen.Config(nHosts = 2, pagesPerHost = 10, hotHosts = 0, fanout = 3, seed = 5)
    val page = PageGen.pageUrl(cfg, 1, 2)
    val robots = "http://host0.example.com/robots.txt"
    val missing = PageGen.pageUrl(cfg, 0, 9999)
    val foreign = "http://elsewhere.example.org/page/1"
    val server = new PageServer(cfg, 2)
    val got = try server.fetch(spark, Seq(page, robots, missing, foreign).toDF("url"))
      .select("url", "html", "http_status").collect()
      .map(r => r.getString(0) -> (new String(r.getAs[Array[Byte]](1), "UTF-8"), r.getInt(2))).toMap
    finally server.close()
    // the 404 and the url of a host the server does not serve come back absent
    assert(got.keySet == Set(page, robots))
    assert(got(page) == (new String(PageGen.htmlFor(cfg, 1, 2)._1, "UTF-8"), 200))
    assert(got(robots) == (PageGen.robotsBody, 200))
    // the foreign url is never requested
    assert(server.requests.size == 3)
    assert(server.robotsRequests == 1 && server.robotsHosts == 1)
    assert(server.transportErrors == 0 && server.maxConcurrent >= 1)
  }
}
