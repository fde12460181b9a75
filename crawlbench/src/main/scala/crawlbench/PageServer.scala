package crawlbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fetch.LiveFetch
import graft.gen.PageGen
import Stats.Iv

/**
 * Loopback HTTP server for one PageGen graph: `GET /<host>/<path>` answers
 * with the page `PageGen` generates for that host and path, robots.txt
 * included, and 404 for anything else. It binds 127.0.0.1 only and runs
 * its handlers on `threads` threads, with Nagle's algorithm off as web
 * servers run: with it on, the body segment waits for the client's delayed
 * ACK of the header segment, about 40 ms a request. It counts what a crawl
 * asks of it.
 */
final class PageServer(cfg: PageGen.Config, threads: Int) extends AutoCloseable {
  PageServer.noDelay()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val inflight = new AtomicInteger(0)
  private val maxInflight = new AtomicInteger(0)
  private val errors = new AtomicLong(0)
  private val served = new ConcurrentLinkedQueue[Iv]()
  private val robots = new ConcurrentHashMap[String, AtomicLong]()
  private val Host = """/(host(\d+)\.example\.com)(/.*)""".r

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val port: Int = server.getAddress.getPort

  private def body(path: String): Option[Array[Byte]] = path match {
    case Host(host, h, rest) if h.toInt < cfg.nHosts =>
      if (rest == "/robots.txt") {
        robots.computeIfAbsent(host, _ => new AtomicLong()).incrementAndGet()
        Some(PageGen.robotsBody.getBytes("UTF-8"))
      } else {
        val k = rest.substring(rest.lastIndexOf('/') + 1)
        if (k.nonEmpty && k.forall(_.isDigit) && k.length < 9 &&
            k.toInt < PageGen.pagesOf(cfg, h.toInt) && PageGen.pagePath(k.toInt) == rest)
          Some(PageGen.htmlFor(cfg, h.toInt, k.toInt)._1)
        else None
      }
    case _ => None
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, math.max)
    try {
      body(ex.getRequestURI.getRawPath) match {
        case Some(b) =>
          ex.sendResponseHeaders(200, b.length.toLong)
          ex.getResponseBody.write(b)
        case None => ex.sendResponseHeaders(404, -1)
      }
    } catch {
      case _: java.io.IOException => errors.incrementAndGet()
    } finally {
      ex.close()
      inflight.decrementAndGet()
      served.add(Iv(t0, System.nanoTime()))
    }
  }

  /** Wall interval of every request served so far. */
  def requests: Seq[Iv] = served.asScala.toSeq
  def robotsRequests: Long = robots.values.asScala.map(_.get).sum
  def robotsHosts: Int = robots.size
  def maxConcurrent: Int = maxInflight.get
  def transportErrors: Long = errors.get

  /** Capture function for `LiveCrawler.run`: `LiveFetch.fetchPages` over
    * the url list rewritten onto this server, with the urls mapped back on
    * the returned rows. Urls of other hosts are never requested; they come
    * back absent, which the crawl treats as a failed fetch. */
  def fetch(spark: SparkSession, urls: DataFrame): DataFrame = {
    val prefix = s"http://127.0.0.1:$port/"
    val local = urls.where(col("url").rlike("^http://host[0-9]+\\.example\\.com/"))
      .withColumn("url", regexp_replace(col("url"), "^http://", prefix))
    LiveFetch.fetchPages(spark, local)
      .withColumn("url", regexp_replace(col("url"), "^\\Q" + prefix + "\\E", "http://"))
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}

object PageServer {
  /** The JDK server reads this property once, when its first instance in
    * the JVM starts. */
  private def noDelay(): Unit = System.setProperty("sun.net.httpserver.nodelay", "true")
}
