package crawlbench

import java.nio.file.{Files, Path}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import graft.frontier.SeenFilter
import graft.gen.PageGen
import graft.sched.TopKSelect
import graft.text.{Encoding, HtmlScanner}
import graft.url.UrlCanon

/**
 * Single-thread timings of the per-row kernels the superstep runs, over a
 * sample of the workload's own urls and pages. Each kernel runs over its
 * sample `reps` times; the median pass is reported.
 */
object Kernels {
  private val reps = 5
  /** Passes over the sample per timed repetition, so each lasts milliseconds. */
  private val passes = 3

  private def medianNs(work0: () => Long): (Double, Long) = {
    val work = () => (1 to passes).map(_ => work0()).sum
    work() // warm-up pass
    var units = 0L
    val t = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); units = work(); (System.nanoTime() - t0).toDouble
    }
    (Stats.median(t), units)
  }

  /** Nanoseconds per unit (a url, a probe, an add, or a KB of html). */
  def run(cfg: PageGen.Config, scratch: Path): Map[String, Double] = {
    val pages = for (h <- 0 until math.min(cfg.nHosts, 250); k <- 0 until 8)
      yield (h, k)
    val served = pages.map { case (h, k) => PageGen.servedUrl(cfg, h, k) }
    val canon = served.map(UrlCanon.canonicalize)
    val html = pages.map { case (h, k) => PageGen.htmlFor(cfg, h, k)._1 }
    val kb = html.map(_.length.toLong).sum / 1024.0
    val htmlStr = html.map(b => new String(b, "UTF-8"))

    def perUnit(work: () => Long): Double = { val (ns, n) = medianNs(work); ns / n }
    val canonNs = perUnit(() => { served.foreach(UrlCanon.canonicalize); served.size.toLong })
    val utf8 = canon.map(UTF8String.fromString)
    val keysNs = perUnit(() => { utf8.foreach(UrlCanon.urlKeysRow); utf8.size.toLong })
    val extractNs = medianNs(() => {
      htmlStr.zip(canon).foreach { case (s, u) => HtmlScanner.extract(s, u) }; 1L
    })._1 / passes / kb
    val decodeNs = medianNs(() => { html.foreach(Encoding.extractText(_, null)); 1L })._1 / passes / kb

    // bloom probe through the store's own probe entry point, over a bloom
    // side-file laid out the way a snapshot stores it
    val keys = canon.map(u => UrlCanon.urlKeysRow(UTF8String.fromString(u)).getLong(0))
    val bloom = BloomFilter.create(1L << 16, 0.01)
    keys.take(keys.size / 2).foreach(bloom.putLong)
    val bloomFile = Path.of(SeenFilter.bloomPath(scratch.toString, 1L, 0))
    Files.createDirectories(bloomFile.getParent)
    val out = Files.newOutputStream(bloomFile)
    try bloom.writeTo(out) finally out.close()
    val root = scratch.toString
    val probeNs = perUnit(() => {
      keys.foreach(SeenFilter.probeOne(root, 1L, 0, _)); keys.size.toLong
    })

    val rnd = new scala.util.Random(7)
    val adds = Array.fill(4096)((rnd.nextInt(8), rnd.nextDouble() * 100, rnd.nextLong()))
    val topkNs = perUnit(() => {
      val b = new TopKSelect.Buffer(64)
      adds.foreach { case (p, e, id) => b.add(p, e, id) }
      adds.length.toLong
    })

    Map("url.canonicalize_ns" -> canonNs, "url.keys_ns" -> keysNs,
      "text.extract_ns_per_kb" -> extractNs, "text.decode_ns_per_kb" -> decodeNs,
      "frontier.bloom_probe_ns" -> probeNs, "sched.topk_add_ns" -> topkNs)
  }
}
