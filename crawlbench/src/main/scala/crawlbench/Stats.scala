package crawlbench

/** Pure statistics and interval arithmetic the benchmark reports with. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail value: the `percentile` (nearest rank) of `n` samples. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  /** The highest nearest-rank percentile that leaves at least `beyond`
    * samples strictly above its rank, or None when there are too few
    * samples for any percentile to have that many beyond it. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n < beyond + 1) None
    else {
      val rank = n - beyond // 1-based rank of the reported sample
      Some(Tail(xs.sorted.apply(rank - 1), 100.0 * rank / n, n))
    }
  }

  /** Half-open time interval [start, end), in any one unit. */
  final case class Iv(start: Long, end: Long) {
    require(end >= start, s"interval ends before it starts: [$start, $end)")
    def length: Long = end - start
    def clip(w: Iv): Option[Iv] = {
      val s = math.max(start, w.start); val e = math.min(end, w.end)
      if (e > s) Some(Iv(s, e)) else None
    }
  }

  /** Merge overlapping or touching intervals into a sorted disjoint list. */
  def union(ivs: Seq[Iv]): List[Iv] =
    ivs.sortBy(_.start).foldLeft(List.empty[Iv]) {
      case (last :: rest, iv) if iv.start <= last.end =>
        Iv(last.start, math.max(last.end, iv.end)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** Length of `window` covered by at least one of `ivs`. */
  def covered(window: Iv, ivs: Seq[Iv]): Long =
    union(ivs.flatMap(_.clip(window))).map(_.length).sum

  /** Part of a span's interval that none of its children cover. */
  def selfTime(span: Iv, children: Seq[Iv]): Long = span.length - covered(span, children)

  /** Step wall time during which no Spark job was running: the driver's own
    * planning, bookkeeping and file work between jobs. */
  def driverGap(step: Iv, jobs: Seq[Iv]): Long = selfTime(step, jobs)

  /** How far the step's own jobs (those that began in it, unclipped) plus
    * its driver gap are from its wall time, as a signed share of it. It is
    * 0 when every job that overlaps the step began in it and ended by its
    * end. A step interval shifted against the jobs' clock, or jobs counted
    * under the wrong step, make it non-zero. */
  def attributionError(step: Iv, jobs: Seq[Iv]): Double = {
    val own = union(jobs.filter(j => j.start >= step.start && j.start < step.end))
    (own.map(_.length).sum + driverGap(step, jobs) - step.length).toDouble / step.length
  }
}
