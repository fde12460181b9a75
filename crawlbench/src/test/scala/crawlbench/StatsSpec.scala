package crawlbench

import org.scalatest.funsuite.AnyFunSuite
import Stats.Iv

class StatsSpec extends AnyFunSuite {

  test("tail picks the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(t.value == 90.0 && t.percentile == 90.0 && t.n == 100)
    assert(xs.count(_ > t.value) == 10)
    // unsorted input, and the smallest sample count that has a tail
    val eleven = scala.util.Random.shuffle((1 to 11).map(_.toDouble))
    assert(Stats.tail(eleven).contains(Stats.Tail(1.0, 100.0 / 11, 11)))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // 250 samples: rank 240 -> p96, still ten beyond
    val t250 = Stats.tail((1 to 250).map(_.toDouble)).get
    assert(t250.value == 240.0 && t250.percentile == 96.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("union merges overlapping and touching intervals") {
    assert(Stats.union(Seq(Iv(5, 8), Iv(0, 2), Iv(1, 3), Iv(3, 4))) == List(Iv(0, 4), Iv(5, 8)))
  }

  test("driver gap is step time not covered by any job, overlaps counted once") {
    val step = Iv(0, 100)
    // two concurrent jobs overlapping each other, one job running past the
    // step's end, and one entirely outside it
    val jobs = Seq(Iv(10, 30), Iv(20, 40), Iv(90, 120), Iv(150, 160))
    assert(Stats.covered(step, jobs) == 40)
    assert(Stats.driverGap(step, jobs) == 60)
    assert(Stats.driverGap(step, Nil) == 100)
    assert(Stats.driverGap(step, Seq(Iv(-5, 200))) == 0)
  }

  test("self time subtracts the children's covered time from the span") {
    val span = Iv(0, 50)
    assert(Stats.selfTime(span, Seq(Iv(0, 10), Iv(5, 15), Iv(40, 60))) == 25)
    assert(Stats.selfTime(span, Nil) == 50)
  }

  test("attribution error is zero only when the step's own jobs fit inside it") {
    val step = Iv(0, 100)
    // concurrent jobs that begin and end in the step: jobs + gap == wall
    assert(Stats.attributionError(step, Seq(Iv(10, 30), Iv(20, 40), Iv(60, 70))) == 0.0)
    // a job that began in the step and ran 20 past its end
    assert(Stats.attributionError(step, Seq(Iv(10, 30), Iv(90, 120))) == 0.2)
    // a job of the step before, still running for this step's first 30
    assert(Stats.attributionError(step, Seq(Iv(-10, 30), Iv(50, 60))) == -0.3)
  }

  test("live steps run from the end of one store read to the end of the next") {
    val reads = Seq(Iv(50, 60), Iv(0, 10), Iv(20, 30))
    assert(PoliteStore.liveSteps(reads) == Seq(Iv(10, 30), Iv(30, 60)))
    assert(PoliteStore.liveSteps(Seq(Iv(0, 10))).isEmpty)
  }

  test("step intervals of a crawl call are laid end to end, ending with the call") {
    val steps = Workload.stepsOf(Iv(0, 10000000000L), Seq(2.0, 3.0))
    assert(steps == Seq(Iv(5000000000L, 7000000000L), Iv(7000000000L, 10000000000L)))
  }

  test("result line has exactly the four keys and plain numbers") {
    val j = Report.json(correct = true, 3, 0, Map("a_s" -> (1.5e-7, "s"), "b" -> (2.0, "1/s")))
    assert(j == """{"correct": true, "attempted": 3, "failed": 0, "metrics": {""" +
      """"a_s": {"value": 0.00000015, "unit": "s"}, "b": {"value": 2.0, "unit": "1/s"}}}""")
    assertThrows[IllegalArgumentException](Report.json(true, 1, 0, Map("x" -> (Double.NaN, "s"))))
  }
}
