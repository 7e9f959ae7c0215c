package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The summary math on synthetic traces, with answers worked by hand. */
class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between ranks like statistics.quantiles(inclusive)") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(math.abs(Stats.percentile(xs, 90) - 4.6) < 1e-12) // rank 3.6
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 10.0)) == 2.5)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("driver gap: span time no job covers, overlaps merged, outside time clipped") {
    // span [0, 100); jobs [10, 30) and [20, 50) overlap → covered 40;
    // [90, 120) is clipped to 10; [150, 160) lies outside
    val jobs = Seq((10.0, 30.0), (20.0, 50.0), (90.0, 120.0), (150.0, 160.0))
    assert(Stats.covered(0, 100, jobs) == 50.0)
    assert(Stats.driverGap(0, 100, jobs) == 50.0)
    assert(Stats.driverGap(0, 100, Nil) == 100.0)
    assert(Stats.driverGap(0, 100, Seq((0.0, 100.0))) == 0.0)
    // touching intervals do not double count
    assert(Stats.covered(0, 100, Seq((0.0, 10.0), (10.0, 20.0))) == 20.0)
  }

  test("tracing overhead: each traced op against its untraced neighbours") {
    // a falling trend (warm-up) under a 10% traced surcharge
    val plain = Seq(10.0, 9.0, 8.0, 7.0, 6.0, 5.0, 4.0)
    val ops = plain.zipWithIndex.map { case (x, i) => (i % 2 == 1, if (i % 2 == 1) x * 1.1 else x) }
    assert(math.abs(Stats.tracedOverhead(ops) - 0.1) < 1e-12)
    // a traced op at either end has only one neighbour and is skipped
    assert(math.abs(Stats.tracedOverhead((true, 50.0) +: ops :+ (true, 50.0)) - 0.1) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.tracedOverhead(Seq(true -> 1.0, false -> 1.0)))
  }

  test("self time: a span minus the union of its children") {
    // parent [0, 100); children [5, 25), [20, 40) (overlap) and [60, 70)
    val kids = Seq((5.0, 25.0), (20.0, 40.0), (60.0, 70.0))
    assert(Stats.selfTime(0, 100, kids) == 55.0)
    assert(Stats.selfTime(0, 100, Nil) == 100.0)
  }

  test("span trees: jobs of a span include its children's, gap uses them") {
    val parent = Span(1, 0, "stream.sinks.apply", "epoch=3", 0, 100)
    val child = Span(2, 1, "inner", "", 10, 60)
    val other = Span(3, 0, "other", "", 100, 200)
    val all = Seq(parent, child, other)
    def job(id: Int, span: Long, s: Double, e: Double) = {
      val j = new JobRec(id, span, s, "", -1L); j.endMs = e; j
    }
    val jobs = Seq(job(0, 1, 0, 20), job(1, 2, 30, 50), job(2, 3, 120, 150))
    assert(Trace.subtree(parent, all) == Set(1L, 2L))
    assert(Trace.jobsOf(parent, all, jobs).map(_.id) == Seq(0, 1))
    assert(Trace.gapMs(parent, Trace.jobsOf(parent, all, jobs)) == 60.0)
  }
}
