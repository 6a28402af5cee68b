package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.percentile(xs, 50) == 2.5)
    assert(math.abs(Stats.percentile((1 to 100).map(_.toDouble), 99) - 99.01) < 1e-9)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("percentile of nothing is NaN, and failed operations sort last") {
    assert(Stats.percentile(Nil, 50).isNaN)
    val withFailure = Seq(1.0, 2.0, Double.PositiveInfinity)
    assert(Stats.median(withFailure) == 2.0)
    assert(Stats.percentile(withFailure, 100).isInfinite)
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("geometric mean weighs each sample alike; a failed one makes it infinite") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assert(Stats.geomean(Seq(2.0, Double.PositiveInfinity)).isInfinite)
    assert(Stats.geomean(Nil).isNaN)
  }

  test("the ladder stops at the first failing step") {
    var ran = List.empty[Int]
    val steps = Stats.ladder(Seq(1, 2, 3, 4)) { r =>
      ran ::= r
      Stats.Step(r, if (r == 3) 2500.0 else 100.0, backlogGrows = false)
    }
    assert(ran.reverse == List(1, 2, 3))
    assert(steps.map(_.passes) == Seq(true, true, false))
    assert(Stats.sustained(steps).map(_.rate).contains(2))
  }

  test("a growing backlog fails a step even when freshness holds") {
    val steps = Stats.ladder(Seq(1, 2)) { r => Stats.Step(r, 100.0, backlogGrows = r == 1) }
    assert(steps.size == 1)
    assert(Stats.sustained(steps).isEmpty)
    val all = Stats.ladder(Seq(1, 2))(r => Stats.Step(r, Stats.FreshnessLimitMs, false))
    assert(Stats.sustained(all).map(_.rate).contains(2))
  }

  test("a level but noisy backlog does not grow; one that gains a fifth of the rate does") {
    val t = (0 until 8).map(_ * 0.4)
    val level = Seq(1600.0, 2600.0, 1500.0, 2400.0, 1700.0, 2900.0, 1600.0, 2500.0)
    assert(!Stats.backlogGrows(t, level, rate = 4000))
    val growing = t.zip(level).map { case (x, y) => y + 0.2 * 4000 * x * 4 }
    assert(Stats.backlogGrows(t, growing, rate = 4000))
    assert(Stats.backlogGrows(Seq(0.0, 1.0), Seq(0.0, 0.0), rate = 4000))
  }

  test("a steep fit that noise explains does not count as growth") {
    // one slow batch at the end tilts the fit above a tenth of the rate
    val t = (0 until 6).map(_ * 0.5)
    val spiky = Seq(2000.0, 2000.0, 2000.0, 2000.0, 2000.0, 4000.0)
    assert(Stats.slope(t, spiky) > Stats.BacklogGrowthShare * 4000)
    assert(!Stats.backlogGrows(t, spiky, rate = 4000))
    assert(Stats.slopeError(Seq(0.0, 1.0, 2.0), Seq(1.0, 3.0, 5.0)) == 0.0)
  }

  test("slope is the least-squares fit and zero when x does not vary") {
    assert(math.abs(Stats.slope(Seq(0.0, 1.0, 2.0), Seq(1.0, 3.0, 5.0)) - 2.0) < 1e-12)
    assert(Stats.slope(Seq(1.0, 1.0), Seq(0.0, 9.0)) == 0.0)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50)
    assert(Stats.selfTime(0, 100, Seq((-10L, 5L), (200L, 300L))) == 95)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L), (40L, 60L))) == 0)
  }

  test("tracer self time per name nests child spans under their parent") {
    val tr = new Tracer(enabled = true)
    val root = tr.record("read", "op", 0, 1000000)
    tr.record("read.plan", "op", 100000, 300000, root)
    tr.record("read.exec", "op", 300000, 900000, root)
    val self = tr.selfMsByName
    assert(math.abs(self("read") - 0.2) < 1e-9)
    assert(math.abs(self("read.exec") - 0.6) < 1e-9)
    assert(new Tracer(enabled = false).record("x", "op", 0, 1) == 0L)
  }

  test("tracer overhead counts its bookkeeping, not the traced body") {
    val tr = new Tracer(enabled = true)
    tr.span("outer", "op")(Thread.sleep(50))
    assert(tr.overheadNanos > 0 && tr.overheadNanos < 20L * 1000 * 1000)
    val before = tr.overheadNanos
    tr.charge(Thread.sleep(20))
    assert(tr.overheadNanos - before >= 20L * 1000 * 1000)
  }

  test("freshness runs from a tick's due time, so a stall counts against the ticks behind it") {
    // three ticks due 50 ms apart; the generator stalled and appended all
    // three at 200 ms; one batch committing offsets 0..2 ends at 500 ms
    val ticks = (0 until 3).map(i => Tick("s", i, 10, i * 50.0, 200.0, 200.0 - i * 50))
    val run = OpenLoop.evaluate("s", 200, ticks, Seq((2L, 500.0)), drained = true)
    assert(run.freshnessMs == Seq(500.0, 450.0, 400.0))
  }

  test("the backlog at a batch end counts appended ticks the batch does not cover") {
    val ticks = (0 until 4).map(i => Tick("s", i, 10, i * 50.0, i * 50.0, 0.0))
    val run = OpenLoop.evaluate("s", 200, ticks, Seq((0L, 60.0), (2L, 140.0), (3L, 400.0)),
      drained = true)
    assert(run.backlog == Seq(10.0, 0.0))
    assert(run.backlogT == Seq(0.06, 0.14))
  }

  test("a tick no batch covers is infinitely stale and fails its step") {
    val ticks = (0 until 3).map(i => Tick("s", i, 10, i * 50.0, i * 50.0, 0.0))
    val run = OpenLoop.evaluate("s", 200, ticks, Seq((0L, 120.0)), drained = false)
    assert(run.freshnessMs.head == 120.0)
    assert(run.freshnessMs.last.isInfinite)
    assert(!run.verdict.passes)
  }
}
