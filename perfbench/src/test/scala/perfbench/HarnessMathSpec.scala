package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessMathSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("a percentile needs ten samples above it to be reported") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.supportedPercentile(xs, 90).contains(Stats.percentile(xs, 90)))
    // p95 of 1..100 is 95.05: only five samples lie above it
    assert(Stats.supportedPercentile(xs, 95).isEmpty)
    assert(Stats.supportedPercentile(xs, 95, minBeyond = 5).nonEmpty)
  }

  test("groupsAbove counts distinct micro-batches, not samples") {
    val s = Seq((10.0, 1L), (11.0, 1L), (12.0, 2L), (1.0, 3L))
    assert(Stats.groupsAbove(s, 5.0) == 2)
    assert(Stats.groupsAbove(s, 11.5) == 1)
  }

  test("slope is the least-squares fit") {
    assert(Stats.slope(Seq((0.0, 1.0), (1.0, 3.0), (2.0, 5.0))) == 2.0)
    assert(Stats.slope(Seq((1.0, 1.0))) == 0.0)
    assert(Stats.slope(Seq((1.0, 1.0), (1.0, 5.0))) == 0.0)
  }

  test("covered takes the union of overlapping intervals, clipped to the parent") {
    assert(SelfTime.covered(0, 100, Seq((10, 20), (15, 30), (50, 60))) == 30)
    assert(SelfTime.covered(0, 100, Seq((-10, 5), (95, 120))) == 10)
    assert(SelfTime.covered(0, 100, Nil) == 0)
    assert(SelfTime.covered(0, 100, Seq((0, 100), (20, 30))) == 100)
  }

  test("self time subtracts only a span's direct children") {
    def sp(k: String, p: String, kind: String, a: Long, b: Long) = Span(k, p, kind, k, a, b, "t")
    val spans = Seq(
      sp("q", "", "query", 0, 100),
      sp("j1", "q", "job", 10, 40),
      sp("j2", "q", "job", 30, 60),
      sp("s1", "j1", "stage", 10, 20),
      sp("s2", "j1", "stage", 15, 35))
    val self = SelfTime.selfTimes(spans)
    assert(self("q") == 50) // 100 minus the union [10, 60)
    assert(self("j1") == 5) // 30 minus the union [10, 35)
    assert(self("j2") == 30)
    assert(self("s1") == 10)
    val byKind = SelfTime.byKind(spans)
    assert(byKind("query") == 50 / 1e6)
    assert(byKind("job") == 35 / 1e6)
  }

  test("reference OHLCV orders open and close by (timestamp, instrument)") {
    val trades = Seq(
      GenTrade(60500, "Instrument_2", "P", 10, 1),
      GenTrade(60500, "Instrument_1", "P", 20, 2), // same ms, lower instrument: opens
      GenTrade(119999, "Instrument_1", "P", 5, 3),
      GenTrade(119999, "Instrument_9", "P", 30, 4), // same ms, higher instrument: closes
      GenTrade(120000, "Instrument_1", "P", 7, 5), // next window
      GenTrade(61000, "Instrument_1", "Q", 3, 6))
    val bars = RefOhlcv.bars(trades.iterator, 60000)
    assert(bars(("P", 60000)) == RefBar("P", 60000, 20, 30, 5, 30, 10))
    assert(bars(("P", 120000)) == RefBar("P", 120000, 7, 7, 7, 7, 5))
    assert(bars(("Q", 60000)) == RefBar("Q", 60000, 3, 3, 3, 3, 6))
    assert(bars.size == 3)
  }

  test("reference OHLCV does not depend on arrival order") {
    val rng = new scala.util.Random(7)
    val trades = (1 to 500).map(i => GenTrade(rng.nextInt(300000).toLong, s"Instrument_$i",
      s"P${rng.nextInt(5)}", rng.nextInt(1000).toDouble, 1L + rng.nextInt(100)))
    assert(RefOhlcv.bars(trades.iterator, 60000) ==
      RefOhlcv.bars(rng.shuffle(trades).iterator, 60000))
  }

  test("the trade generator is seeded and keeps (product, ts, instrument) unique") {
    def run(seed: Long) = {
      val g = new TradeGen(seed)
      val recs = (0 until 3000).map(i => g.next(1000000L + i / 100, 0))
      (g.trades.toSeq, recs.map(r => new String(r.value, "UTF-8")))
    }
    val (a, ja) = run(42)
    val (b, jb) = run(42)
    assert(a == b && ja == jb)
    assert(a.map(t => (t.product, t.timestamp, t.instrument)).distinct.size == a.size)
    assert(ja.head.startsWith("""{"timestamp": 1000000, "instrument_id": "Instrument_"""))
  }
}
