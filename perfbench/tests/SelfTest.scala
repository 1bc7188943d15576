package perfbench

/** The benchmark's own tests: generator determinism, span self time, the
  * tail-percentile rule and failure counting. Plain Scala, no Spark
  * session. Run with `python3 perfbench/tests/run_tests.py`. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assertEq(got: Any, want: Any): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, "run", 0, s"s$id", "m", start, end, Counters(), Nil, Map.empty)

  def main(args: Array[String]): Unit = {
    test("market: same seed gives the same rows") {
      val a = Market(7, 50, 30, 3)
      val b = Market(7, 50, 30, 3)
      for (d <- a.historyNights ++ a.slotNights) {
        assertEq(a.snapshots(d), b.snapshots(d))
        assertEq((0 until 50).flatMap(a.chain(_, d)), (0 until 50).flatMap(b.chain(_, d)))
        assertEq((0 until 50).flatMap(a.news(_, d)), (0 until 50).flatMap(b.news(_, d)))
        assertEq((0 until 50).flatMap(a.heroBars(_, d)), (0 until 50).flatMap(b.heroBars(_, d)))
        assertEq(a.picks(d), b.picks(d))
      }
      assertEq((0 until 50).flatMap(a.dailyBars), (0 until 50).flatMap(b.dailyBars))
    }

    test("market: a different seed gives different rows") {
      val a = Market(7, 50, 30, 3)
      val b = Market(8, 50, 30, 3)
      val d = a.slotNights.head
      assert(a.snapshots(d) != b.snapshots(d))
      assert((0 until 50).flatMap(a.chain(_, d)) != (0 until 50).flatMap(b.chain(_, d)))
      assert((0 until 50).flatMap(a.dailyBars) != (0 until 50).flatMap(b.dailyBars))
    }

    test("market: the generator produces every branch the pipelines handle") {
      val m = Market(3, 400, 30, 3)
      val d = m.slotNights.head
      val chain = (0 until m.tickers).flatMap(m.chain(_, d))
      assert(chain.exists(_.bid.isEmpty), "null bid")
      assert(chain.exists(_.bid.contains(0.0)), "zero bid")
      assert(chain.exists(_.volume.isEmpty), "null volume")
      assert(m.snapshots(d).exists(_.ticker.startsWith("X")), "off-universe ticker")
      assert((0 until m.tickers).exists(m.newsCount(_, d) == 2), "duplicate signal rows")
      val hot = (0 until m.tickers).filter(m.hotSide(_, d).isDefined)
      assert(hot.exists(m.heroNullBid(_, d)), "recommended contract without bars")
      assert(hot.exists(i => m.heroHasBars(i, d)), "contracts with bars")
    }

    test("research data: same seed, same bars; other seed, other bars") {
      assertEq(ResearchData(5, 10).bars(3), ResearchData(5, 10).bars(3))
      assert(ResearchData(5, 10).bars(3) != ResearchData(6, 10).bars(3))
    }

    test("span self time: duration minus covered child time") {
      val parent = span(0, -1, 0, 100)
      assertEq(Span.selfNs(parent, Seq(span(1, 0, 10, 30), span(2, 0, 50, 60))), 70L)
      // overlapping children are covered once
      assertEq(Span.selfNs(parent, Seq(span(1, 0, 10, 40), span(2, 0, 30, 60))), 50L)
      // children reaching outside the parent are clipped
      assertEq(Span.selfNs(parent, Seq(span(1, 0, -20, 20), span(2, 0, 90, 130))), 70L)
      assertEq(Span.selfNs(parent, Nil), 100L)
    }

    test("span self time is never negative") {
      val parent = span(0, -1, 0, 100)
      assertEq(Span.selfNs(parent, Seq(span(1, 0, -50, 150))), 0L)
      assertEq(Span.selfNs(parent, Seq(span(1, 0, 0, 100), span(2, 0, 0, 100))), 0L)
    }

    test("tail percentile: p90 needs 10 samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      assertEq(Stats.tailPercentile(xs), Some((90, 90.0)))
      // 50 samples: p80 is the highest with 10 beyond (ranks 41..50)
      assertEq(Stats.tailPercentile((1 to 50).map(_.toDouble)), Some((80, 40.0)))
      // 21 samples: p52 is rank 11, with ranks 12..21 beyond
      assertEq(Stats.tailPercentile((1 to 21).map(_.toDouble)), Some((52, 11.0)))
      assertEq(Stats.tailPercentile((1 to 20).map(_.toDouble)), Some((50, 10.0)))
      // fewer than 20: not even the median leaves 10 beyond
      assertEq(Stats.tailPercentile((1 to 19).map(_.toDouble)), None)
    }

    test("tail percentile ignores sample order") {
      val xs = (1 to 100).map(k => ((k * 37) % 100 + 1).toDouble)
      assertEq(Stats.tailPercentile(xs), Some((90, 90.0)))
    }

    test("median") {
      assertEq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      assertEq(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
    }

    test("failure counting") {
      assertEq(Stats.failedFrac(10, 0), 0.0)
      assertEq(Stats.failedFrac(8, 2), 0.25)
      for ((a, f) <- Seq((0, 0), (5, 6), (5, -1)))
        assert(scala.util.Try(Stats.failedFrac(a, f)).isFailure, s"accepted $f of $a")
    }

    test("replay: bracket walk exits") {
      def bar(t: Long, h: Double, l: Double, c: Double, v: Long = 10) =
        MinuteBar("T", java.sql.Date.valueOf("2025-01-01"), true, 1.0, t, c, h, l, c, v)
      val entry = Seq(bar(10, 1.0, 1.0, 1.0))
      assertEq(Replay.ledgerWalk(entry :+ bar(11, 2.0, 1.0, 1.5), 10, 20, 100).exitReason, "TARGET")
      // stop before target inside one bar
      assertEq(Replay.ledgerWalk(entry :+ bar(11, 2.0, 0.5, 1.0), 10, 20, 100).exitReason, "STOP")
      assertEq(Replay.ledgerWalk(entry :+ bar(100, 1.0, 1.0, 1.0), 10, 20, 100).exitReason, "TIMEOUT")
      assertEq(Replay.ledgerWalk(Seq(bar(10, 1, 1, 1, v = 0)), 10, 20, 100).exitReason, "INVALID_LIQUIDITY")
      assertEq(Replay.ledgerWalk(Nil, 10, 20, 100).exitReason, "NO_BARS")
    }

    test("json: escaping and nesting") {
      assertEq(Json.obj(Seq("a" -> "x\"y", "b" -> Seq(1, 2), "c" -> Map("u" -> "s"))),
        """{"a": "x\"y", "b": [1, 2], "c": {"u": "s"}}""")
    }

    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
