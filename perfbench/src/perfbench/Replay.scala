package perfbench

/** Plain-Scala replays of the reference semantics the pipelines implement,
  * computed straight from the generator. The benchmark compares the
  * engine's outputs with these on every measured operation. */
object Replay {

  final case class Scored(ticker: String, direction: String,
      originalScore: Int, overnightScore: Int)

  /** Overnight score ladder of night d for every universe mover: mover
    * gate, flow metrics over the ticker's chain, the six-rung additive
    * score with the divergence flip, then the industry cluster boost. */
  def scoreLadder(m: Market, d: Int): Seq[Scored] = {
    val movers = (0 until m.tickers).filter(i => math.abs(m.pct(i, d)) >= 1.0)
    val raw = movers.map { i =>
      val pct = m.pct(i, d)
      val bullish = pct > 0
      var callDv, putDv, callVol, putVol, callOi, putOi, callUoa, putUoa = 0.0
      var callStrikes, putStrikes = 0
      m.chain(i, d).foreach { r =>
        val vol = r.volume.getOrElse(0L).toDouble
        val oi = r.open_interest.getOrElse(0L).toDouble
        val mid0: Option[Double] = (r.bid, r.ask) match {
          case (Some(b), Some(a)) if b > 0 && a > 0 => Some((b + a) / 2)
          case _ => r.last_price.filter(_ != 0)
        }
        val dv = mid0.map(x => vol * x * 100).getOrElse(0.0)
        val uoa = if (vol > oi) mid0.map(x => (vol - oi) * x * 100).getOrElse(0.0) else 0.0
        val active = vol > math.max(oi * 0.5, 100.0)
        if (r.option_type == "call") {
          callDv += dv; callVol += vol; callOi += oi; callUoa += uoa
          if (active) callStrikes += 1
        } else {
          putDv += dv; putVol += vol; putOi += oi; putUoa += uoa
          if (active) putStrikes += 1
        }
      }
      val totalDv = callDv + putDv
      val callSkew = callDv / math.max(putDv, 1.0)
      val putSkew = putDv / math.max(callDv, 1.0)
      def skewPts(s: Double) = if (s > 3.0) 2 else if (s > 1.5) 1 else 0
      val s1 =
        if (totalDv > 500000.0) {
          if (bullish && callDv > 0) skewPts(callSkew)
          else if (!bullish && putDv > 0) skewPts(putSkew)
          else 0
        } else 0
      val relVolOi =
        if (bullish) callVol / math.max(callOi, 1.0) else putVol / math.max(putOi, 1.0)
      val s2 = if (relVolOi > 2.0) 2 else if (relVolOi > 0.8) 1 else 0
      val relStrikes = if (bullish) callStrikes else putStrikes
      val s3 = if (relStrikes >= 5) 2 else if (relStrikes >= 3) 1 else 0
      val relUoa = if (bullish) callUoa else putUoa
      val s4 = if (relUoa > 2000000) 2 else if (relUoa > 500000) 1 else 0
      val s5 = if (math.abs(pct) > 1.5) 1 else 0
      val divBear = bullish && putDv > callDv * 2 && putDv > 1000000
      val divBull = !bullish && callDv > putDv * 2 && callDv > 1000000
      val s6 = if (divBear || divBull) 1 else 0
      val direction =
        if (divBear) "BEARISH" else if (divBull) "BULLISH"
        else if (bullish) "BULLISH" else "BEARISH"
      (i, direction, s1 + s2 + s3 + s4 + s5 + s6)
    }
    val clusters = raw.filter(_._3 >= 3)
      .groupBy(r => (m.industry(r._1), r._2))
      .map { case (k, rs) => k -> rs.size }
    raw.map { case (i, direction, score) =>
      val size = clusters.getOrElse((m.industry(i), direction), 0)
      val boost =
        if (score < 6 && size >= 4) { if (size >= 8) 3 else if (size >= 5) 2 else 1 }
        else 0
      Scored(m.ticker(i), direction, score, math.min(score + boost, 10))
    }
  }

  final case class LedgerExit(exitReason: String, entryPrice: Double,
      returnPct: Double)

  /** Forward-paper-trader bracket walk over one contract's minute bars:
    * entry on the exact entry minute, else the first later bar of the
    * entry day; a zero-volume entry is INVALID_LIQUIDITY; then timeout,
    * stop-before-target, target, and TIMEOUT at the last close. */
  def ledgerWalk(bars: Seq[MinuteBar], entryTs: Long, entryDayEnd: Long,
      timeoutTs: Long): LedgerExit = {
    val buf = bars.sortBy(_.t).toIndexedSeq
    if (buf.isEmpty) return LedgerExit("NO_BARS", Double.NaN, Double.NaN)
    val exact = buf.indexWhere(_.t == entryTs)
    val entryIdx =
      if (exact >= 0) exact else buf.indexWhere(b => b.t > entryTs && b.t <= entryDayEnd)
    if (entryIdx < 0 || buf(entryIdx).v == 0)
      return LedgerExit("INVALID_LIQUIDITY", Double.NaN, Double.NaN)
    val entry = buf(entryIdx).c * 1.02
    val target = entry * 1.40
    val stop = entry * 0.75
    buf.drop(entryIdx + 1).iterator.map { b =>
      if (b.t >= timeoutTs) Some(("TIMEOUT", b.c))
      else if (b.l <= stop) Some(("STOP", stop))
      else if (b.h >= target) Some(("TARGET", target))
      else None
    }.collectFirst { case Some(x) => x } match {
      case Some((reason, px)) => LedgerExit(reason, entry, (px - entry) / entry)
      case None => LedgerExit("TIMEOUT", entry, (buf.last.c - entry) / entry)
    }
  }

  final case class Backfill(nextDayClose: Double, day2Close: Double,
      day3Close: Double, outcomeTier: String)

  /** Win-tracker backfill of a signal scanned on night d3: the closes of
    * the next three sessions and the favorable 3-day peak's tier. */
  def backfill(m: Market, i: Int, d3: Int, bullish: Boolean): Backfill = {
    val bars = m.dailyBars(i)
    val px = bars(d3).close
    val next = bars.slice(d3 + 1, d3 + 4)
    val peak =
      if (bullish) (next.map(_.high).max - px) / px * 100
      else (px - next.map(_.low).min) / px * 100
    val tier =
      if (peak >= 5.0) "home_run" else if (peak >= 3.0) "strong"
      else if (peak >= 1.0) "directional" else if (peak >= 0.0) "flat" else "wrong"
    Backfill(next(0).close, next(1).close, next(2).close, tier)
  }

  final case class GridExit(exitReason: String, returnPct: Double)

  /** Research bracket walk of one trade under one grid cell: entry at the
    * first bar at or after entry, then timeout / stop (adverse fill in the
    * stress scenario) / target, else timeout_eod at the last close. */
  def gridWalk(bars: Seq[TradeBar], entryTs: Long, timeoutTs: Long,
      slippage: Double, targetMult: Double, stopMult: Double,
      stopAdverse: Boolean, timeoutMult: Double): Option[GridExit] = {
    val buf = bars.sortBy(_.t).dropWhile(_.t < entryTs)
    if (buf.isEmpty) return None
    val entry = buf.head.c * slippage
    val stop = entry * stopMult
    val target = entry * targetMult
    def ret(px: Double) = (px - entry) / entry * 100.0
    buf.tail.iterator.map { b =>
      if (b.t >= timeoutTs) Some(GridExit("timeout", ret(b.c * timeoutMult)))
      else if (b.l <= stop)
        Some(GridExit("stop", ret(if (stopAdverse) math.min(stop, b.c) else stop)))
      else if (b.h >= target) Some(GridExit("target", ret(target)))
      else None
    }.collectFirst { case Some(x) => x }
      .orElse(Some(GridExit("timeout_eod", ret(buf.last.c * timeoutMult))))
  }
}
