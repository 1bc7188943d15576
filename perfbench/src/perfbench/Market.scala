package perfbench

import java.sql.Date
import java.time.LocalDate

// Row shapes of the generated market (the columns the pipelines read).
final case class DayAgg(c: Option[Double], v: Long)
final case class LastTrade(p: Double)
final case class PrevDay(c: Double)
final case class Snapshot(ticker: String, todaysChangePerc: Double, day: DayAgg,
    lastTrade: LastTrade, prevDay: PrevDay)
final case class ChainRow(underlying: String, contract_symbol: String,
    option_type: String, expiration_date: Date, strike: Double,
    last_price: Option[Double], bid: Option[Double], ask: Option[Double],
    volume: Option[Long], open_interest: Option[Long], implied_volatility: Double,
    delta: Double, gamma: Double, theta: Double, vega: Double)
final case class DailyBar(ticker: String, date: Date, open: Double, high: Double,
    low: Double, close: Double, volume: Double)
final case class NewsRow(ticker: String, scan_date: Date, catalyst_score: Double,
    catalyst_type: String, news_found: Boolean, sources_count: Long,
    flow_intent: String, flow_intent_reasoning: String, move_overdone: Boolean,
    reversal_probability: Double, thesis: String, summary: String)
final case class MinuteBar(ticker: String, expiration: Date, is_call: Boolean,
    strike: Double, t: Long, o: Double, h: Double, l: Double, c: Double, v: Long)
final case class Pick(scan_date: Date, agent: String, ticker: String,
    direction: String, conviction: Long)
final case class MacroRow(symbol: String, date: Date, close: Double)

/** A seeded options market: `tickers` universe names with a daily price
  * path each, a Zipf-skewed option chain per ticker and night (about 40
  * contracts on average), a news row per ticker and night, arena picks, a
  * macro series, and three sessions of minute bars for each "hero"
  * contract of the tickers with heavy one-sided flow.
  *
  * The generator deliberately produces the branches the pipelines handle:
  * null and zero bids, null volumes, off-universe snapshot tickers, a
  * second news item for some (ticker, night) pairs (so the enriched
  * signals hold duplicate (ticker, scan_date) rows), hero contracts with a null
  * bid (the recommended contract then has no minute bars), entry bars
  * missing their exact minute, and zero-volume entry bars.
  *
  * Day k is `Base + k`; night d scans day d. Daily bars cover days
  * [0, days); nights run on days >= `historyDays` - 3. */
final case class Market(seed: Long, tickers: Int, historyDays: Int, slots: Int) {
  import Market._

  val days: Int = historyDays + slots
  val offUniverse: Int = math.max(1, tickers / 20)
  /** Nights written during set-up, so the first measured night has a
    * signals partition three sessions back to backfill. */
  val historyNights: Seq[Int] = (historyDays - 3 until historyDays)
  val slotNights: Seq[Int] = historyDays until historyDays + slots

  def ticker(i: Int): String = f"T$i%05d"
  def date(k: Int): Date = Date.valueOf(Base.plusDays(k))
  def epochMs(k: Int): Long = Base.plusDays(k).toEpochDay * 86400000L

  // ---- prices ---------------------------------------------------------

  @transient private lazy val closeCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  /** Daily closes of ticker i for days [0, days). */
  def closes(i: Int): Array[Double] = closeCache.computeIfAbsent(i, _ => {
    val out = new Array[Double](days)
    val vol = 0.01 + 0.03 * Rng.u(seed, 2, i)
    var c = 20.0 + 180.0 * Rng.u(seed, 1, i)
    var k = 0
    while (k < days) {
      if (k > 0) c = c * (1.0 + vol * (2.0 * Rng.u(seed, 3, i, k) - 1.0) * 1.7320508)
      out(k) = c
      k += 1
    }
    out
  })

  def pct(i: Int, d: Int): Double = {
    val c = closes(i)
    (c(d) / c(d - 1) - 1.0) * 100.0
  }

  def dailyBars(i: Int): Seq[DailyBar] = {
    val c = closes(i)
    (0 until days).map { k =>
      val prev = if (k == 0) c(0) else c(k - 1)
      DailyBar(ticker(i), date(k), prev,
        c(k) * (1.0 + 0.01 * Rng.u(seed, 10, i, k)),
        c(k) * (1.0 - 0.01 * Rng.u(seed, 11, i, k)),
        c(k), 100000.0 + math.floor(1000000.0 * Rng.u(seed, 12, i, k)))
    }
  }

  // ---- snapshots ------------------------------------------------------

  def snapshots(d: Int): Seq[Snapshot] = {
    val universe = (0 until tickers).map { i =>
      val c = closes(i)
      Snapshot(ticker(i), pct(i, d),
        DayAgg(if (Rng.u(seed, 5, i, d) < 0.02) None else Some(c(d)),
          100000L + Rng.int(900000, seed, 13, i, d)),
        LastTrade(c(d)), PrevDay(c(d - 1)))
    }
    val off = (0 until offUniverse).map { k =>
      val sign = if (Rng.u(seed, 14, k, d) < 0.5) -1.0 else 1.0
      Snapshot(f"X$k%04d", sign * (1.5 + 3.0 * Rng.u(seed, 15, k, d)),
        DayAgg(Some(50.0), 500000L), LastTrade(50.0), PrevDay(49.0))
    }
    universe ++ off
  }

  /** Universe rows, some in lower case with padding (the scanner
    * normalizes them). */
  def universeValues: Seq[String] = (0 until tickers).map { i =>
    if (Rng.u(seed, 16, i) < 0.1) s"  ${ticker(i).toLowerCase} " else ticker(i)
  }

  def industry(i: Int): String = s"IND${i % 40}"
  def sector(i: Int): String = s"SEC${i % 11}"

  // ---- chains ---------------------------------------------------------

  def chainSize(i: Int): Int = 10 + math.floor(120.0 * math.pow(Rng.u(seed, 8, i), 3)).toInt

  /** Side with heavy new positioning on night d, if any: true = calls. */
  def hotSide(i: Int, d: Int): Option[Boolean] =
    if (Rng.u(seed, 6, i, d) >= 0.10) None
    else {
      val withMove = pct(i, d) > 0
      Some(if (Rng.u(seed, 7, i, d) < 0.85) withMove else !withMove)
    }

  /** Index of the hero contract on the hot side: 0 (call) or 1 (put). */
  def heroIndex(i: Int, d: Int): Option[Int] = hotSide(i, d).map(c => if (c) 0 else 1)
  def heroNullBid(i: Int, d: Int): Boolean = Rng.u(seed, 9, i, d) < 0.05
  def expiryDay(d: Int): Int = d + 35
  def contractSymbol(i: Int, d: Int, j: Int): String = s"${ticker(i)}-$d-$j"

  def chain(i: Int, d: Int): Seq[ChainRow] = {
    val price = closes(i)(d)
    val n = chainSize(i)
    val hot = hotSide(i, d)
    val hero = heroIndex(i, d)
    (0 until n).map { j =>
      val isCall = j % 2 == 0
      val isHero = hero.contains(j)
      val onHotSide = hot.contains(isCall)
      def r(s: Int) = Rng.u(seed, 100 + s, i, d, j)
      val mid = if (isHero) price * 0.03 else price * (0.02 + 0.04 * r(0))
      val spread = if (isHero) 0.02 else 0.05 + 0.3 * r(1)
      val bid0 = mid * (1.0 - spread / 2)
      val bid =
        if (isHero) { if (heroNullBid(i, d)) None else Some(bid0) }
        else if (r(2) < 0.02) None
        else if (r(2) < 0.04) Some(0.0)
        else Some(bid0)
      val half = math.max(1, n / 2)
      val frac = (j / 2).toDouble / half
      val strike =
        if (isHero) math.round(price * 2.0) / 2.0
        else if (isCall) math.round((0.92 + 0.3 * frac) * price * 2.0) / 2.0
        else math.round((0.82 + 0.3 * frac) * price * 2.0) / 2.0
      val volume =
        if (isHero) Some(6000L + Rng.int(2000, seed, 120, i, d, j))
        else if (onHotSide) Some(1500L + Rng.int(3500, seed, 121, i, d, j))
        else if (r(3) < 0.05) None
        else Some(10L + Rng.int(300, seed, 122, i, d, j))
      val oi =
        if (isHero) 1500L
        else if (onHotSide) 200L + Rng.int(500, seed, 123, i, d, j)
        else 100L + Rng.int(2000, seed, 124, i, d, j)
      val sign = if (isCall) 1.0 else -1.0
      ChainRow(ticker(i), contractSymbol(i, d, j), if (isCall) "call" else "put",
        date(expiryDay(d)), strike,
        if (r(4) < 0.5) Some(mid) else None, bid, Some(mid * (1.0 + spread / 2)),
        volume, Some(oi), 0.2 + 0.5 * r(5),
        if (isHero) sign * 0.4 else sign * (0.55 + 0.35 * r(6)),
        if (isHero) 0.09 else 0.005 + 0.02 * r(7), -0.01, 0.1)
    }
  }

  // ---- news, picks, macro -------------------------------------------------

  /** News items of ticker i on night d: one, or two for 3% of pairs. */
  def newsCount(i: Int, d: Int): Int = if (Rng.u(seed, 35, i, d) < 0.03) 2 else 1

  def news(i: Int, d: Int): Seq[NewsRow] = (0 until newsCount(i, d)).map { k =>
    NewsRow(ticker(i), date(d),
      math.round(100.0 * Rng.u(seed, 30, i, d, k)) / 100.0, "Catalyst", true,
      Rng.int(5, seed, 31, i, d, k).toLong,
      if (Rng.u(seed, 32, i, d, k) < 0.5) "HEDGING" else "DIRECTIONAL", "reasoning",
      Rng.u(seed, 33, i, d, k) < 0.1, 0.2 + 0.4 * Rng.u(seed, 34, i, d, k), "thesis", "summary")
  }

  def picks(d: Int): Seq[Pick] = {
    val pool = (0 until 8).map(p => Rng.int(tickers, seed, 40, d, p)).distinct
    (0 until Agents).flatMap { a =>
      pool.sortBy(i => Rng.u(seed, 41, d, a, i)).take(3).map { i =>
        Pick(date(d), s"agent_$a", ticker(i),
          if (Rng.u(seed, 42, d, i) < 0.6) "BULLISH" else "BEARISH",
          1L + Rng.int(10, seed, 43, d, a, i))
      }
    }
  }

  def macroSeries: Seq[MacroRow] = (0 to days).flatMap { k =>
    Seq(MacroRow("SPY", date(k), 500.0 + 20.0 * math.sin(k / 9.0) + 5.0 * Rng.u(seed, 50, k)),
      MacroRow("^VIX", date(k), 12.0 + 15.0 * Rng.u(seed, 51, k)))
  }

  // ---- minute bars ----------------------------------------------------------

  def sessionOpen(k: Int): Long = epochMs(k) + SessionOpenMs
  def entryTs(d: Int): Long = sessionOpen(d + 1) + EntryMinute * 60000L
  def entryDayEnd(d: Int): Long = sessionOpen(d + 1) + (SessionMinutes - 1) * 60000L
  def timeoutTs(d: Int): Long = sessionOpen(d + 3) + (SessionMinutes - 1) * 60000L

  /** True if the hot ticker's hero contract has minute bars on night d. */
  def heroHasBars(i: Int, d: Int): Boolean = hotSide(i, d).isDefined && !heroNullBid(i, d)

  /** Three sessions of minute bars of ticker i's hero contract on night d
    * (empty when the hero has none). */
  def heroBars(i: Int, d: Int): Seq[MinuteBar] =
    if (!heroHasBars(i, d)) Nil
    else {
      val isCall = hotSide(i, d).get
      val price = closes(i)(d)
      val strike = math.round(price * 2.0) / 2.0
      val skipExact = Rng.u(seed, 60, i, d) < 0.05
      val zeroEntry = Rng.u(seed, 61, i, d) < 0.03
      val vol = 0.004 + 0.012 * Rng.u(seed, 62, i, d)
      var c = price * 0.03
      val out = Seq.newBuilder[MinuteBar]
      var s = 0
      while (s < 3) {
        var m = 0
        while (m < SessionMinutes) {
          val prev = c
          c = c * (1.0 + vol * (2.0 * Rng.u(seed, 63, i, d, s * SessionMinutes + m) - 1.0) * 1.7320508)
          val isEntry = s == 0 && m == (if (skipExact) EntryMinute + 1 else EntryMinute)
          if (!(s == 0 && m == EntryMinute && skipExact))
            out += MinuteBar(ticker(i), date(expiryDay(d)), isCall, strike,
              sessionOpen(d + 1 + s) + m * 60000L, prev,
              c * (1.0 + 0.003 * Rng.u(seed, 64, i, d, s * SessionMinutes + m)),
              c * (1.0 - 0.003 * Rng.u(seed, 65, i, d, s * SessionMinutes + m)),
              c, if (isEntry && zeroEntry) 0L else 5L + Rng.int(50, seed, 66, i, d, s * SessionMinutes + m))
          m += 1
        }
        s += 1
      }
      out.result()
    }
}

object Market {
  val Base: LocalDate = LocalDate.of(2025, 1, 1)
  val Agents = 5
  val SessionMinutes = 390
  val EntryMinute = 30
  val SessionOpenMs: Long = (14L * 60 + 30) * 60000L
}
