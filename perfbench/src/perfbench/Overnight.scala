package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.io.Writers
import graft.pipelines.{Arena, Enrich, Execution, Scanner, Tracking}

/** One operation = one simulated night of the reference's batch: scanner,
  * enrichment, arena consensus, paper-trader execution, and the win
  * tracker's 3-session backfill MERGEd into the signals table. Every seam
  * is a table written through `io.Writers`, as in the reference.
  *
  * Nights cycle over `Slots` dates so the tables reach a fixed size after
  * the first cycle. A night's backfill reads the signals of the night three
  * sessions back: set-up has the scanner write that history night for the
  * first night, and, untimed, the first night of each other slot writes
  * its own before it starts. */
final class Overnight extends Workload {
  import Overnight._

  val name = "overnight"

  /** The reference runs each night in a fresh process, so no warm-up night
    * precedes the measured one: only set-up, with its history scan, runs
    * before it. (A warm-up night does not make the measured night
    * steadier either: the JVM keeps getting faster for several nights.) */
  override def warmupOps: Int = 0
  private var m: Market = _

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    m = Market(ctx.seed, Tickers, HistoryDays, Slots)
    val mk = m
    val nights = m.historyNights ++ m.slotNights
    spark.range(m.tickers).repartition(ctx.cores).as[Long].flatMap(i => mk.dailyBars(i.toInt))
      .write.parquet(ctx.path("bars"))
    nights.map(d => spark.createDataset(m.snapshots(d)).withColumn("night", lit(d)))
      .reduce(_ union _).write.partitionBy("night").parquet(ctx.path("snapshots"))
    spark.range(m.tickers).repartition(ctx.cores).as[Long]
      .flatMap(i => nights.flatMap(d => mk.chain(i.toInt, d).map(r => (d, r))))
      .select($"_1".as("night"), $"_2.*")
      .write.partitionBy("night").parquet(ctx.path("chain"))
    spark.range(m.tickers).repartition(ctx.cores).as[Long]
      .flatMap(i => nights.flatMap(d => mk.news(i.toInt, d).map(n => (d, n))))
      .select($"_1".as("night"), $"_2.*")
      .write.partitionBy("night").parquet(ctx.path("news"))
    spark.range(m.tickers).repartition(ctx.cores).as[Long]
      .flatMap(i => nights.flatMap(d => mk.heroBars(i.toInt, d).map(b => (d, b))))
      .select($"_1".as("night"),
        GraftFunctions.occTicker($"_2.ticker", $"_2.expiration", $"_2.is_call", $"_2.strike")
          .as("opt_ticker"),
        $"_2.t".as("t"), $"_2.o".as("o"), $"_2.h".as("h"), $"_2.l".as("l"),
        $"_2.c".as("c"), $"_2.v".as("v"))
      .write.partitionBy("night").parquet(ctx.path("minute_bars"))
    spark.createDataset(nights.flatMap(m.picks)).write.parquet(ctx.path("picks"))
    spark.createDataset(m.macroSeries).write.parquet(ctx.path("macro"))
    m.universeValues.toDF("value").write.parquet(ctx.path("universe"))
    (0 until m.tickers).map(i => (m.ticker(i), m.sector(i), m.industry(i)))
      .toDF("ticker", "sector", "industry").write.parquet(ctx.path("metadata"))
    writeHistory(ctx, nightOf(0))
  }

  private var last: Night = _
  private var history = Set.empty[Int]
  private def nightOf(i: Int): Int = m.slotNights(math.floorMod(i, Slots))

  /** The night three sessions back from d must have signals to backfill. */
  private def writeHistory(ctx: Ctx, d: Int): Unit =
    if (m.historyNights.contains(d - 3) && !history(d - 3)) {
      writeSignals(ctx, d - 3)
      history += d - 3
    }

  /** Performance columns of the partition the night's MERGE rewrites, as
    * they were before it, by ticker. */
  private var beforeMerge: Map[String, Seq[Any]] = Map.empty

  private def perfColumns(ctx: Ctx, d: Int): Map[String, Seq[Any]] =
    read(ctx, "signals").where(col("scan_date") === lit(m.date(d)))
      .select(("ticker" +: PerfCols.map(_._1)).map(col): _*).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap

  override def beforeOp(ctx: Ctx, i: Int): Unit = {
    writeHistory(ctx, nightOf(i))
    beforeMerge = perfColumns(ctx, nightOf(i) - 3)
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    last = night(ctx, nightOf(i), i)
    OpResult(last.nightS, last.figures)
  }

  def check(ctx: Ctx, i: Int): (Seq[String], Map[String, Double]) =
    check(ctx, nightOf(i), last)

  override def layerProbes(ctx: Ctx, i: Int): Unit = {
    val d = nightOf(i)
    ctx.tracer.span("ta.technicals", "ta") {
      Enrich.technicals(barsWindow(ctx, d - 249, d)).write.format("noop").mode("overwrite").save()
    }
  }

  def report(ops: Seq[OpResult]): Seq[(String, Double, String, Int)] = {
    def med(k: String) = Stats.median(ops.map(_.figures(k)))
    Seq(
      ("signals_ready_s", med("signals_ready_s"), "s", ops.size),
      ("night_s", med("night_s"), "s", ops.size),
      ("night_written_mb", med("written_mb"), "MB", ops.size),
      ("scanner.wall_s", med("scanner_s"), "s", ops.size),
      ("enrich.wall_s", med("enrich_s"), "s", ops.size),
      ("arena.wall_s", med("arena_s"), "s", ops.size),
      ("execution.wall_s", med("execution_s"), "s", ops.size),
      ("execution.fill_ratio", med("fill_ratio"), "ratio", ops.size),
      ("tracking.wall_s", med("tracking_s"), "s", ops.size),
      ("tracking.merge_s", med("merge_s"), "s", ops.size),
      ("writers.write_s", med("write_s"), "s", ops.size),
      ("writers.files", med("files"), "count", ops.size),
      ("writers.write_amp", med("write_amp"), "ratio", ops.size),
      ("writers.merge_useful_ratio", med("merge_useful_ratio"), "ratio", ops.size))
  }

  // ---- one night ----------------------------------------------------------

  private final case class Night(nightS: Double, figures: Map[String, Double], seq: Int)

  private def read(ctx: Ctx, table: String): DataFrame = ctx.spark.read.parquet(ctx.path(table))

  private def barsWindow(ctx: Ctx, fromDay: Int, toDay: Int): DataFrame =
    read(ctx, "bars").where(col("date").between(lit(m.date(fromDay)), lit(m.date(toDay))))

  /** Scanner seam: night d's signals, with the (still empty) performance
    * columns the tracker backfills, overwrite the scan_date partition. */
  private def writeSignals(ctx: Ctx, d: Int): Unit = {
    val day = lit(m.date(d))
    val signals = Scanner.run(
      read(ctx, "snapshots").where(col("night") === d).drop("night"),
      read(ctx, "chain").where(col("night") === d).drop("night"),
      read(ctx, "universe"), read(ctx, "metadata"), asOf = day, scanDate = day)
    val withPerf = PerfCols.foldLeft(signals) { case (df, (c, t)) => df.withColumn(c, lit(null).cast(t)) }
    Writers.partitionedOverwrite(withPerf, ctx.path("signals"), "scan_date", Seq("ticker"))
  }

  private def night(ctx: Ctx, d: Int, seq: Int): Night = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val day = lit(m.date(d))
    val sinceMs = System.currentTimeMillis()
    val timings = scala.collection.mutable.Map.empty[String, Double]
    def seam[T](key: String, span: String, module: String)(body: => T): T = {
      val (r, s) = Workload.timed(tr.span(span, module)(body))
      timings(key) = timings.getOrElse(key, 0.0) + s
      r
    }
    def write(key: String)(body: => Unit): Unit = seam("write_s", s"writers.$key", "io.Writers")(body)
    val t0 = System.nanoTime()
    var signalsReady = 0.0
    var mergeBytes = 0L

    tr.span("night", "overnight") {
      seam("scanner_s", "scanner", "pipelines.Scanner") {
        write("signals")(writeSignals(ctx, d))
      }
      signalsReady = (System.nanoTime() - t0) / 1e9

      seam("enrich_s", "enrich", "pipelines.Enrich") {
        val enriched = Enrich.run(
          read(ctx, "signals").where(col("scan_date") === day),
          barsWindow(ctx, d - 249, d),
          read(ctx, "news").where(col("night") === d).drop("night"))
        write("enriched")(Writers.partitionedOverwrite(enriched, ctx.path("enriched"), "scan_date"))
      }

      seam("arena_s", "arena", "pipelines.Arena") {
        val consensus = Arena.consensus(read(ctx, "picks").where(col("scan_date") === day))
        write("arena")(Writers.partitionedOverwrite(consensus, ctx.path("arena"), "scan_date"))
      }

      seam("execution_s", "execution", "pipelines.Execution") {
        val ledger = Execution.run(spark,
          read(ctx, "enriched").where(col("scan_date") === day),
          read(ctx, "minute_bars").where(col("night") === d).drop("night"),
          read(ctx, "macro"), targetDate = day, entryDay = lit(m.date(d + 1)),
          entryTs = m.entryTs(d), timeoutTs = m.timeoutTs(d), entryDayEnd = m.entryDayEnd(d))
        write("ledger")(Writers.append(ledger.withColumn("run_seq", lit(seq)), ctx.path("ledger")))
      }

      seam("tracking_s", "tracking", "pipelines.Tracking") {
        val d3 = m.date(d - 3)
        val signals3 = read(ctx, "signals").where(col("scan_date") === lit(d3))
          .select(col("ticker"), col("scan_date"), col("direction"),
            col("underlying_price").as("signal_price"))
        val bars = barsWindow(ctx, d - 2, d).select("ticker", "date", "close", "high", "low")
        val updates = Tracking.backfill(signals3, bars)
          .select(("ticker" +: "scan_date" +: PerfCols.map(_._1)).map(col): _*)
        val mergeStart = System.currentTimeMillis()
        seam("merge_s", "tracking.merge", "io.Writers") {
          Writers.mergeUpsert(spark, ctx.path("signals"), updates, Seq("ticker", "scan_date"),
            PerfCols.map(_._1), partitionCol = Some("scan_date"))
        }
        val (_, bytes) = Workload.writtenSince(ctx.path("signals") + s"/scan_date=$d3", mergeStart)
        mergeBytes = bytes
      }
    }
    val nightS = (System.nanoTime() - t0) / 1e9
    val (files, bytes) = Seq("signals", "enriched", "arena", "ledger")
      .map(t => Workload.writtenSince(ctx.path(t), sinceMs))
      .foldLeft((0, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    Night(nightS, timings.toMap ++ Map(
      "night_s" -> nightS, "signals_ready_s" -> signalsReady,
      "written_mb" -> bytes / Probe.MB, "files" -> files.toDouble,
      "write_amp" -> bytes.toDouble / math.max(1L, bytes - mergeBytes)), seq)
  }

  // ---- output checks ----------------------------------------------------------

  /** Checks night d's seams against the generator: row counts at every
    * seam, the whole score ladder, and the bracket walk and 3-session
    * backfill of a seeded sample. Returns the failures, and the night's fill and
    * merge ratios read off the same outputs. */
  private def check(ctx: Ctx, d: Int, n: Night): (Seq[String], Map[String, Double]) = {
    val spark = ctx.spark
    val fails = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) fails += s"night $d $what: got $got, want $want"

    val day = lit(m.date(d))
    val ladder = Replay.scoreLadder(m, d)
    val signals = read(ctx, "signals").where(col("scan_date") === day)
      .select("ticker", "direction", "original_score", "overnight_score").collect()
      .map(r => Replay.Scored(r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
    expect("signals rows", signals.length, ladder.size)
    val diff = signals.toSeq.sortBy(_.ticker).diff(ladder.sortBy(_.ticker))
    if (diff.nonEmpty) fails += s"night $d score ladder: ${diff.size} engine rows differ from the replay, " +
      s"e.g. ${diff.head} vs ${ladder.find(_.ticker == diff.head.ticker)}"

    val enriched = read(ctx, "enriched").where(col("scan_date") === day)
    expect("enriched rows", enriched.count(), ladder.filter(_.overnightScore >= Scanner.MinScore)
      .map(x => m.newsCount(x.ticker.drop(1).toInt, d)).sum.toLong)
    expect("arena rows", read(ctx, "arena").where(col("scan_date") === day).count(), 1L)

    val eligible = Execution.eligible(enriched, day).count()
    val ledger = read(ctx, "ledger").where(col("run_seq") === n.seq)
      .select("ticker", "recommended_contract", "is_skipped", "exit_reason",
        "entry_price", "realized_return_pct").collect()
    expect("ledger rows", ledger.length.toLong, eligible)
    val live = ledger.filter(r => !r.getBoolean(2))
    live.sortBy(_.getString(0)).take(SampleTrades).foreach { r =>
      val i = r.getString(0).drop(1).toInt
      val bars =
        if (m.heroIndex(i, d).exists(j => m.contractSymbol(i, d, j) == r.getString(1))) m.heroBars(i, d)
        else Nil
      val want = Replay.ledgerWalk(bars, m.entryTs(d), m.entryDayEnd(d), m.timeoutTs(d))
      val got = Replay.LedgerExit(r.getString(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
        if (r.isNullAt(5)) Double.NaN else r.getDouble(5))
      if (got.toString != want.toString) fails += s"night $d ledger ${r.getString(0)}: got $got, want $want"
    }
    val filled = live.count(r => Set("TARGET", "STOP", "TIMEOUT")(r.getString(3)))

    val d3 = d - 3
    val tracked = read(ctx, "signals").where(col("scan_date") === lit(m.date(d3)))
      .select("ticker", "direction", "next_day_close", "day2_close", "day3_close", "outcome_tier")
      .collect()
    expect("tracked rows", tracked.length, Replay.scoreLadder(m, d3).size)
    expect("tracked rows left without backfill", tracked.count(_.isNullAt(2)), 0)
    val sample = (0 until SampleTickers).map(k => m.ticker(Rng.int(m.tickers, ctx.seed, 70, d, k))).toSet
    tracked.filter(r => sample(r.getString(0))).foreach { r =>
      val want = Replay.backfill(m, r.getString(0).drop(1).toInt, d3, r.getString(1) == "BULLISH")
      val got = Replay.Backfill(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getString(5))
      if (got != want) fails += s"night $d backfill ${r.getString(0)}: got $got, want $want"
    }
    // the MERGE rewrites the whole partition; a row changed if any of its
    // performance columns differs from before (0 on a night that re-MERGEs
    // a partition it already backfilled)
    val rewritten = perfColumns(ctx, d3)
    val changed = rewritten.count { case (t, v) => !beforeMerge.get(t).contains(v) }
    (fails.result(), Map(
      "fill_ratio" -> filled.toDouble / math.max(1, live.length),
      "merge_useful_ratio" -> changed.toDouble / math.max(1, rewritten.size)))
  }
}

object Overnight {
  val Tickers = 600
  val HistoryDays = 250
  val Slots = 3
  val SampleTickers = 40
  val SampleTrades = 12

  /** Performance columns the win tracker backfills into the signals table. */
  val PerfCols: Seq[(String, String)] = Seq(
    "next_day_close" -> "double", "next_day_pct" -> "double",
    "day2_close" -> "double", "day2_pct" -> "double",
    "day3_close" -> "double", "day3_pct" -> "double",
    "peak_return_3d" -> "double", "outcome_tier" -> "string", "is_win" -> "boolean")
}
