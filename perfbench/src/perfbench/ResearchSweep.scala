package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{Bracket, MonteCarlo}
import graft.research.Research

final case class TradeBar(trade_id: Long, t: Long, o: Double, h: Double, l: Double, c: Double)
final case class Trade(trade_id: Long, entry_ts: Long, timeout_ts: Long)

/** Generated research input: `trades` trades, each with three sessions of
  * minute bars starting at its entry day's open; entry is 30 minutes in,
  * timeout at the last minute of the third session. */
final case class ResearchData(seed: Long, trades: Int) {
  import Market.{EntryMinute, SessionMinutes, SessionOpenMs}

  def dayOpen(k: Long): Long = Market.Base.plusDays(k % 60).toEpochDay * 86400000L + SessionOpenMs
  def trade(k: Long): Trade = Trade(k, dayOpen(k) + EntryMinute * 60000L,
    dayOpen(k) + 2 * 86400000L + (SessionMinutes - 1) * 60000L)

  def bars(k: Long): Seq[TradeBar] = {
    val vol = 0.004 + 0.012 * Rng.u(seed, 80, k)
    var c = 1.0 + 9.0 * Rng.u(seed, 81, k)
    (0 until 3 * SessionMinutes).map { n =>
      val prev = c
      c = c * (1.0 + vol * (2.0 * Rng.u(seed, 82, k, n) - 1.0) * 1.7320508)
      TradeBar(k, dayOpen(k) + (n / SessionMinutes) * 86400000L + (n % SessionMinutes) * 60000L,
        prev, c * (1.0 + 0.003 * Rng.u(seed, 83, k, n)),
        c * (1.0 - 0.003 * Rng.u(seed, 84, k, n)), c)
    }
  }

  def barCount: Long = trades.toLong * 3 * SessionMinutes
}

/** One operation = one research pass: the 85-config x 3-scenario bracket
  * sweep over every trade's minute bars, cohort statistics per grid cell,
  * the chronological holdout, and an empirical-bootstrap Monte Carlo over
  * the base cell's returns. Read-only. */
final class ResearchSweep extends Workload {
  import ResearchSweep._

  val name = "research_sweep"

  /** op_s is the median of three passes (the second to the fourth): one
    * pass slowed by a burst of the host's noise does not set it. */
  override def measuredOps: Int = 3

  private var data: ResearchData = _
  private var fills: DataFrame = _
  private var results: (Long, Int, Seq[Long], Long) = _

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    data = ResearchData(ctx.seed, Trades)
    val d = data
    spark.range(d.trades).repartition(ctx.cores).as[Long].flatMap(d.bars)
      .write.parquet(ctx.path("bars"))
    spark.range(d.trades).as[Long].map(d.trade)
      .write.parquet(ctx.path("trades"))
    configs.toDF("cfg", "target_mult", "stop_mult").write.parquet(ctx.path("configs"))
  }

  private def read(ctx: Ctx, t: String) = ctx.spark.read.parquet(ctx.path(t))

  def op(ctx: Ctx, i: Int): OpResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val (sweepRows, sweepS) = Workload.timed(tr.span("research.sweep", "research") {
      fills = Research.sweep(spark, read(ctx, "trades"), read(ctx, "bars"), read(ctx, "configs"))
        .withColumn("entry_date", to_date(timestamp_millis(col("entry_ts"))))
        .cache()
      fills.count()
    })
    val (cohorts, cohortS) = Workload.timed(tr.span("research.cohort", "research") {
      Research.cohortStats(fills, Seq("scenario", "cfg"), col("entry_ts"))
        .select("n_trades").collect().map(_.getLong(0)).toSeq
    })
    val (holdout, holdoutS) = Workload.timed(tr.span("research.holdout", "research") {
      Research.chronoHoldout(fills, "entry_date").select("n").collect().map(_.getLong(0)).sum
    })
    val (paths, mcS) = Workload.timed(tr.span("montecarlo.bootstrap", "kernels.MonteCarlo") {
      val pool = fills.where(col("scenario") === "Base" && col("cfg") === 0)
        .select("return_pct").collect().map(_.getDouble(0))
      MonteCarlo.summarize(MonteCarlo.bootstrap(spark, Paths, 40.0, pool)).collect().length
    })
    results = (sweepRows, paths, cohorts, holdout)
    val wall = sweepS + cohortS + holdoutS + mcS
    OpResult(wall, Map("sweep_s" -> wall, "research.sweep_s" -> sweepS,
      "research.cohort_s" -> cohortS, "research.holdout_s" -> holdoutS,
      "montecarlo.bootstrap_s" -> mcS,
      "bar_cells_per_s" -> data.barCount * Cells / sweepS))
  }

  /** Row counts against the generator's closed forms (every trade has bars
    * after entry, so it fills in every cell), and a seeded sample of
    * (trade, cell) exits against a plain-Scala bracket walk. */
  def check(ctx: Ctx, i: Int): (Seq[String], Map[String, Double]) = {
    val (sweepRows, paths, cohorts, holdout) = results
    val fails = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) fails += s"pass $i $what: got $got, want $want"
    expect("fills", sweepRows, data.trades.toLong * Cells)
    expect("cohort rows", cohorts.size, Cells)
    expect("cohorts with a trade count other than the trade count",
      cohorts.count(_ != data.trades), 0)
    expect("holdout rows", holdout, data.trades.toLong * Cells)
    expect("bootstrap summary rows", paths, 1)
    val sample = (0 until SampleFills).map(k =>
      (Rng.int(data.trades, ctx.seed, 90, i, k).toLong, Rng.int(Cells, ctx.seed, 91, i, k)))
    val rows = fills.where(col("trade_id").isin(sample.map(_._1): _*))
      .select("trade_id", "cfg", "scenario", "exit_reason", "return_pct").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)) -> (r.getString(3), r.getDouble(4)))
      .toMap
    sample.foreach { case (t, gid) =>
      val (cfg, target, stop) = configs(gid / 3)
      val (scenario, slip, adverse, toMult) = Scenarios(gid % 3)
      val tr = data.trade(t)
      val want = Replay.gridWalk(data.bars(t), tr.entry_ts, tr.timeout_ts, slip, target, stop,
        adverse, toMult).map(e => (e.exitReason, e.returnPct))
      val got = rows.get((t, cfg, scenario))
      if (got != want) fails += s"pass $i trade $t cell $gid: got $got, want $want"
    }
    fills.unpersist(blocking = true)
    (fails.result(), Map.empty)
  }

  override def layerProbes(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val grid = for {
      (cfg, target, stop) <- configs
      (scen, (_, slip, adverse, toMult)) <- Scenarios.zipWithIndex.map(_.swap)
    } yield Bracket.GridCfg(cfg * 3 + scen, slip, target, stop, adverse, toMult)
    val keyed = read(ctx, "bars").join(read(ctx, "trades"), "trade_id")
    ctx.tracer.span("bracket.grid", "kernels.Bracket") {
      Bracket.executeGrid(spark, keyed, grid.sortBy(_.gid)).write.format("noop")
        .mode("overwrite").save()
      ctx.tracer.attr("bar_cells", data.barCount.toDouble * Cells)
    }
  }

  def report(ops: Seq[OpResult]): Seq[(String, Double, String, Int)] = {
    def med(k: String) = Stats.median(ops.map(_.figures(k)))
    Seq(
      ("sweep_s", med("sweep_s"), "s", ops.size),
      ("research.sweep_s", med("research.sweep_s"), "s", ops.size),
      ("research.cohort_s", med("research.cohort_s"), "s", ops.size),
      ("research.holdout_s", med("research.holdout_s"), "s", ops.size),
      ("montecarlo.bootstrap_s", med("montecarlo.bootstrap_s"), "s", ops.size),
      ("bracket.bar_cells_per_s", med("bar_cells_per_s"), "1/s", ops.size))
  }
}

object ResearchSweep {
  val Trades = 2000
  val Paths = 20000
  val SampleFills = 8

  /** 17 targets x 5 stops = 85 configs: (cfg, target_mult, stop_mult). */
  val configs: Seq[(Int, Double, Double)] =
    (for { t <- 0 until 17; s <- 0 until 5 } yield (t * 5 + s, 1.10 + 0.05 * t, 0.60 + 0.05 * s))

  /** The three scenarios of `Research.scenarios`, by scen_id:
    * (name, slippage, stop_adverse, timeout_mult). */
  val Scenarios: Seq[(String, Double, Boolean, Double)] = Seq(
    ("Optimistic", 1.00, false, 1.00), ("Base", 1.02, false, 1.00), ("Stress", 1.05, true, 0.95))

  val Cells: Int = 85 * 3
}
