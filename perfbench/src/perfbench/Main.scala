package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import graft.GraftSession

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload overnight --seed 1 --seconds 10 --trace 0 --out <dir> --launched-ms <ms>
  * }}}
  *
  * Sets up once (session start, inputs), warms up with the workload's
  * untimed, checked operations, then runs operations for `seconds` of
  * measured time, checking each one's outputs. setup_s runs from
  * `launched-ms` (the JVM's launch, epoch milliseconds) to the end of the
  * warm-up, less the warm-up's output checks, so it is what a fresh
  * nightly process pays before its first operation. Prints a
  * human-readable report and, last, `RESULT {json}` with the end-to-end
  * metrics (untraced) or the per-layer metrics (traced). A traced run
  * traces every other operation, so tracing overhead is measured within
  * the run, and writes its spans to `<out>/spans.jsonl`. */
object Main {

  private def progress(msg: String): Unit =
    System.err.println(s"${java.time.LocalTime.now()} perfbench: $msg")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: Path, launchedMs: Long) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("out")), need("launched-ms").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workload(a.workload)
    val probe = new Probe
    val tracer = new Tracer(probe, s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
    val work = a.out.resolve("work")
    Workload.deleteTree(work)

    // ---- set-up
    val spark = GraftSession.local(a.cores)
    probe.attach(spark)
    val ctx = new Ctx(spark, a.seed, work, tracer, probe, a.cores)
    Files.createDirectories(ctx.dir)
    wl.setup(ctx)
    progress(f"set-up ${(System.currentTimeMillis() - a.launchedMs) / 1e3}%.2f s")

    val failures = Seq.newBuilder[String]
    var attempted = 0
    var failed = 0
    var checkS = 0.0 // output checks, untimed
    def runChecked(i: Int)(body: => OpResult): Option[(OpResult, Map[String, Double])] = {
      attempted += 1
      try {
        val r = body
        val ((fs, figures), s) = Workload.timed(wl.check(ctx, i))
        checkS += s
        if (fs.nonEmpty) { failed += 1; failures ++= fs }
        Some((r, figures))
      } catch {
        case NonFatal(e) =>
          failed += 1
          failures += s"operation $i threw: $e"
          None
      }
    }

    // ---- warm-up: untimed, checked
    val cw = probe.snapshot()
    // a traced run always warms up: it compares its traced and untraced
    // operations for the tracing overhead, so none of them may be cold
    val warmOps = if (a.trace) math.max(1, wl.warmupOps) else wl.warmupOps
    val warmS = Workload.timed((-warmOps until 0).foreach { i =>
      wl.beforeOp(ctx, i)
      runChecked(i)(wl.op(ctx, i))
    })._2
    val setupS = (System.currentTimeMillis() - a.launchedMs) / 1e3 - checkS
    progress(f"warm-up $warmS%.2f s")

    // ---- measured closed loop
    val ops = Seq.newBuilder[OpResult]
    val traced = Seq.newBuilder[Boolean]
    val perOp = Seq.newBuilder[Counters]
    val jobMs = Seq.newBuilder[Long]
    var measured = 0.0
    var i = 0
    // A traced run alternates untraced and traced operations and runs at
    // least three (untraced, traced, untraced), so the overhead estimate is
    // not skewed by the JVM still getting faster.
    while (measured < a.seconds || i < wl.measuredOps || (a.trace && i < 3)) {
      val isTraced = a.trace && i % 2 == 1
      wl.beforeOp(ctx, i)
      val before = probe.snapshot()
      tracer.beginOp(i, isTraced)
      val r = runChecked(i) {
        val r = tracer.span("op", wl.name)(wl.op(ctx, i))
        val after = probe.snapshot()
        perOp += after - before
        jobMs ++= probe.jobDurationsBetween(before, after)
        r
      }
      tracer.endOp()
      r.foreach { case (res, figures) =>
        progress(f"op $i ${res.wallS}%.3f s")
        ops += res.copy(figures = res.figures ++ figures)
        traced += isTraced
        measured += res.wallS
      }
      if (r.isEmpty) measured += 1.0
      if (isTraced) {
        tracer.beginOp(i, traced = true)
        try wl.layerProbes(ctx, i)
        catch {
          case NonFatal(e) =>
            attempted += 1
            failed += 1
            failures += s"layer probe $i threw: $e"
        }
        tracer.endOp()
      }
      i += 1
    }
    val codegen = probe.snapshot() - cw
    val peakRss = Probe.peakRssMb()

    val results = ops.result()
    val tracedFlags = traced.result()
    val fails = failures.result()
    val report = Seq(
      ("setup_s", setupS, "s", 1),
      ("warmup_s", warmS, "s", 1),
      ("op_s", if (results.isEmpty) Double.NaN else Stats.median(results.map(_.wallS)), "s", results.size),
      ("failed_frac", Stats.failedFrac(attempted, failed), "ratio", attempted),
      ("peak_rss_mb", peakRss, "MB", 1)) ++
      (if (results.nonEmpty) wl.report(results.zip(tracedFlags).filterNot(_._2).map(_._1)) else Nil)
    report.foreach { case (n, v, u, k) => println(f"report $n%-32s $v%14.6f $u%-6s n=$k") }
    fails.take(20).foreach(f => println(s"check failed: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_s", Stats.median(results.map(_.wallS)), "s"))
      else {
        val layers = Layers.summarize(tracer, results, tracedFlags, perOp.result(),
          jobMs.result(), codegen, a.cores)
        Layers.writeArtifacts(a.out, tracer, layers, wl.name)
        layers.foreach { case (n, v, u) => println(f"layer  $n%-32s $v%14.6f $u") }
        layers.filter { case (n, _, _) => Layers.Exported(n) }
      }

    val result = Json.obj(Seq(
      "correct" -> fails.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }))
    println(s"RESULT $result")
    spark.stop()
  }
}
