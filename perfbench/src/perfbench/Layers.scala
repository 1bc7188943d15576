package perfbench

import java.nio.file.{Files, Path}

/** Turns a traced run's spans and per-operation counters into per-layer
  * metrics, and writes the run's artifacts. */
object Layers {

  /** Metrics every workload reports (the engine-wide layers); the
    * module-level ones exist only where a workload calls that module. */
  val Exported: Set[String] = Set(
    "catalyst.plan_s", "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.job_ms", "scheduler.empty_task_frac", "scheduler.idle_frac",
    "executor.cpu_s", "executor.gc_s", "shuffle.write_mb", "shuffle.read_mb",
    "spill.disk_mb", "codegen.compiles", "codegen.compile_s", "codegen.failures",
    "trace.overhead_frac")

  /** Overnight seam spans, reported with the full counter set. */
  private val Seams = Seq("scanner", "enrich", "execution", "tracking")

  def summarize(tracer: Tracer, ops: Seq[OpResult], traced: Seq[Boolean],
      perOp: Seq[Counters], jobMs: Seq[Long], codegen: Counters,
      cores: Int): Seq[(String, Double, String)] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    // engine-wide counters are whole numbers (ms, counts): means keep their
    // digits where a median would repeat one operation's value
    def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    val out = Seq.newBuilder[(String, Double, String)]
    def put(n: String, v: Double, u: String) = out += ((n, v, u))

    // engine-wide, over every measured operation
    val sum = perOp.foldLeft(Counters())(_ + _)
    put("catalyst.plan_s", mean(perOp.map(_.planMs / 1e3)), "s")
    put("scheduler.jobs", mean(perOp.map(_.jobs.toDouble)), "count")
    put("scheduler.stages", mean(perOp.map(_.stages.toDouble)), "count")
    put("scheduler.tasks", mean(perOp.map(_.tasks.toDouble)), "count")
    put("scheduler.job_ms", mean(jobMs.map(_.toDouble)), "ms")
    put("scheduler.empty_task_frac", sum.emptyTasks.toDouble / math.max(1L, sum.tasks), "ratio")
    val wallMs = ops.map(_.wallS).sum * 1e3
    put("scheduler.idle_frac", 1.0 - sum.taskRunMs / (wallMs * cores), "ratio")
    put("executor.cpu_s", mean(perOp.map(_.cpuNs / 1e9)), "s")
    put("executor.gc_s", mean(perOp.map(_.gcMs / 1e3)), "s")
    put("shuffle.write_mb", mean(perOp.map(_.shuffleWriteBytes / Probe.MB)), "MB")
    put("shuffle.read_mb", mean(perOp.map(_.shuffleReadBytes / Probe.MB)), "MB")
    put("spill.disk_mb", mean(perOp.map(_.diskSpillBytes / Probe.MB)), "MB")
    put("codegen.compiles", codegen.compiles.toDouble, "count")
    put("codegen.compile_s", codegen.compileNs / 1e9, "s")
    put("codegen.failures", codegen.codegenFailures.toDouble, "count")
    val walls = ops.zip(traced)
    put("trace.overhead_frac",
      med(walls.filter(_._2).map(_._1.wallS)) / med(walls.filterNot(_._2).map(_._1.wallS)) - 1.0,
      "ratio")

    // module spans, per traced operation
    val spans = tracer.all
    val byOp = spans.groupBy(_.op)
    def perTracedOp(f: Seq[Span] => Option[Double]): Seq[Double] =
      byOp.values.toSeq.flatMap(ss => f(ss))
    def named(n: String)(ss: Seq[Span]) = ss.filter(_.name == n)
    def total(ss: Seq[Span], g: Span => Double) = if (ss.isEmpty) None else Some(ss.map(g).sum)
    for (s <- Seams) {
      def m(g: Span => Double) = med(perTracedOp(ss => total(named(s)(ss), g)))
      if (spans.exists(_.name == s)) {
        put(s"$s.wall_s", m(_.durationNs / 1e9), "s")
        put(s"$s.jobs", m(_.counters.jobs.toDouble), "count")
        put(s"$s.cpu_s", m(_.counters.cpuNs / 1e9), "s")
        put(s"$s.shuffle_mb", m(x => (x.counters.shuffleWriteBytes + x.counters.shuffleReadBytes) / Probe.MB), "MB")
        put(s"$s.rows_out", m(_.counters.outputRecords.toDouble), "count")
      }
    }
    def wallOf(name: String, metric: String) =
      if (spans.exists(_.name == name))
        put(metric, med(perTracedOp(ss => total(named(name)(ss), _.durationNs / 1e9))), "s")
    if (spans.exists(_.name == "arena")) {
      wallOf("arena", "arena.wall_s")
      put("arena.rows_out", med(perTracedOp(ss => total(named("arena")(ss), _.counters.outputRecords.toDouble))), "count")
    }
    wallOf("tracking.merge", "tracking.merge_s")
    wallOf("ta.technicals", "ta.technicals_s")
    val writes = perTracedOp(ss => total(ss.filter(_.module == "io.Writers"), _.durationNs / 1e9))
    if (writes.nonEmpty) {
      put("writers.write_s", med(writes), "s")
      put("writers.written_mb", med(ops.zip(traced).filter(_._2).flatMap(_._1.figures.get("written_mb"))), "MB")
      for (k <- Seq("files", "write_amp", "merge_useful_ratio"))
        put(s"writers.$k", med(ops.zip(traced).filter(_._2).flatMap(_._1.figures.get(k))),
          if (k == "files") "count" else "ratio")
      put("execution.fill_ratio", med(ops.zip(traced).filter(_._2).flatMap(_._1.figures.get("fill_ratio"))), "ratio")
      val nights = spans.filter(_.name == "night")
      val seamSum = nights.map { n =>
        spans.filter(s => s.parent == n.id).map(_.durationNs).sum.toDouble / n.durationNs }
      put("trace.seam_sum_frac", med(seamSum), "ratio")
    }
    for (n <- Seq("research.sweep", "research.cohort", "research.holdout",
        "montecarlo.bootstrap", "bracket.grid", "graph.snapshot_cold", "graph.snapshot_warm"))
      wallOf(n, s"${n}_s")
    if (spans.exists(_.name == "bracket.grid"))
      put("bracket.bar_cells_per_s", med(spans.filter(_.name == "bracket.grid")
        .map(s => s.attrs("bar_cells") / (s.durationNs / 1e9))), "1/s")
    // query families, per traced pass
    for (f <- Seq("relational", "timeseries", "domain", "graph")) {
      val mod = s"queries.$f"
      val byPass = spans.filter(s => s.module == mod && !s.name.startsWith("graph."))
        .groupBy(_.op).values.toSeq
      if (byPass.nonEmpty) {
        put(s"$mod.wall_s", med(byPass.map(_.map(_.durationNs / 1e9).sum)), "s")
        put(s"$mod.jobs", med(byPass.map(_.map(_.counters.jobs.toDouble).sum)), "count")
      }
    }
    out.result()
  }

  /** Writes spans.jsonl, layers.json and, for queries, the per-query
    * cost ledger (query_ledger.jsonl). */
  def writeArtifacts(out: Path, tracer: Tracer, layers: Seq[(String, Double, String)],
      workload: String): Unit = {
    tracer.write(out.resolve("spans.jsonl"))
    Files.write(out.resolve("layers.json"), Json.obj(Seq("workload" -> workload,
      "metrics" -> layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }))
      .getBytes("UTF-8"))
    val queries = tracer.all.filter(s => s.module.startsWith("queries.") && !s.name.startsWith("graph."))
    if (queries.nonEmpty)
      Files.write(out.resolve("query_ledger.jsonl"), queries.map(s => Json.obj(Seq(
        "query" -> s.name, "family" -> s.module.stripPrefix("queries."), "op" -> s.op,
        "wall_s" -> s.durationNs / 1e9) ++ s.counters.toJson)).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
  }
}
