package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** What a workload gets to run with. `dir` is its scratch directory for
  * the current set-up; `tracer` is enabled only on traced operations. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: Path,
    val tracer: Tracer, val probe: Probe, val cores: Int) {
  def path(name: String): String = dir.resolve(name).toString
}

/** Result of one operation: its wall time, and named sub-timings and
  * figures for the report. */
final case class OpResult(wallS: Double, figures: Map[String, Double])

/** A closed-loop workload: generated inputs, one operation repeated. */
trait Workload {
  def name: String

  /** Untimed, checked operations run before the measured ones. */
  def warmupOps: Int = 1

  /** Operations measured at least, however short `--seconds` is. */
  def measuredOps: Int = 1

  /** Generates the inputs from the seed, once per run, into `ctx.dir`. */
  def setup(ctx: Ctx): Unit

  /** Untimed preparation of operation i, outside its counters too. */
  def beforeOp(ctx: Ctx, i: Int): Unit = ()

  /** Runs and times operation i (the warm-up is operation -1). */
  def op(ctx: Ctx, i: Int): OpResult

  /** Checks the outputs of the operation just run, untimed. Returns the
    * failed checks and any figures read off the outputs. */
  def check(ctx: Ctx, i: Int): (Seq[String], Map[String, Double])

  /** Extra untimed probes of single layers, run after a traced operation
    * (each a span of its own). */
  def layerProbes(ctx: Ctx, i: Int): Unit = ()

  /** Figures of the workload, by the names the report uses:
    * (name, value, unit, sample count). */
  def report(ops: Seq[OpResult]): Seq[(String, Double, String, Int)]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "overnight" => new Overnight
    case "research_sweep" => new ResearchSweep
    case "query_suite" => new QuerySuite
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Files and bytes under `root` modified at or after `sinceMs`. */
  def writtenSince(root: String, sinceMs: Long): (Int, Long) = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) (0, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n = 0
        var bytes = 0L
        s.filter(x => Files.isRegularFile(x) && !x.getFileName.toString.startsWith(".") &&
            !x.getFileName.toString.startsWith("_") &&
            Files.getLastModifiedTime(x).toMillis >= sinceMs)
          .forEach { x => n += 1; bytes += Files.size(x) }
        (n, bytes)
      } finally s.close()
    }
  }
}
