package perfbench

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Graph.AnfStage
import graft.queries.GraphStages

/** Generated tables with the shape of the engine's TPC-H-like test data
  * (same names, columns and types; naive timestamps), at `scale` times
  * the 0.1 scale factor's row counts. */
object QueryTables {
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Seq("signup", "click", "error", "view", "purchase")
  val Vocab: Array[String] = ("a the spark batch part line column order small sort fast value scan " +
    "hash slow group agg filter query big key window row table stream merge data vector " +
    "customer join").split(" ")
  val Langs = Seq("en", "en", "en", "de", "zh", "fr")
  val Colors = Seq("blue", "red", "hot", "large", "green", "dark")
  val Nouns = Seq("ring", "bolt", "gear", "pipe", "nut", "valve")
  val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")

  private def day(k: Long): Timestamp =
    Timestamp.valueOf(LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(k))

  def write(spark: SparkSession, seed: Long, scale: Double, dir: String): Unit = {
    import spark.implicits._
    def n(base: Int) = math.max(1, (base * scale).toInt)
    val (nCust, nSupp, nPart, nOrd, nLine, nEvt, nDoc) =
      (n(15000), n(1000), n(20000), n(150000), n(600000), n(100000), n(5000))
    def save(df: DataFrame, name: String) = df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    def ntz(c: String) = col(c).cast("timestamp_ntz")
    save(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (r, k) => (k, r) }.toDF("r_regionkey", "r_name"), "region")
    save((0 until 25).map(k => (k, s"NATION_$k", k % 5)).toDF("n_nationkey", "n_name", "n_regionkey"),
      "nation")
    save(spark.range(nCust).as[Long].map(k => (k, f"Customer#$k%09d", Rng.int(25, seed, 200, k),
      math.round(Rng.u(seed, 201, k) * 1000000) / 100.0, Segments(Rng.int(5, seed, 202, k))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")
    save(spark.range(nSupp).as[Long].map(k => (k, f"Supplier#$k%09d", Rng.int(25, seed, 210, k),
      math.round(Rng.u(seed, 211, k) * 1000000) / 100.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")
    save(spark.range(nPart).as[Long].map(k => (k,
      s"${Colors(Rng.int(6, seed, 220, k))} ${Nouns(Rng.int(6, seed, 221, k))}",
      s"Brand#${1 + Rng.int(25, seed, 222, k)}", PartTypes(Rng.int(6, seed, 223, k)),
      1 + Rng.int(50, seed, 224, k), 900.0 + (k % 1000) / 10.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), "part")
    save(spark.range(nOrd).as[Long].map(k => (k, Rng.int(nCust, seed, 230, k).toLong,
      Seq("O", "F", "P")(Rng.int(3, seed, 231, k)), math.round(Rng.u(seed, 232, k) * 50000000) / 100.0,
      day(Rng.int(2403, seed, 233, k)), Priorities(Rng.int(5, seed, 234, k))))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .withColumn("o_orderdate", ntz("o_orderdate")), "orders")
    save(spark.range(nLine).as[Long].map { k =>
      val qty = (1 + Rng.int(50, seed, 243, k)).toDouble
      (Rng.int(nOrd, seed, 240, k).toLong, Rng.int(nPart, seed, 241, k).toLong,
        Rng.int(nSupp, seed, 242, k).toLong, 1 + (k % 7).toInt, qty,
        math.round(qty * (900 + Rng.u(seed, 244, k) * 1100) * 100) / 100.0,
        Rng.int(11, seed, 245, k) / 100.0, Rng.int(9, seed, 246, k) / 100.0,
        Seq("A", "N", "R")(Rng.int(3, seed, 247, k)), Seq("O", "F")(Rng.int(2, seed, 248, k)),
        day(1 + Rng.int(2498, seed, 249, k)))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_shipdate", ntz("l_shipdate")), "lineitem")
    val evtSpanMs = 30L * 86400000L
    save(spark.range(nEvt).as[Long].map { k =>
      val ms = k * evtSpanMs / nEvt + Rng.int((evtSpanMs / nEvt).toInt, seed, 250, k)
      (k, new Timestamp(Timestamp.valueOf(LocalDateTime.of(2024, 1, 1, 0, 0)).getTime + ms),
        Rng.int(n(1500), seed, 251, k).toLong, EventTypes(Rng.int(5, seed, 252, k)),
        math.round(Rng.u(seed, 253, k) * 50000) / 100.0, s"""{"k": ${Rng.int(100, seed, 254, k)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", ntz("ts")), "events")
    save(spark.range(nDoc).as[Long].map { k =>
      val len = 8 + Rng.int(80, seed, 260, k)
      val text = (0 until len).map(w => Vocab(Rng.int(Vocab.length, seed, 261, k, w))).mkString(" ")
      (k, text, Langs(Rng.int(Langs.size, seed, 262, k)), s"src${Rng.int(20, seed, 263, k)}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")
  }
}

/** One operation = one pass over a fixed, family-stratified list of
  * declared queries of `SparkEntry.queries`, each run to completion with a
  * `noop` write. The graph memos are cleared at the start of each pass, not
  * between queries, so a pass is one analyst session. The warm-up pass
  * writes every result for the DuckDB oracle compare. */
final class QuerySuite extends Workload {
  import QuerySuite._

  val name = "query_suite"
  private var tables: String = _

  def setup(ctx: Ctx): Unit = {
    tables = ctx.path("tables")
    QueryTables.write(ctx.spark, ctx.seed, Scale, tables)
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    GraphStages.clear(); AnfStage.clear()
    val times = Queries.map { case (q, family) =>
      // building the frame is timed too: some queries checkpoint eagerly
      val (_, s) = Workload.timed(ctx.tracer.span(q, s"queries.$family") {
        val df = SparkEntry.queries(q)(ctx.spark, tables)
        if (i < 0) df.write.parquet(ctx.path(s"results/$q"))
        else df.write.format("noop").mode("overwrite").save()
      })
      (q, family, s)
    }
    val families = times.groupBy(_._2).map { case (f, ts) => s"$f.wall_s" -> ts.map(_._3).sum }
    OpResult(times.map(_._3).sum,
      families ++ times.map { case (q, _, s) => s"query.$q" -> s })
  }

  /** Results are compared with `SparkEntry.oracleSql` in DuckDB after the
    * run (the JVM has no DuckDB); this writes what that compare needs. */
  def check(ctx: Ctx, i: Int): (Seq[String], Map[String, Double]) = {
    if (i == -1) {
      val oracle = Queries.map(_._1).map(q => q -> SparkEntry.oracleSql(q))
      Files.write(ctx.dir.resolve("results/oracle.json"),
        Json.obj(Seq("tables" -> tables, "results" -> ctx.path("results"),
          "queries" -> oracle)).getBytes("UTF-8"))
    }
    (Nil, Map.empty)
  }

  override def layerProbes(ctx: Ctx, i: Int): Unit = {
    GraphStages.clear()
    ctx.tracer.span("graph.snapshot_cold", "queries.graph") {
      GraphStages.tradeCounts(ctx.spark, tables)
    }
    ctx.tracer.span("graph.snapshot_warm", "queries.graph") {
      GraphStages.tradeCounts(ctx.spark, tables)
    }
  }

  def report(ops: Seq[OpResult]): Seq[(String, Double, String, Int)] = {
    val qs = ops.flatMap(o => Queries.map { case (q, _) => o.figures(s"query.$q") })
    // a tail at p50 would repeat the median under another name
    val tail = Stats.tailPercentile(qs).filter(_._1 > 50)
    val families = Queries.map(_._2).distinct.map { f =>
      val xs = ops.map(_.figures(s"$f.wall_s"))
      (s"queries.$f.wall_s", Stats.median(xs), "s", xs.size)
    }
    Seq(("query_s_p50", Stats.median(qs), "s", qs.size)) ++
      tail.map { case (p, v) => (s"query_s_p$p", v, "s", qs.size) } ++
      Seq(("suite_s", Stats.median(ops.map(_.wallS)), "s", ops.size)) ++ families
  }
}

object QuerySuite {
  /** Row counts are this share of the 0.1 scale factor's (0.1 = sf0.01). */
  val Scale = 0.1

  /** (declared query, family), stratified by family: a relational and a
    * time-series query of under a second, the q390 lifecycle capstone, q221
    * containment and one query of the graph iterate family (q467
    * betweenness). */
  val Queries: Seq[(String, String)] = Seq(
    "q01_group_agg" -> "relational", "q30_sma" -> "timeseries",
    "q390_lifecycle_e2e" -> "domain", "q221_containment" -> "domain",
    "q467_betweenness" -> "graph")
}
