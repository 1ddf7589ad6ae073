package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.SparkEntry
import graft.util.Caching

/** Simulation-mode workloads: each pass runs every query once, one at a
  * time, in an order the seed permutes. A query run is build
  * (`SparkEntry.queries(q)`), plan (`executedPlan`), execute
  * (`toRdd.count()`) and release (`Caching.release()`). */
object BatchWorkload {

  /** csp's simulation surface: baselib, stats, as-of and window nodes,
    * half of the sub-second csp-surface rows per family, so a run fits
    * a warm-up and three measured passes (perfbench/README.md). */
  val SimTs: Seq[String] = Seq(
    "q1_lineitem_agg", "q4_order_rank",                                     // relational
    "q_filter", "q_accum", "q_delay", "q_dropdups", "q_merge", "q_gate",    // baselib
    "q_sample_asof", "q_feedback", "q_values_at_range",                     // as-of, history
    "q_stats_var", "q_stats_quantile", "q_ema", "q_cross_sectional",        // stats
    "q_window_session", "q_resample", "q_bars")                             // windows, bars

  /** Execution-bound training-data, rank-test, change-point and graph operators. */
  val CorpusHeavy: Seq[String] = Seq("q_selection_full", "q_kcore", "q_theil_sen",
    "q_binary_seg", "q_simhash_pairs", "q_kendall_dense", "q_dedup_best",
    "q_bloom_decontaminate")

  /** Sets the pass count: `--seconds 16` gives 4 passes of `sim_ts`,
    * about 16 s on 4 cores. */
  val NominalPassS = 4.0

  final case class QueryRun(query: String, pass: Int, wallS: Double, cpuS: Double, buildS: Double,
                            planS: Double, execS: Double, releaseS: Double, rows: Long,
                            barriers: Int, err: Option[String], layers: Map[String, Double])

  def run(ctx: Ctx, queries: Seq[String]): WorkloadResult = {
    val spark = ctx.spark
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: $missing")
    def order(pass: Int): Seq[String] = new Random(ctx.seed * 7919 + pass).shuffle(queries)

    // Check pass, discarded as warm-up: each query's own plan writes its
    // result for the oracle compare; the live heap is sampled while the
    // query still holds its cached blocks.
    val checkErrors = ArrayBuffer.empty[(String, String)]
    order(-1).foreach { q =>
      try SparkEntry.queries(q)(spark, ctx.fxDir).write.mode("overwrite")
        .parquet(s"${ctx.outDir}/results/$q")
      catch { case e: Throwable => checkErrors += q -> Main.describe(e) }
      ctx.sampleHeap()
      Caching.release()
    }
    // second discarded pass: the first measured pass would otherwise run
    // at up to 1.5x the settled time, and that excess is the noisiest part
    order(-2).foreach(q => runQuery(ctx, q, -2, traced = false))
    ctx.mark("setup.warm_s")
    ctx.startTimed()

    val runs = ArrayBuffer.empty[QueryRun]
    val passWalls = ArrayBuffer.empty[Double]
    val passTraced = ArrayBuffer.empty[Boolean]
    val passCpu = ArrayBuffer.empty[(Double, Double)]
    val snapMs = { val t = System.nanoTime(); (1 to 20).foreach(_ => Cpu.snap()); (System.nanoTime() - t) / 2e7 }
    // A fixed number of passes for a given --seconds: passes keep getting
    // faster for several passes after the warm-up (JIT), so a pass count
    // that followed the clock would put the median at a different point
    // of that curve on a slower host. The traced run is one ABBA block
    // (plain, traced, traced, plain): the overhead of tracing is measured
    // inside one process and a drift of speed cancels.
    val passes = if (ctx.traced) 4 else math.max(3, math.round(ctx.seconds / NominalPassS).toInt)
    (0 until passes).foreach { pass =>
      val traced = ctx.traced && (pass == 1 || pass == 2)
      if (traced) ctx.attachListener()
      val s0 = Cpu.snap()
      val ps = System.nanoTime()
      order(pass).foreach(q => runs += runQuery(ctx, q, pass, traced))
      passWalls += (System.nanoTime() - ps) / 1e9
      passCpu += Cpu.between(s0, Cpu.snap())
      passTraced += traced
      if (traced) ctx.detachListener()
    }

    val plain = passWalls.zip(passTraced).filterNot(_._2).map(_._1)
    val tracedWalls = passWalls.zip(passTraced).filter(_._2).map(_._1)
    val plainCpu = passCpu.zip(passTraced).filterNot(_._2).map(_._1._1)
    val plainRuns = runs.filterNot(r => passTraced(r.pass))
    val pool = plainRuns.map(_.wallS)
    val (tailV, tailPct, tailN) = Stats.tail(pool.toSeq)
    val (cpuTailV, cpuTailPct, cpuTailN) = Stats.tail(plainRuns.map(_.cpuS).toSeq)
    // each query's cost: its median program CPU over the plain passes
    val queryCpu = queries.flatMap { q =>
      val xs = plainRuns.filter(r => r.query == q && r.err.isEmpty).map(_.cpuS).toSeq
      if (xs.isEmpty) None else Some(q -> Stats.median(xs))
    }
    val failed = runs.count(_.err.isDefined) + checkErrors.size

    val e2e = Json.obj(
      "wall_s" -> Stats.median(plain.toSeq),
      "query_p50_s" -> Stats.median(pool.toSeq),
      "query_tail_s" -> tailV,
      "query_tail_pct" -> tailPct,
      "query_samples" -> tailN,
      "cpu_s" -> Stats.median(plainCpu.toSeq),
      "query_cpu_geomean_s" -> Stats.geomean(queryCpu.map(_._2)),
      "query_cpu_tail_s" -> cpuTailV,
      "query_cpu_tail_pct" -> cpuTailPct,
      "query_cpu_samples" -> cpuTailN,
      "query_cpu_s" -> queryCpu.toMap,
      "passes" -> plain.size)

    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val tr = runs.filter(r => passTraced(r.pass))
      val byPass = tr.groupBy(_.pass).values.toSeq
      def perPass(key: String): Double = Stats.median(byPass.map(rs => rs.map(_.layers(key)).sum))
      val sums = Seq("entry.build_s", "entry.build_jobs", "plan.analysis_s",
        "plan.optimization_s", "plan.planning_s", "plan.nodes", "plan.exchanges",
        "exec.wall_s", "caching.barriers", "caching.release_s") ++
        ExecRoll.Keys.map("exec." + _)
      val m = sums.map(k => k -> perPass(k)).toMap
      m ++ Map(
        "exec.parallelism" -> (if (m("exec.wall_s") > 0) m("exec.run_s") / m("exec.wall_s") else 0.0),
        "exec.task_skew" -> Stats.median(tr.map(_.layers("exec.task_skew")).toSeq),
        "trace.overhead_pct" -> (if (plain.nonEmpty && tracedWalls.nonEmpty)
          100.0 * (Stats.median(tracedWalls.toSeq) / Stats.median(plain.toSeq) - 1.0) else 0.0))
    }

    WorkloadResult(
      attempted = runs.size + queries.size,
      failed = failed,
      e2e = e2e,
      layers = layers,
      detail = Json.obj(
        "queries" -> queries,
        "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
        "pass_walls_s" -> passWalls,
        "pass_traced" -> passTraced,
        // per pass: the program's CPU time (JIT left out) and the JIT's
        "pass_cpu_s" -> passCpu.map(_._1),
        "pass_jit_cpu_s" -> passCpu.map(_._2),
        "cpu_snap_ms" -> snapMs,
        // the traced passes' query spans against their wall: what the
        // per-layer self times (record "self_ms") account for
        "trace_accounting" -> Json.obj(
          "traced_pass_wall_s" -> tracedWalls.sum,
          "query_spans_s" -> runs.filter(r => passTraced(r.pass)).map(_.wallS).sum),
        "check_errors" -> checkErrors.map { case (q, e) => Json.obj("query" -> q, "err" -> e) },
        "runs" -> runs.map(r => Json.obj("query" -> r.query, "pass" -> r.pass,
          "wall_s" -> r.wallS, "cpu_s" -> r.cpuS, "build_s" -> r.buildS, "plan_s" -> r.planS,
          "exec_s" -> r.execS, "release_s" -> r.releaseS, "rows" -> r.rows,
          "barriers" -> r.barriers, "err" -> r.err, "layers" -> r.layers))))
  }

  private def runQuery(ctx: Ctx, q: String, pass: Int, traced: Boolean): QueryRun = {
    val spark = ctx.spark
    val group = s"$q#$pass"
    var (t1, t2, t3) = (Double.NaN, Double.NaN, Double.NaN)
    var rows = -1L
    var err: Option[String] = None
    var qe: org.apache.spark.sql.execution.QueryExecution = null
    val c0 = Cpu.snap()
    val t0 = Clock.ms
    try {
      val df = SparkEntry.queries(q)(spark, ctx.fxDir)
      t1 = Clock.ms
      qe = df.queryExecution
      qe.executedPlan
      t2 = Clock.ms
      rows = qe.toRdd.count()
      t3 = Clock.ms
    } catch { case e: Throwable => err = Some(Main.describe(e)) }
    val barriers = Caching.outstanding
    Caching.release()
    val t4 = Clock.ms
    val cpuS = Cpu.between(c0, Cpu.snap())._1
    // a throw leaves the later marks unset: close them at the throw
    if (t1.isNaN) t1 = t4
    if (t2.isNaN) t2 = t4
    if (t3.isNaN) t3 = t4

    val layers: Map[String, Double] = if (!traced) Map.empty else {
      org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      val (jobs, stages) = ctx.listener.drain()
      val tr = ctx.tracer
      val root = tr.add(group, -1, "query", t0, t4)
      val build = tr.add(group, root, "entry.build", t0, t1)
      val plan = tr.add(group, root, "plan", t1, t2)
      val exec = tr.add(group, root, "exec", t2, t3)
      tr.add(group, root, "caching.release", t3, t4)
      val phases = if (qe == null) Map.empty[String, (Double, Double)] else {
        import scala.jdk.CollectionConverters._
        qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      }
      def phaseS(k: String) = phases.get(k).map(p => (p._2 - p._1) / 1e3).getOrElse(0.0)
      phases.get("analysis").foreach(p => tr.add(group, build, "plan.analysis", p._1, p._2))
      phases.get("optimization").foreach(p => tr.add(group, plan, "plan.optimization", p._1, p._2))
      phases.get("planning").foreach(p => tr.add(group, plan, "plan.planning", p._1, p._2))
      // jobs started before the action belong to the build (eager
      // collects, iterative rounds); the rest to execution
      val buildJobs = jobs.filter(_.startMs < t1)
      jobs.foreach { j =>
        val parent = if (j.startMs < t1) build else if (j.startMs < t2) plan else exec
        val jid = tr.add(group, parent, "job", j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble)
        stages.filter(s => j.stageIds.contains(s.stageId))
          .foreach(s => tr.add(group, jid, "stage", s.submitMs.toDouble, s.endMs.toDouble))
      }
      val (nodes, exchanges) = if (qe == null) (0, 0) else planCensus(qe.executedPlan)
      ExecRoll(jobs, stages).map { case (k, v) => s"exec.$k" -> v } ++ Map(
        "entry.build_s" -> (t1 - t0) / 1e3,
        "entry.build_jobs" -> buildJobs.size.toDouble,
        "plan.analysis_s" -> phaseS("analysis"),
        "plan.optimization_s" -> phaseS("optimization"),
        "plan.planning_s" -> phaseS("planning"),
        "plan.nodes" -> nodes.toDouble,
        "plan.exchanges" -> exchanges.toDouble,
        "exec.wall_s" -> (t3 - t2) / 1e3,
        "exec.task_skew" -> ExecRoll.skew(stages).getOrElse(1.0),
        "caching.barriers" -> barriers.toDouble,
        "caching.release_s" -> (t4 - t3) / 1e3)
    }
    QueryRun(q, pass, (t4 - t0) / 1e3, cpuS, (t1 - t0) / 1e3, (t2 - t1) / 1e3, (t3 - t2) / 1e3,
      (t4 - t3) / 1e3, rows, barriers, err, layers)
  }

  /** (operator count, exchange count) of the final physical plan,
    * looking through adaptive query stages. */
  private def planCensus(p: SparkPlan): (Int, Int) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val all = nodes(p)
    (all.size, all.count {
      case _: Exchange | _: ReusedExchangeExec => true
      case _ => false
    })
  }
}
