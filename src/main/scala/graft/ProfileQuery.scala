package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.Profiler
import graft.ts.GraftSession

/** The per-query profiler: each named SparkEntry query runs once warm,
  * then once measured, and prints one JSON line that splits its time
  * into driver planning and execution (field names are the benchmark's
  * per-layer names where they measure the same quantity):
  *
  *  - `entry.build_s`: the builder call, eager fit/sizing jobs included;
  *  - `entry.build_jobs`: the Spark jobs that started before the builder
  *    returned, i.e. before the action (eager collects, iterative rounds,
  *    source resolution);
  *  - `plan.analysis_s`, `plan.optimization_s`, `plan.planning_s`: the
  *    frame's own `QueryPlanningTracker` phases;
  *  - `exec.wall_s`: the action alone, on the already-planned frame;
  *  - `exec.stages` … `exec.task_skew`: the roll-up of every stage the
  *    measured run completed (build jobs included), read after the
  *    listener bus has drained. `exec.parallelism` is run_s / wall_s,
  *    as in the benchmark's traced records, so a builder that runs its
  *    own jobs (q_kcore's peel rounds) reads above the core count and
  *    `entry.build_s` holds the wall they took. `exec.task_skew` is
  *    max / median task time in the longest stage;
  *  - `census.exchanges`: the shuffle count `PlanAudit census` writes
  *    and tools/plan_budget.json budgets.
  *
  * [[Profiler.profile]]'s per-node render follows each record. A query
  * that throws prints `{"profile_query":…,"err":…}` and the rest still
  * run. The basis is Bench's: local[SPARK_GRAFT_CPUS] (default 32) with
  * as many shuffle partitions.
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <query…>
  */
object ProfileQuery {

  /** One profiled query: its layer fields in record order, or the
    * error that stopped it. */
  final case class Record(name: String, fields: Seq[(String, Double)], err: Option[String],
                          profile: Option[Profiler.Profile]) {
    def apply(field: String): Double = fields.toMap.apply(field)

    def json: String = {
      val body = err match {
        case Some(e) => s""","err":${Bench.jstr(e)}"""
        case None => fields.map { case (k, v) =>
          s""","${k}":${if (v.isWhole) v.toLong.toString else Bench.f(v)}"""
        }.mkString
      }
      s"""{"profile_query":${Bench.jstr(name)}$body}"""
    }
  }

  def profile(spark: SparkSession, suite: Seq[(String, (SparkSession, String) => DataFrame)],
              sfDir: String): Seq[Record] =
    suite.map { case (name, fn) =>
      try measure(spark, name, fn, sfDir)
      catch { case e: Throwable => Record(name, Nil, Some(Bench.describe(e)), None) }
      finally graft.util.Caching.release()
    }

  private def measure(spark: SparkSession, name: String,
                      fn: (SparkSession, String) => DataFrame, sfDir: String): Record = {
    val sc = spark.sparkContext
    fn(spark, sfDir).queryExecution.toRdd.count() // warm (JIT + planning)
    graft.util.Caching.release()
    Bridge.drainListenerBus(sc) // no warm-run event reaches the listener
    val stages = new StageListener
    sc.addSparkListener(stages)
    try {
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val buildS = (System.nanoTime() - t0) / 1e9
      val builtAtMs = System.currentTimeMillis()
      val qe = df.queryExecution
      qe.executedPlan
      val p = Profiler.profile(df)
      val (h, s1, r) = PlanAudit.shuffleCounts(qe.executedPlan)
      Bridge.drainListenerBus(sc)
      def phase(k: String) = qe.tracker.phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      val wallS = p.wallNanos / 1e9
      val all = stages.completed
      val runS = all.map(_.runMs).sum / 1e3
      val fields = Seq(
        "entry.build_s" -> buildS,
        "entry.build_jobs" -> stages.jobsStartedBy(builtAtMs).toDouble,
        "plan.analysis_s" -> phase("analysis"),
        "plan.optimization_s" -> phase("optimization"),
        "plan.planning_s" -> phase("planning"),
        "exec.wall_s" -> wallS,
        "exec.stages" -> all.size.toDouble,
        "exec.tasks" -> all.map(_.tasks).sum.toDouble,
        "exec.cpu_s" -> all.map(_.cpuNs).sum / 1e9,
        "exec.run_s" -> runS,
        "exec.parallelism" -> (if (wallS > 0) runS / wallS else 0.0),
        "exec.shuffle_read_bytes" -> all.map(_.shufReadBytes).sum.toDouble,
        "exec.shuffle_write_bytes" -> all.map(_.shufWriteBytes).sum.toDouble,
        "exec.spill_bytes" -> all.map(_.spillBytes).sum.toDouble,
        "exec.task_skew" -> skew(all),
        "census.exchanges" -> (h + s1 + r).toDouble)
      Record(name, fields, None, Some(p))
    } finally sc.removeSparkListener(stages)
  }

  /** max / median task time in the longest stage (1.0 when uniform). */
  private def skew(stages: Seq[Stage]): Double =
    stages.filter(_.taskMs.nonEmpty).maxByOption(_.wallMs).fold(1.0) { s =>
      val t = s.taskMs.sorted
      val n = t.length
      val med = if (n % 2 == 1) t(n / 2).toDouble else (t(n / 2 - 1) + t(n / 2)) / 2.0
      if (med <= 0) 1.0 else t.last / med
    }

  private final case class Stage(wallMs: Long, tasks: Int, cpuNs: Long, runMs: Long,
                                 shufReadBytes: Long, shufWriteBytes: Long,
                                 spillBytes: Long, taskMs: Seq[Long])

  /** Completed stages with their task durations, and job start times, as
    * the listener bus delivers them. */
  private final class StageListener extends SparkListener {
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    private val jobStartMs = mutable.ArrayBuffer.empty[Long]

    override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
      jobStartMs += ev.time
    }

    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = synchronized {
      taskMs.getOrElseUpdate((ev.stageId, ev.stageAttemptId), mutable.ArrayBuffer.empty) +=
        ev.taskInfo.duration
    }

    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
      val si = ev.stageInfo
      val m = si.taskMetrics
      val durs = taskMs.remove((si.stageId, si.attemptNumber())).map(_.toList).getOrElse(Nil)
      if (m != null) stages += Stage(
        (for {c <- si.completionTime; s <- si.submissionTime} yield c - s).getOrElse(-1L),
        si.numTasks, m.executorCpuTime, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, durs)
    }

    def completed: Seq[Stage] = synchronized(stages.toList)

    /** Jobs that started at or before `ms` (epoch millis). */
    def jobsStartedBy(ms: Long): Int = synchronized(jobStartMs.count(_ <= ms))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <query...>")
    val names = args.toSeq.tail
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    profile(spark, names.map(n => n -> SparkEntry.queries(n)), args(0)).foreach { r =>
      println(r.json)
      r.profile.foreach(p => println(p.render))
    }
    spark.stop()
  }
}
