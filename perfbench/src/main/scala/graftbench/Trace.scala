package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One traced interval. Spans of one query run or one micro-batch share
  * `group`; `parent` is the `id` of the enclosing span (-1 at the root).
  * Times are epoch milliseconds, so the calling thread's spans and the listener's job
  * and stage times line up on one axis. */
final case class Span(group: String, id: Int, parent: Int, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span log, written once when the run ends. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  def add(group: String, parent: Int, name: String, startMs: Double, endMs: Double): Int =
    synchronized {
      val id = nextId
      nextId += 1
      spans += Span(group, id, parent, name, startMs, endMs)
      id
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name: its duration minus the union of the
    * intervals its children cover. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, xs) =>
      name -> xs.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        math.max(0.0, s.durMs - covered)
      }.sum
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (cs.isNaN || s > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = s; ce = e
      } else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  def toJson: Seq[Any] = all.map(s => Json.obj("group" -> s.group, "id" -> s.id,
    "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

/** Clock pair: epoch milliseconds with nanosecond resolution. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One stage's roll-up, as Spark's listener reports it at completion. */
final case class StageRoll(stageId: Int, submitMs: Long, endMs: Long, tasks: Int,
                           cpuS: Double, runS: Double, gcS: Double, inputBytes: Long,
                           shuffleReadBytes: Long, shuffleWriteBytes: Long,
                           spillBytes: Long, resultBytes: Long, taskMs: Seq[Long])

final case class JobRoll(jobId: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** The one SparkListener of the traced run: collects jobs, completed
  * stages and task durations until [[drain]] takes them. */
final class ExecListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRoll]
  private val stages = ArrayBuffer.empty[StageRoll]
  private val taskMs = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRoll(e.jobId, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val durs = taskMs.remove((i.stageId, i.attemptNumber())).map(_.toList).getOrElse(Nil)
    if (m != null) stages += StageRoll(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks,
      m.executorCpuTime / 1e9, m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
      m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.resultSize, durs)
  }

  /** Everything seen since the last drain. */
  def drain(): (Seq[JobRoll], Seq[StageRoll]) = synchronized {
    val out = (jobs.values.toList, stages.toList)
    jobs.clear(); stages.clear(); taskMs.clear()
    out
  }
}

/** Roll-up of a set of stages into the `exec.*` counters. */
object ExecRoll {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "result_bytes")

  def apply(jobs: Seq[JobRoll], stages: Seq[StageRoll]): Map[String, Double] = Map(
    "jobs" -> jobs.size.toDouble,
    "stages" -> stages.size.toDouble,
    "tasks" -> stages.map(_.tasks).sum.toDouble,
    "cpu_s" -> stages.map(_.cpuS).sum,
    "run_s" -> stages.map(_.runS).sum,
    "gc_s" -> stages.map(_.gcS).sum,
    "input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
    "shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum.toDouble,
    "shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
    "spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
    "result_bytes" -> stages.map(_.resultBytes).sum.toDouble)

  /** max / median task time in the longest stage (1.0 when uniform). */
  def skew(stages: Seq[StageRoll]): Option[Double] =
    stages.filter(_.taskMs.nonEmpty).maxByOption(s => s.endMs - s.submitMs).map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble))
      if (med <= 0) 1.0 else s.taskMs.max / med
    }
}
