package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.ts.GraftSession

/** What one workload hands back to [[Main]]. `e2e` holds the end-to-end
  * figures of this workload, `layers` the per-layer ones (traced run). */
final case class WorkloadResult(attempted: Int, failed: Int, e2e: Map[String, Any],
                                layers: Map[String, Double], detail: Map[String, Any])

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val outDir: String, val smoke: Boolean) {
  var fxDir: String = ""
  val tracer = new Tracer
  val listener = new ExecListener

  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private var lastMark = startMs
  val marks: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var setupS: Double = Double.NaN

  /** Close a set-up phase: seconds since the previous mark. */
  def mark(name: String): Unit = {
    val now = System.currentTimeMillis().toDouble
    marks(name) = (now - lastMark) / 1e3
    lastMark = now
  }

  var calibration: Seq[(Double, Double)] = Nil

  /** Host calibration (`Bench.calibrate`): before the warm-up, whose
    * passes then absorb the code the calibration compiles, and again at
    * the end of the run. */
  def calibrate(): Unit = calibration :+= Bench.calibrate(spark, passes = 1)

  /** Called once, right before the first timed operation: closes the
    * set-up time. */
  def startTimed(): Unit = setupS = (System.currentTimeMillis() - startMs) / 1e3

  /** Largest live heap seen by [[sampleHeap]], in bytes. */
  var liveHeapPeak: Long = 0L

  /** Collect, then read the heap in use: the live data at this point.
    * Called outside every timed region, where the program holds the
    * most (a query's cached blocks before release, a twin's state). */
  def sampleHeap(): Unit = {
    System.gc()
    liveHeapPeak = math.max(liveHeapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def attachListener(): Unit = spark.sparkContext.addSparkListener(listener)
  /** Detach the listener and hand back what it saw. */
  def detachListener(): (Seq[JobRoll], Seq[StageRoll]) = {
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    listener.drain()
  }
}

/** Benchmark process: one workload, one seed, one run.
  *
  * Usage: `Main --workload <sim_ts|corpus_heavy|rt_twins> --seed <n>
  * --seconds <s> --trace <0|1> --out <dir> --cores <n> [--fixture <dir>] [--smoke]`.
  * The batch workloads read the fixture `graft.GenScaleData` wrote to
  * `<fixture>`.
  * Writes `<out>/record.json` (and `<out>/spans.json` when traced);
  * batch results for the oracle compare land under `<out>/results/`. */
object Main {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val outDir = opts("out")
    val cores = opts("cores").toInt
    val smoke = args.contains("--smoke")

    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.local.dir", s"$outDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, seconds, traced, outDir, smoke)
    ctx.mark("setup.session_s")
    // the program's own preparation of the generated fixture (multi-file
    // copy); its cache lives under java.io.tmpdir, which the runner
    // points into this run's directory
    if (workload != "rt_twins") ctx.fxDir = Bench.rechunkFixtures(spark, opts("fixture"))
    ctx.mark("setup.fixture_s")
    ctx.calibrate()
    ctx.mark("setup.calibrate_s")

    val result = workload match {
      case "sim_ts" => BatchWorkload.run(ctx, BatchWorkload.SimTs)
      case "corpus_heavy" => BatchWorkload.run(ctx, BatchWorkload.CorpusHeavy)
      case "rt_twins" => RealtimeWorkload.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    spark.streams.active.foreach(_.stop())
    graft.util.Caching.release()
    ctx.calibrate()
    val Seq(calPre, calPost) = ctx.calibration

    val layers = if (!traced) Map.empty[String, Double] else
      result.layers ++ ctx.marks.filter(m => Set("setup.session_s", "setup.fixture_s", "setup.warm_s")(m._1))
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "smoke" -> smoke, "cores" -> cores,
      "jvm" -> System.getProperty("java.version"), "spark" -> spark.version,
      "calibration" -> Json.obj(
        "pre" -> Json.obj("codegen_fold" -> calPre._1, "jvm_spin" -> calPre._2),
        "post" -> Json.obj("codegen_fold" -> calPost._1, "jvm_spin" -> calPost._2)),
      "fixture_dir" -> ctx.fxDir,
      "attempted" -> result.attempted, "failed" -> result.failed,
      "setup_s" -> ctx.setupS,
      "setup" -> ctx.marks,
      "memory" -> memoryJson(ctx.liveHeapPeak),
      "e2e" -> result.e2e,
      "layers" -> layers,
      "self_ms" -> (if (traced) ctx.tracer.selfMs else Map.empty),
      "detail" -> result.detail)
    Files.writeString(Paths.get(s"$outDir/record.json"), Json.render(record))
    if (traced) Files.writeString(Paths.get(s"$outDir/spans.json"), Json.render(ctx.tracer.toJson))
    spark.stop()
  }

  /** Peak memory of the run. The heap is fixed and pre-touched, so the
    * JVM's VmHWM holds all of it; `peak_mem_mb` replaces that share with
    * the largest live heap sampled, which the program's live data
    * (cached blocks, plans, buffers) moves. */
  def memoryJson(liveHeapBytes: Long): Map[String, Any] = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    val hwmMb = line.split("\\s+")(1).toDouble / 1024.0
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
    val liveMb = liveHeapBytes / 1048576.0
    Json.obj("peak_mem_mb" -> (hwmMb - heapMb + liveMb), "vm_hwm_mb" -> hwmMb,
      "heap_committed_mb" -> heapMb, "live_heap_peak_mb" -> liveMb)
  }
}
