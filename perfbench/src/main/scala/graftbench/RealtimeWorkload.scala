package graftbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.llm.{Dedup, StreamingDedup}
import graft.operators.Sequential
import graft.streaming.{StatefulOps, TwsOps}
import graft.streaming.StatefulOps.TickRow
import graft.ts.TickStream

/** One document of the dedup feed. */
final case class Doc(docId: Long, text: String)

/** Realtime mode: three streaming twins, each fed from a MemoryStream by
  * one seeded generator, run one after another.
  *
  *  - catch-up: closed loop, the next batch is added only after the
  *    previous one committed;
  *  - live: open loop at a fixed event rate, each event timed from its
  *    due time to the moment the sink holds its output. Events of one
  *    micro-batch reach the sink together, so latency is sampled once
  *    per micro-batch: its median and its worst event.
  *
  * Every twin's output is compared with its batch arm after the run. */
object RealtimeWorkload {
  val Alpha = 0.4
  /** Open-loop generator period. */
  val TickMs = 50.0
  /** Share of documents that repeat an earlier text. */
  val DupShare = 0.1

  final case class Shape(keys: Int, batch: Int, catchupBatches: Int, liveRate: Int,
                         liveSeconds: Double)

  def shape(ctx: Ctx): Shape =
    if (ctx.smoke) Shape(keys = 1000, batch = 500, catchupBatches = 4, liveRate = 500,
      liveSeconds = 1.0)
    else Shape(keys = 100000, batch = 20000, catchupBatches = 4, liveRate = 2000,
      liveSeconds = math.max(1.0, ctx.seconds / 4))

  /** A twin under test: its input feed, the query and its sink. */
  final class Twin[T](val name: String, val data: IndexedSeq[T], val idOf: Row => Long,
                      build: Dataset[T] => DataFrame)(implicit enc: Encoder[T], ctx: Ctx) {
    val mem: MemoryStream[T] = MemoryStream[T](enc, ctx.spark.sqlContext)
    /** (arrival epoch ms, output rows) per sink call. */
    val sink = ArrayBuffer.empty[(Double, Array[Row])]
    var query: StreamingQuery = _

    def start(): Unit = {
      val write: (DataFrame, Long) => Unit = (df, _) => {
        val rows = df.collect()
        val t = Clock.ms
        sink.synchronized(sink += ((t, rows)))
      }
      query = build(mem.toDS()).writeStream
        .option("checkpointLocation", s"${ctx.outDir}/ckpt/$name")
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch(write)
        .start()
    }

    def feed(from: Int, until: Int): Unit = mem.addData(data.slice(from, until): _*)

    def lastBatchId: Long = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)

    def outputs: Seq[Row] = sink.synchronized(sink.flatMap(_._2).toList)
  }

  /** One live micro-batch at the sink: its events' median and worst
    * latency (arrival minus due time). */
  final case class LiveBatch(events: Int, medianMs: Double, worstMs: Double)

  /** `batchCpuS`: program CPU seconds of each catch-up batch. */
  final case class Phases(catchupEvents: Int, catchupS: Double, batchCpuS: Seq[Double],
                          batchWalls: Seq[(Double, Boolean)],
                          live: Seq[LiveBatch], lateMs: Seq[Double],
                          measured: Seq[StreamingQueryProgress],
                          jobs: Seq[JobRoll], stages: Seq[StageRoll])

  def run(implicit ctx: Ctx): WorkloadResult = {
    val spark = ctx.spark
    val sh = shape(ctx)
    val rnd = new Random(ctx.seed)
    val nLive = (sh.liveRate * sh.liveSeconds).toInt
    val total = sh.batch * (1 + sh.catchupBatches) + nLive
    val ticks = genTicks(rnd, sh, total)
    val docs = genDocs(rnd, total)

    implicit val tickEnc: Encoder[TickRow] = Encoders.product[TickRow]
    implicit val docEnc: Encoder[Doc] = Encoders.product[Doc]
    val twins: Seq[Twin[_]] = Seq(
      new Twin[TickRow]("ema_fmgws", ticks, _.getAs[Long]("seq"),
        ds => StatefulOps.emaStream(ds, Alpha).toDF()),
      new Twin[TickRow]("ema_tws", ticks, _.getAs[Long]("seq"),
        ds => TwsOps.emaTws(ds, Alpha).toDF()),
      new Twin[Doc]("dedup_exact", docs, _.getAs[Long]("docId"),
        ds => StreamingDedup.exactFlags(ds.toDF(), "text", "docId").toDF()))

    // warm every twin (query start, state-store open, codegen) with one
    // discarded batch before the first timed operation
    twins.foreach { t => t.start(); t.feed(0, sh.batch); t.query.processAllAvailable() }
    ctx.mark("setup.warm_s")
    ctx.startTimed()

    val phases = twins.map(t => t.name -> measure(t, sh)).toMap
    twins.foreach(_.query.stop())

    // ---- checks, outside every timed region ----
    val fed = ticks.take(total)
    val batchEma = batchArmEma(fed)
    val batchDedup = batchArmDedup(docs.take(total))
    val mismatches = twins.map { t =>
      val out = t.outputs
      val bad = t.name match {
        case "dedup_exact" =>
          val got = out.map(r => r.getAs[Long]("docId") -> r.getAs[Long]("canonicalId")).toMap
          missingOrDifferent(batchDedup.keys, got.size, k => got.get(k).contains(batchDedup(k)))
        case _ =>
          val got = out.map(r => r.getAs[Long]("seq") -> r.getAs[Double]("ema")).toMap
          missingOrDifferent(batchEma.keys, got.size,
            k => got.get(k).exists(v => math.abs(v - batchEma(k)) < 1e-12))
      }
      t.name -> bad
    }.toMap

    // single-threaded csp-style baseline: the same Steps.ema core over
    // the same ticks, in order, one key map
    val (scalarEps, scalarBad) = scalarBaseline(fed, batchEma)

    // one sample per live micro-batch, pooled over the three twins
    val live = phases.values.flatMap(_.live).toSeq
    val (tailV, tailPct, tailN) = Stats.tail(live.map(_.worstMs))
    val catchupEvents = phases.values.map(_.catchupEvents).sum
    val catchupS = phases.values.map(_.catchupS).sum
    // each twin's catch-up at its median batch, so that one batch caught
    // in a slow spell of the host does not weigh on the whole
    val catchupCpuS = phases.values.map(p => Stats.median(p.batchCpuS) * p.batchCpuS.size).sum
    val e2e = Json.obj(
      "wall_s" -> catchupS,
      "events_per_s" -> catchupEvents / catchupS,
      "cpu_s" -> catchupCpuS,
      "event_latency_p50_ms" -> Stats.median(live.map(_.medianMs)),
      "event_latency_tail_ms" -> tailV,
      "event_latency_tail_pct" -> tailPct,
      "event_latency_samples" -> tailN)

    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val perTwin = twins.flatMap(t => twinLayers(t.name, phases(t.name)))
      // per twin, traced over plain catch-up batches; the first batch is
      // left out: it runs 20-60 % slower than the rest, as its twin sat
      // idle while the others ran
      val overheads = phases.values.map { p =>
        val (on, off) = p.batchWalls.drop(1).partition(_._2)
        Stats.median(on.map(_._1)) / Stats.median(off.map(_._1)) - 1.0
      }.toSeq
      val jobs = phases.values.flatMap(_.jobs).toSeq
      val stages = phases.values.flatMap(_.stages).toSeq
      val exec = ExecRoll(jobs, stages).map { case (k, v) => s"exec.$k" -> v }
      val jobWall = jobs.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3
      perTwin.toMap ++ exec ++ Map(
        "exec.wall_s" -> jobWall,
        "exec.parallelism" -> (if (jobWall > 0) exec("exec.run_s") / jobWall else 0.0),
        "exec.task_skew" -> ExecRoll.skew(stages).getOrElse(1.0),
        "gen.late_ms" -> Stats.median(phases.values.flatMap(_.lateMs).toSeq),
        "baseline.scalar_events_per_s" -> scalarEps,
        "trace.overhead_pct" -> 100.0 * Stats.median(overheads))
    }
    if (ctx.traced) addStreamSpans(ctx.tracer, twins.map(t => t.name -> phases(t.name)))

    WorkloadResult(
      attempted = (twins.size + 1) * total, // every twin's outputs and the baseline's
      failed = mismatches.values.sum + scalarBad,
      e2e = e2e,
      layers = layers,
      detail = Json.obj(
        "shape" -> Json.obj("keys" -> sh.keys, "batch" -> sh.batch,
          "catchup_batches" -> sh.catchupBatches, "live_rate" -> sh.liveRate,
          "live_seconds" -> sh.liveSeconds, "dup_share" -> DupShare),
        "baseline_scalar_events_per_s" -> scalarEps,
        "mismatches" -> mismatches,
        "twins" -> phases.map { case (n, p) => n -> Json.obj(
          "catchup_events_per_s" -> p.catchupEvents / p.catchupS,
          "catchup_batch_cpu_s" -> p.batchCpuS,
          "catchup_batch_walls_s" -> p.batchWalls.map(_._1),
          "live_latency_p50_ms" -> Stats.median(p.live.map(_.medianMs)),
          "live_batches" -> p.live.map(b => Json.obj("events" -> b.events,
            "median_ms" -> b.medianMs, "worst_ms" -> b.worstMs)),
          "batches" -> p.measured.map(progressJson)) }))
  }

  /** Catch-up then live on one twin, which is already warm. */
  private def measure[T](t: Twin[T], sh: Shape)(implicit ctx: Ctx): Phases = {
    val q = t.query
    val firstMeasured = t.lastBatchId + 1
    // ---- catch-up: closed loop over fixed-size batches ----
    val walls = ArrayBuffer.empty[(Double, Boolean)]
    val cpu = ArrayBuffer.empty[Double]
    val jobs = ArrayBuffer.empty[JobRoll]
    val stages = ArrayBuffer.empty[StageRoll]
    def detach(): Unit = {
      val (j, s) = ctx.detachListener()
      jobs ++= j
      stages ++= s
    }
    val c0 = System.nanoTime()
    (1 to sh.catchupBatches).foreach { b =>
      // plain, traced, traced, plain: state growth and drift over the
      // catch-up weigh on both sides of trace.overhead_pct
      val traced = ctx.traced && (b % 4 == 2 || b % 4 == 3)
      if (traced) ctx.attachListener()
      val cpu0 = Cpu.snap()
      val b0 = System.nanoTime()
      t.feed(b * sh.batch, (b + 1) * sh.batch)
      q.processAllAvailable()
      walls += (((System.nanoTime() - b0) / 1e9, traced))
      cpu += Cpu.between(cpu0, Cpu.snap())._1
      if (traced) detach()
    }
    val catchupS = (System.nanoTime() - c0) / 1e9
    val catchupEvents = sh.batch * sh.catchupBatches
    ctx.sampleHeap()

    // ---- live: open loop, one generator thread at a fixed rate ----
    val from = sh.batch * (1 + sh.catchupBatches)
    val n = t.data.size - from
    val sinkMark = t.sink.synchronized(t.sink.size)
    if (ctx.traced) ctx.attachListener()
    val t0 = Clock.ms + 20.0
    def due(i: Int): Double = t0 + 1000.0 * i / sh.liveRate
    val late = ArrayBuffer.empty[Double]
    // the generator wakes every TickMs and adds the events that fell due
    // since; each addData becomes one union branch of the next batch, so
    // a finer tick mostly measures MemoryStream, not the twin
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        val now = Clock.ms
        if (now < due(i) + TickMs) Thread.sleep(math.max(1L, (due(i) + TickMs - now).toLong))
        else {
          var j = i
          while (j < n && due(j) <= now) j += 1
          t.feed(from + i, from + j)
          late += now - (due(i) + TickMs)
          i = j
        }
      }
    }, s"gen-${t.name}")
    gen.start()
    gen.join()
    q.processAllAvailable()
    if (ctx.traced) detach()
    ctx.sampleHeap()
    // both feeds number their events by position, so an output's id
    // names its input event and hence its due time
    val arrivals = t.sink.synchronized(t.sink.drop(sinkMark).toList)
    val live = arrivals.flatMap { case (at, rows) =>
      val lat = rows.iterator.map(t.idOf).filter(_ >= from).map(id => at - due((id - from).toInt)).toSeq
      if (lat.isEmpty) None else Some(LiveBatch(lat.size, Stats.median(lat), lat.max))
    }
    val measured = q.recentProgress.filter(_.batchId >= firstMeasured).toSeq
    Phases(catchupEvents, catchupS, cpu.toList, walls.toList, live, late.toList, measured, jobs.toList, stages.toList)
  }

  private def missingOrDifferent(keys: Iterable[Long], gotSize: Int, ok: Long => Boolean): Int =
    keys.count(k => !ok(k)) + math.max(0, gotSize - keys.size)

  private def genTicks(rnd: Random, sh: Shape, n: Int): IndexedSeq[TickRow] = {
    val cdf = zipfCdf(sh.keys)
    val base = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    (0 until n).map { i =>
      TickRow(s"k${sample(cdf, rnd)}", base + i * 500L, i.toLong,
        math.round(rnd.nextGaussian() * 1e4) / 100.0)
    }
  }

  private val Vocab = Seq("spark", "batch", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "part", "table", "stream", "merge", "data", "vector")

  /** Documents numbered by position; a fixed share repeats an earlier
    * text (the stream's duplicates). */
  private def genDocs(rnd: Random, n: Int): IndexedSeq[Doc] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 0 && rnd.nextDouble() < DupShare) texts(rnd.nextInt(i))
        else Seq.fill(8 + rnd.nextInt(9))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      Doc(i.toLong, texts(i))
    }
  }

  private def zipfCdf(k: Int): Array[Double] = {
    val c = new Array[Double](k)
    var acc = 0.0
    var i = 0
    while (i < k) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
    c
  }

  private def sample(cdf: Array[Double], rnd: Random): Int = {
    val u = rnd.nextDouble() * cdf.last
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else -i - 1
  }

  /** seq → ema from `Sequential.ema`, the batch arm. */
  private def batchArmEma(ticks: Seq[TickRow])(implicit ctx: Ctx): Map[Long, Double] = {
    val spark = ctx.spark
    val df = spark.createDataFrame(ticks).select(col("key"),
      timestamp_micros(col("tsMicros")).as("ts"), col("seq"), col("value"))
    Sequential.ema(TickStream(df), Alpha).df.select("seq", "ema").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** docId → canonical id from `Dedup.exact`, the batch arm. */
  private def batchArmDedup(docs: Seq[Doc])(implicit ctx: Ctx): Map[Long, Long] = {
    val df = ctx.spark.createDataFrame(docs)
    Dedup.exact(df, "text", "docId").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Events/s of a plain loop applying `Steps.ema` in order (median of
    * three passes), and how many of its outputs differ from the batch arm. */
  private def scalarBaseline(ticks: Seq[TickRow], batch: Map[Long, Double]): (Double, Int) = {
    val step = StatefulOps.Steps.ema(Alpha)
    val arr = ticks.toArray
    var out: Array[Double] = null
    val rates = (1 to 3).map { _ =>
      val state = new java.util.HashMap[String, Seq[Double]](arr.length * 2)
      out = new Array[Double](arr.length)
      val t0 = System.nanoTime()
      var i = 0
      while (i < arr.length) {
        val r = arr(i)
        val s = state.getOrDefault(r.key, step.init)
        val (s2, o) = step.fn(s, r)
        state.put(r.key, s2)
        out(i) = o.getOrElse(Double.NaN)
        i += 1
      }
      arr.length / ((System.nanoTime() - t0) / 1e9)
    }
    val bad = arr.indices.count(i => !batch.get(arr(i).seq).exists(v => math.abs(v - out(i)) < 1e-12))
    (Stats.median(rates), bad)
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def custom(p: StreamingQueryProgress, k: String): Double =
    p.stateOperators.map(s => Option(s.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum

  /** `<twin>.stream.*` and `<twin>.state.*`: medians per measured batch,
    * except the row total and memory, which are the last batch's. */
  private def twinLayers(twin: String, p: Phases): Seq[(String, Double)] = {
    val bs = p.measured.filter(_.numInputRows > 0)
    def med(f: StreamingQueryProgress => Double) = if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
    val last = bs.lastOption
    Seq(
      "stream.batches" -> bs.size.toDouble,
      "stream.rows_per_batch" -> med(_.numInputRows.toDouble),
      "stream.trigger_ms" -> med(ms(_, "triggerExecution")),
      "stream.add_batch_ms" -> med(ms(_, "addBatch")),
      "stream.query_planning_ms" -> med(ms(_, "queryPlanning")),
      "stream.wal_commit_ms" -> med(ms(_, "walCommit")),
      "stream.commit_offsets_ms" -> med(ms(_, "commitOffsets")),
      "stream.latest_offset_ms" -> med(ms(_, "latestOffset")),
      "state.rows_total" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "state.memory_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "state.updates_ms" -> med(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble),
      "state.commit_ms" -> med(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "state.rocksdb.file_sync_ms" -> med(custom(_, "rocksdbCommitFileSyncLatencyMs")),
      "state.rocksdb.snapshot_zip_ms" -> med(custom(_, "rocksdbSaveZipFilesLatencyMs")),
      "state.rocksdb.get_count" -> med(custom(_, "rocksdbGetCount")),
      "state.rocksdb.put_count" -> med(custom(_, "rocksdbPutCount")),
      "state.rocksdb.bytes_written" -> med(custom(_, "rocksdbTotalBytesWritten"))
    ).map { case (k, v) => s"$twin.$k" -> v }
  }

  /** Order of the micro-batch phases inside one trigger. */
  private val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** `batch` → its `durationMs` phases, laid end to end from the
    * trigger's start (Spark reports durations, not start times), with
    * the listener's jobs under the phase they started in. */
  private def addStreamSpans(tr: Tracer, twins: Seq[(String, Phases)]): Unit =
    twins.foreach { case (twin, p) =>
      p.measured.foreach { b =>
        val group = s"$twin#batch${b.batchId}"
        val start = Instant.parse(b.timestamp).toEpochMilli.toDouble
        val end = start + ms(b, "triggerExecution")
        val root = tr.add(group, -1, "batch", start, end)
        var at = start
        val phases = PhaseOrder.flatMap { k =>
          val d = ms(b, k)
          val span = if (d > 0) Some((tr.add(group, root, s"stream.$k", at, at + d), at, at + d)) else None
          at += d
          span
        }
        p.jobs.filter(j => j.startMs >= start && j.startMs < end).foreach { j =>
          val parent = phases.find(ph => j.startMs >= ph._2 && j.startMs < ph._3).map(_._1).getOrElse(root)
          val jid = tr.add(group, parent, "job", j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble)
          p.stages.filter(s => j.stageIds.contains(s.stageId))
            .foreach(s => tr.add(group, jid, "stage", s.submitMs.toDouble, s.endMs.toDouble))
        }
      }
    }

  private def progressJson(p: StreamingQueryProgress): Map[String, Any] = Json.obj(
    "batch_id" -> p.batchId, "timestamp" -> p.timestamp, "input_rows" -> p.numInputRows,
    "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
    "state" -> p.stateOperators.map(s => Json.obj("rows_total" -> s.numRowsTotal,
      "memory_bytes" -> s.memoryUsedBytes, "updates_ms" -> s.allUpdatesTimeMs,
      "commit_ms" -> s.commitTimeMs,
      "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.longValue })).toSeq)
}
