package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{RangeJoin, Sessionize}

case class PointRow(p_id: Long, p_user: Long, p_ts: Timestamp)
case class IntervalRow(i_id: Long, i_user: Long, lo: Timestamp, hi: Timestamp)
case class SessRow(user_id: Long, ts: Timestamp, event_id: Long, value: Double)
case class RfmRow(user_id: Long, ts: Timestamp, event_type: String, value: Double)

/** Streaming twins of the range-join and sessionization batch arms:
  * Structured Streaming's stream-stream interval join and
  * `session_window` must reproduce the batch operators' results on the
  * same rows — the dual-execution discipline every batch arm in this
  * repo follows.
  */
class StreamingRangeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stream-stream interval join == RangeJoin.binned on fixture events") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val evd = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val pts = evd.select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val ivs = evd.filter(col("event_type") === "purchase")
      .select(col("event_id").as("i_id"), col("user_id").as("i_user"),
        (col("ts") - expr("INTERVAL 6 HOURS")).as("lo"),
        (col("ts") + expr("INTERVAL 6 HOURS")).as("hi"))

    val batch = RangeJoin.binned(pts, ivs, "p_ts", "lo", "hi",
      Seq("p_user" -> "i_user"), binWidthMicros = 6L * 3600 * 1000000)
      .select("i_id", "p_id").as[(Long, Long)].collect().sorted

    val pMem = MemoryStream[PointRow]
    val iMem = MemoryStream[IntervalRow]
    // Watermarked on both event-time columns; the join condition bounds
    // p_ts in terms of lo (fixed 12h interval length), so state is
    // cleanable at scale — plus the exact [lo, hi] residual.
    val joined = pMem.toDS().withWatermark("p_ts", "1 hour")
      .join(iMem.toDS().withWatermark("lo", "1 hour"),
        expr("p_user = i_user AND p_ts >= lo AND p_ts <= lo + INTERVAL 12 HOURS AND p_ts <= hi"))
      .select("i_id", "p_id")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("rj_par").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val pRows = pts.as[PointRow].collect().sortBy(_.p_ts.getTime)
      val iRows = ivs.as[IntervalRow].collect().sortBy(_.lo.getTime)
      // interleave in three chunks: join state must carry across batches
      pRows.grouped(pRows.length / 3 + 1).zipAll(
        iRows.grouped(iRows.length / 3 + 1), Array.empty[PointRow], Array.empty[IntervalRow])
        .foreach { case (pc, ic) =>
          pMem.addData(pc.toIndexedSeq: _*); iMem.addData(ic.toIndexedSeq: _*)
          q.processAllAvailable()
        }
      val stream = spark.table("rj_par").as[(Long, Long)].collect().sorted
      assert(stream.nonEmpty && stream.sameElements(batch),
        s"stream ${stream.length} pairs vs batch ${batch.length}")
    } finally q.stop()
  }

  test("streaming funnel state machine == batch Behavior.funnel on fixture events") {
    import spark.implicits._
    import graft.streaming.BehaviorStream
    import graft.streaming.BehaviorStream.FunnelEvent

    val steps = Seq("view", "click", "purchase")
    val W = 7L * 86400
    val evd = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val batch = graft.operators.Behavior
      .funnel(evd, "user_id", "ts", "event_type", steps, W)
      .select("step_idx", "n_users", "sum_lag_us").as[(Int, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val rows = evd.select(col("user_id"), unix_micros(col("ts")), col("event_type"))
      .as[(Long, Long, String)].collect()
      .map(r => FunnelEvent(r._1, r._2, r._3)).sortBy(_.tsMicros)
    val adv = RestartParity.run(rows.toSeq, seed = 68)(BehaviorStream.funnelStream(_, steps, W))
    val byStage = adv.groupBy(_.stage).map { case (stage, rs) =>
      stage -> ((rs.length.toLong, rs.map(_.lagUs).sum))
    }
    steps.indices.foreach { i =>
      assert(byStage.getOrElse(i, (0L, 0L)) == batch(i), s"stage $i")
    }
  }

  /** Run `body` against a live `complete`-mode query over `live`'s
    * partials whose sink is `live.foreachBatch`; `body`'s argument adds
    * one micro-batch and waits for it. */
  private def withRfmQuery(live: graft.streaming.BehaviorStream.RfmLive)(
      body: (Seq[RfmRow] => Unit) => Unit): Unit = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[RfmRow]
    val ckpt = java.nio.file.Files.createTempDirectory("rfm_live").toFile
    val q = live.partials(mem.toDF()).writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch(live.foreachBatch _)
      .trigger(Trigger.ProcessingTime(0)).start()
    try body { c => mem.addData(c: _*); q.processAllAvailable() }
    finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    }
  }

  private def rfmBatch(evd: org.apache.spark.sql.DataFrame, now: Long) = {
    val batch = canonRfm(graft.operators.Behavior
      .rfm(evd, "user_id", "ts", "event_type", "value", "purchase", now, 5).collect())
    graft.util.Caching.release()
    batch
  }

  private def canonRfm(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(_.toSeq.toVector).sortBy(_.head.asInstanceOf[Long]).toVector

  test("RfmLive boundary refresh: streamed snapshot == batch Behavior.rfm, bit-identical") {
    import spark.implicits._
    val evd = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val now = 1706745600000000L
    val batch = rfmBatch(evd, now)

    // same events in ts order, three micro-batches: the state store
    // carries the per-unit partials and each batch's sink re-resolves
    // the band boundaries (a handful of literals)
    val rows = evd.select("user_id", "ts", "event_type", "value")
      .as[RfmRow].collect().sortBy(_.ts.getTime)
    val live = new graft.streaming.BehaviorStream.RfmLive(
      "user_id", "ts", "event_type", "value", "purchase", now, 5)
    withRfmQuery(live)(feed => rows.grouped(rows.length / 3 + 1).foreach(c => feed(c.toSeq)))
    assert(canonRfm(live.snapshot.collect()) == batch,
      "merged per-unit aggregates + re-resolved boundaries must replay batch rfm exactly")
    graft.util.Caching.release()
  }

  test("RfmLive restart parity: complete-mode partials killed, replayed and resumed " +
    "== batch Behavior.rfm, bit-identical") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val evd = spark.read.parquet(s"${TestSpark.sf}/events.parquet")
    val now = 1706745600000000L
    val batch = rfmBatch(evd, now)

    val rows = evd.select("user_id", "ts", "event_type", "value")
      .as[RfmRow].collect().sortBy(_.ts.getTime).toSeq
    val live = new graft.streaming.BehaviorStream.RfmLive(
      "user_id", "ts", "event_type", "value", "purchase", now, 5)
    val out = RestartParity.run(rows, seed = 124, outputMode = "complete")(
      ds => live.partials(ds.toDF()))
    // the last complete table holds every unit: publish it through the sink
    val last = RestartParity.lastPer(out)(_.getLong(0)).values.toList
    live.foreachBatch(spark.createDataFrame(last.asJava, out.head.schema), 0L)
    assert(canonRfm(live.snapshot.collect()) == batch,
      "partials carried through a kill and a replayed batch must replay batch rfm exactly")
    graft.util.Caching.release()
  }

  test("RfmLive: boundary re-resolve releases its stream-thread barriers") {
    // enough DISTINCT units that the second batch's per-unit table
    // passes orderStatistics' fast path (200k) and the local rank arm
    // registers persist barriers ON THE STREAM THREAD — the leak class
    // the r16 review found: nobody but foreachBatch itself can release
    // a per-thread registry, so growth across batches must stay at the
    // store checkpoint, not 3 barriers per batch
    def wave(lo: Int, hi: Int) = (lo until hi).map(i =>
      RfmRow(i.toLong, new Timestamp(1700000000000L + i), "buy", 1.0))
    val live = new graft.streaming.BehaviorStream.RfmLive(
      "user_id", "ts", "event_type", "value", "buy", 1706745600000000L, 5)
    withRfmQuery(live) { feed =>
      feed(wave(0, 105000))
      val after1 = spark.sparkContext.getPersistentRDDs.size
      feed(wave(105000, 210000))
      val after2 = spark.sparkContext.getPersistentRDDs.size
      assert(after2 - after1 <= 2,
        s"RfmLive grew persistent RDDs $after1 -> $after2 in one rank-arm batch")
      assert(live.snapshot.count() == 210000L)
    }
  }

  test("session_window streaming == batch Sessionize on fixture events") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val evd = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))

    val batch = Sessionize.stats(evd, "user_id", "ts", "event_id", "value", 3600L * 1000000)
      .select(col("user_id"), unix_micros(col("start_ts")).as("s"), col("n_events"))
      .as[(Long, Long, Long)].collect().sorted

    val mem = MemoryStream[SessRow]
    val sessions = mem.toDS()
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("s"), col("n_events"))
    val q = sessions.writeStream.outputMode("complete")
      .format("memory").queryName("sess_par").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val rows = evd.as[SessRow].collect().sortBy(_.ts.getTime)
      rows.grouped(rows.length / 4 + 1).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val stream = spark.table("sess_par").as[(Long, Long, Long)].collect().sorted
      assert(stream.nonEmpty && stream.sameElements(batch),
        s"stream ${stream.length} sessions vs batch ${batch.length}")
    } finally q.stop()
  }
}
