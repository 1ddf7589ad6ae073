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

  test("RfmLive boundary refresh: streamed snapshot == batch Behavior.rfm, bit-identical") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evd = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val now = 1706745600000000L
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.toVector).sortBy(_.head.asInstanceOf[Long]).toVector
    val batch = canon(graft.operators.Behavior
      .rfm(evd, "user_id", "ts", "event_type", "value", "purchase", now, 5).collect())
    graft.util.Caching.release()

    // same events in ts order, three micro-batches: each batch folds its
    // per-unit partials into the running store and re-resolves the band
    // boundaries (a handful of literals - no streaming state)
    val rows = evd.select("user_id", "ts", "event_type", "value")
      .as[RfmRow].collect().sortBy(_.ts.getTime)
    val live = new graft.streaming.BehaviorStream.RfmLive(
      "user_id", "ts", "event_type", "value", "purchase", now, 5)
    val mem = MemoryStream[RfmRow]
    val q = mem.toDF().writeStream.foreachBatch(live.foreachBatch _)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      rows.grouped(rows.length / 3 + 1).foreach { c =>
        mem.addData(c.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(canon(live.snapshot.collect()) == batch,
      "merged per-unit aggregates + re-resolved boundaries must replay batch rfm exactly")
    graft.util.Caching.release()
  }

  test("RfmLive durable arm: parquet store replays the in-memory arm and survives a restart") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evd = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val now = 1706745600000000L
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.toVector).sortBy(_.head.asInstanceOf[Long]).toVector
    val batch = canon(graft.operators.Behavior
      .rfm(evd, "user_id", "ts", "event_type", "value", "purchase", now, 5).collect())
    graft.util.Caching.release()

    // a file: URI exercised THROUGH the Hadoop FileSystem API — the
    // same code path an hdfs:/s3a: store takes (VERDICT r17 #1)
    val store = "file:" +
      java.nio.file.Files.createTempDirectory("rfm_store").toString
    val rows = evd.select("user_id", "ts", "event_type", "value")
      .as[RfmRow].collect().sortBy(_.ts.getTime)
    val halves = rows.grouped(rows.length / 2 + 1).toSeq
    def asDf(c: Seq[RfmRow]) = c.toDF()

    // writer 1 commits batch 0, then is DISCARDED — the committed
    // version under the store is the only carry-over; writer 2 resumes
    // with the NEXT batchId (monotone ids across restarts: the
    // checkpointed-query contract the scaladoc states)
    val live1 = new graft.streaming.BehaviorStream.RfmLive(
      "user_id", "ts", "event_type", "value", "purchase", now, 5,
      storePath = Some(store))
    live1.foreachBatch(asDf(halves.head), 0L)
    val live2 = new graft.streaming.BehaviorStream.RfmLive(
      "user_id", "ts", "event_type", "value", "purchase", now, 5,
      storePath = Some(store))
    live2.foreachBatch(asDf(halves(1)), 1L)

    assert(canon(live2.snapshot.collect()) == batch,
      "resumed durable store + merged partials must replay batch rfm exactly")
    // the committed store is versioned parquet with a _COMMITTED marker
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$store/v1/_COMMITTED")))
    assert(spark.read.parquet(s"$store/v1").count() > 0)

    // idempotent replay (ADVICE r17): re-running an already-committed
    // batchId must NOT merge again — counts stay put, snapshot intact
    live2.foreachBatch(asDf(halves(1)), 1L)
    assert(canon(live2.snapshot.collect()) == batch,
      "a replayed batchId must be a no-op merge, not a double-count")
    graft.util.Caching.release()
  }

  test("RfmLive durable arm: retention keeps K versions; crash debris is vacuumed") {
    import spark.implicits._
    val store = "file:" +
      java.nio.file.Files.createTempDirectory("rfm_ret").toString
    val live = new graft.streaming.BehaviorStream.RfmLive(
      "user_id", "ts", "event_type", "value", "buy", 1706745600000000L, 5,
      storePath = Some(store), keepVersions = 2)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (0 until 8).foreach { b =>
      // an UNCOMMITTED half-written version must never be read as the
      // store and must be vacuumed by the next commit
      if (b == 4) fs.mkdirs(new org.apache.hadoop.fs.Path(s"$store/v3999"))
      val df = Seq(RfmRow(b.toLong % 3, new Timestamp(1700000000000L + b), "buy", 2.0))
        .toDF()
      live.foreachBatch(df, 4000L + b)
    }
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).filter(_.startsWith("v")).sorted.toSeq
    assert(dirs == Seq("v4006", "v4007"),
      s"retention must keep exactly keepVersions=2 committed versions, got $dirs")
    // every event landed exactly once despite the vacuuming
    assert(live.snapshot.agg(sum(col("frequency"))).head.getLong(0) == 8L)
    graft.util.Caching.release()
    // keepVersions = 1 would let the NEXT batch's vacuum delete the
    // version the published snapshot lazily reads (ADVICE r18) — floor 2
    val e = intercept[IllegalArgumentException](
      new graft.streaming.BehaviorStream.RfmLive(
        "user_id", "ts", "event_type", "value", "buy", 0L, 5,
        storePath = Some(store), keepVersions = 1))
    assert(e.getMessage.contains("at least 2"), e.getMessage)
  }

  test("RfmLive: boundary re-resolve releases its stream-thread barriers") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
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
    val mem = MemoryStream[RfmRow]
    val q = mem.toDF().writeStream.foreachBatch(live.foreachBatch _)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(wave(0, 105000).toIndexedSeq: _*); q.processAllAvailable()
      val after1 = spark.sparkContext.getPersistentRDDs.size
      mem.addData(wave(105000, 210000).toIndexedSeq: _*); q.processAllAvailable()
      val after2 = spark.sparkContext.getPersistentRDDs.size
      assert(after2 - after1 <= 2,
        s"RfmLive grew persistent RDDs $after1 -> $after2 in one rank-arm batch")
      assert(live.snapshot.count() == 210000L)
    } finally q.stop()
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
