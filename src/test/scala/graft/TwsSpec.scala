package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StatefulOps.TickRow
import graft.streaming.TwsOps
import graft.ts.Sources

/** transformWithState (StatefulProcessor + RocksDB state store): the
  * benchmark's EMA arm, restart parity at fixture and soak volume, and
  * event-time timers as csp alarms. */
class TwsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("transformWithState EMA across micro-batches == batch Sequential.ema") {
    import org.apache.spark.sql.Encoders
    implicit val tickEnc = Encoders.product[TickRow]
    implicit val sq = spark.sqlContext

    val ev = Sources.events(spark, TestSpark.sf)
    val batch = graft.operators.Sequential.ema(ev, 0.4).df
      .select("key", "seq", "ema").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val ticks = graft.streaming.StatefulOps.toTickRows(ev)
      .collect().toSeq.sortBy(r => (r.tsMicros, r.seq))
    val mem = MemoryStream[TickRow]
    val q = TwsOps.emaTws(mem.toDS(), 0.4).writeStream.outputMode("append")
      .format("memory").queryName("tws_ema").trigger(Trigger.ProcessingTime(0)).start()
    ticks.grouped(ticks.size / 4 + 1).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = spark.table("tws_ema").collect()
      .map(r => (r.getString(0), r.getLong(2)) -> r.getDouble(4)).toMap
    q.stop()

    assert(stream.size == batch.size)
    stream.foreach { case (k, v) =>
      assert(math.abs(v - batch(k)) < 1e-12, s"$k: tws $v vs batch ${batch(k)}")
    }
  }

  test("kill + restart from checkpoint mid-stream bit-matches batch Sequential.ema") {
    // the reference's core sim==realtime promise: a restarted engine must
    // produce exactly what an uninterrupted run produces — the query is
    // stopped (the crash) at seeded micro-batch boundaries and a NEW
    // query resumes from the same checkpoint (RocksDB state + committed
    // offsets)
    import org.apache.spark.sql.Encoders
    implicit val tickEnc = Encoders.product[TickRow]

    val ev = Sources.events(spark, TestSpark.sf)
    val batch = graft.operators.Sequential.ema(ev, 0.4).df
      .select("key", "seq", "ema").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ticks = graft.streaming.StatefulOps.toTickRows(ev)
      .collect().toSeq.sortBy(r => (r.tsMicros, r.seq))
    val recovered = RestartParity.run(ticks, seed = 47)(TwsOps.emaTws(_, 0.4))
      .map(o => (o.key, o.seq) -> o.ema).toMap

    assert(recovered.size == batch.size)
    // BIT-exact, not tolerance: state round-trips through RocksDB as the
    // same doubles and the recurrence order is identical
    recovered.foreach { case (k, v) =>
      assert(v == batch(k), s"$k: recovered $v vs batch ${batch(k)}")
    }
  }

  test("soak: 100k-row RocksDB session, 20 micro-batches, two kill/recover cycles") {
    // The multi-batch endurance case the short parity fixtures don't
    // cover: sf0.1 volume (100k ticks, 20 keys) through the streaming
    // scan with RocksDB state, fed as 20 micro-batches with TWO
    // mid-stream query kills + checkpoint recoveries. The state (Kahan
    // compensated sum — the most drift-sensitive recurrence in the Step
    // library) must round-trip RocksDB snapshots and the checkpoint
    // restore path BIT-exactly: the batch twin is the truth.
    import org.apache.spark.sql.Encoders
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.Steps
    implicit val tickEnc = Encoders.product[TickRow]

    val ev = Sources.events(spark, "/root/testdata/sf0.1")
    val batch = graft.operators.Sequential.kahanCumsum(ev).df
      .select("key", "seq", "ksum").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val ticks = StatefulOps.toTickRows(ev).collect().toSeq.sortBy(r => (r.tsMicros, r.seq))
    assert(ticks.size == 100000)
    val out = RestartParity.run(ticks, seed = 142, batches = 20)(
      StatefulOps.scanStream(_, Steps.kahan)).map(o => (o.key, o.seq) -> o.value).toMap

    assert(out.size == batch.size, s"soak: stream ${out.size} rows vs batch ${batch.size}")
    out.foreach { case (k, v) =>
      assert(v == batch(k), s"soak @ $k: stream $v vs batch ${batch(k)}")
    }
  }

  test("transformWithState event-time timers fire as csp alarms") {
    import org.apache.spark.sql.Encoders
    import graft.streaming.TwsOps.TickEvt
    implicit val tickEnc = Encoders.product[TickEvt]
    implicit val sq = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val mem = MemoryStream[TickEvt]
    val q = TwsOps.heartbeatTimeout(mem.toDS(), timeoutMs = 500)
      .writeStream.outputMode("append").format("memory").queryName("tws_hb")
      .trigger(Trigger.ProcessingTime(0)).start()
    // a,b tick at t=1s → alarms at 1.5s; a re-arms at 3s → alarm 3.5s
    mem.addData(TickEvt("a", ts(1), 0, 1.0), TickEvt("b", ts(1), 1, 2.0))
    q.processAllAvailable()
    mem.addData(TickEvt("a", ts(3), 2, 3.0)) // watermark → 1s
    q.processAllAvailable()
    mem.addData(TickEvt("c", ts(5), 3, 4.0)) // watermark → 3s: b@1.5s fires
    q.processAllAvailable()
    mem.addData(TickEvt("d", ts(7), 4, 5.0)) // watermark → 5s: a@3.5s fires
    q.processAllAvailable()
    val fired = spark.table("tws_hb").collect().map(_.getString(0)).toSet
    q.stop()
    assert(fired.contains("a") && fired.contains("b"))
    // b fired exactly once despite a's re-arm (cancel_alarm semantics)
    assert(spark.table("tws_hb").filter("key = 'b'").count() == 1)
  }
}
