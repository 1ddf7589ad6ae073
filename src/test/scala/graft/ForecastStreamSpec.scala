package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ForecastStream
import graft.streaming.ForecastStream.HwEvent

case class HwRow(k: Long, o: Long, v: Double)

/** Holt-Winters live twin: the stream must replay the batch fold
  * bit-for-bit across micro-batch boundaries (shared hwStep core), raise
  * on out-of-order delivery, and the batch arm must now check its order
  * contract in-scan (duplicate ords raise instead of silently making the
  * fold partition-order-dependent). */
class ForecastStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("holtWintersStream == batch holtWinters bit-for-bit across " +
    "micro-batch boundaries") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val evs = Seq(1L, 2L).flatMap { k =>
      (0 until 40).map(i =>
        HwEvent(k, i.toLong * 1000, 10.0 + rnd.nextInt(100) / 7.0))
    }
    val batch = graft.operators.Forecast.holtWinters(
        evs.map(e => HwRow(e.key, e.tsMicros, e.y)).toDF(),
        "k", "o", "v", period = 7, alpha = 0.4, beta = 0.2, gamma = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getDouble(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._2)).toSeq

    val live = RestartParity.run(evs.sortBy(_.tsMicros), seed = 20)(
        ForecastStream.holtWintersStream(_, 7, 0.4, 0.2, 0.3))
      .map(r => (r.key, r.t, r.y, r.fitted, r.level, r.trend))
      .sortBy(t => (t._1, t._2))
    assert(live == batch,
      "stream rows must be bit-identical to the batch Holt-Winters fold")
  }

  test("holtWintersStream raises on an out-of-order event (cross-batch " +
    "lastTs contract)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[HwEvent]
    val out = ForecastStream.holtWintersStream(mem.toDS(), 3, 0.5, 0.2, 0.1)
    val q = out.writeStream.format("memory").queryName("hw_ooo")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(HwEvent(1L, 2000, 1.0), HwEvent(1L, 3000, 2.0))
      q.processAllAvailable()
      mem.addData(HwEvent(1L, 1000, 3.0)) // a cross-batch straggler
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      def root(t: Throwable): Throwable =
        if (t.getCause == null) t else root(t.getCause)
      assert(root(e).getMessage.contains("out-of-order"),
        root(e).getMessage)
    } finally q.stop()
  }

  test("batch holtWinters raises on a duplicate order key in-scan") {
    import spark.implicits._
    val dup = Seq(HwRow(1, 0, 1.0), HwRow(1, 1, 2.0), HwRow(1, 1, 3.0)).toDF()
    val e = intercept[Exception](graft.operators.Forecast
      .holtWinters(dup, "k", "o", "v", 3, 0.4, 0.2, 0.3).collect())
    def root(t: Throwable): Throwable =
      if (t.getCause == null) t else root(t.getCause)
    assert(root(e).getMessage.contains("duplicate order key"),
      root(e).getMessage)
  }
}
