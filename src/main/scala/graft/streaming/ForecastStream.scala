package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** Live twin of [[graft.operators.Forecast.holtWinters]] — triple
  * exponential smoothing IS an online recurrence (level/trend/seasonal
  * state advanced per event), so the stream emits each event's one-step
  * fit and refreshed state the moment it arrives: the realtime
  * "is this point above its forecast" readout. Both arms call the SAME
  * [[graft.operators.Forecast.hwStep]] fixed-association double core,
  * so the stream's rows are bit-identical to the batch frame under the
  * in-order contract (checked via lastTs, like the change-point twins).
  * State is O(period) per key — (l, b, seasonal vector, count), no
  * per-event growth. */
object ForecastStream {

  case class HwEvent(key: Long, tsMicros: Long, y: Double)
  case class HwState(l: Double, b: Double, s: List[Double], t: Long,
                     lastTs: Long)
  case class HwReadout(key: Long, t: Long, y: Double, fitted: Option[Double],
                       level: Double, trend: Double)

  def holtWintersStream(events: Dataset[HwEvent], period: Int, alpha: Double,
                        beta: Double, gamma: Double): Dataset[HwReadout] = {
    require(period >= 1, "period must be at least 1")
    implicit val stEnc = Encoders.product[HwState]
    implicit val outEnc = Encoders.product[HwReadout]
    implicit val keyEnc = Encoders.scalaLong
    TwsOps.foldByKey(events, (_: HwEvent).key, OutputMode.Append()) {
      (key: Long, it: Iterator[HwEvent], st: Option[HwState]) =>
        val prev = st.getOrElse(
          HwState(0.0, 0.0, List.fill(period)(0.0), 0L, Long.MinValue))
        require(prev.s.length == period,
          s"holtWintersStream: restored seasonal state has period " +
            s"${prev.s.length} but the query was built with $period - " +
            "a restarted query must keep its period (or start a fresh " +
            "checkpoint)")
        var l = prev.l; var b = prev.b; var t = prev.t
        val s = prev.s.toArray
        var lastTs = prev.lastTs
        val out = scala.collection.mutable.ArrayBuffer.empty[HwReadout]
        it.toSeq.sortBy(_.tsMicros).foreach { e =>
          ChangePointStream.checkInOrder("holtWintersStream", key.toString,
            e.tsMicros, lastTs)
          require(java.lang.Double.isFinite(e.y),
            s"holtWintersStream: non-finite metric ${e.y}")
          lastTs = e.tsMicros
          if (t == 0L) {
            // flat deterministic init, exactly the batch arm's
            l = e.y; b = 0.0
            out += HwReadout(key, 0L, e.y, None, l, b)
          } else {
            val (fitted, lNew, bNew) = graft.operators.Forecast.hwStep(
              l, b, s, (t % period).toInt, e.y, alpha, beta, gamma)
            l = lNew; b = bNew
            out += HwReadout(key, t, e.y, Some(fitted), l, b)
          }
          t += 1
        }
        (Some(HwState(l, b, s.toList, t, lastTs)), out.iterator)
    }
  }
}
