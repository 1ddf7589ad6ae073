package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.MatrixProfile

/** Live twins of [[graft.operators.MatrixProfile]] — the banded left
  * matrix profile IS an online algorithm (every window's candidates are
  * strictly earlier windows), so the stream emits each window's
  * nearest-earlier-neighbor row the moment its last point arrives.
  * Both arms call the SAME [[graft.operators.MatrixProfile.mpStep]]
  * exact-integer core, so the streams' rows are bit-identical to the
  * batch frames under the in-order contract (checked via lastTs, like
  * the change-point twins). Persisted state is just the point/order-key
  * rings plus the count — O(w + minLag + band) per key, NOT O(n); every
  * derived quantity (diagonal dot products, window sums) is recomputed
  * exactly from the rings on rebuild (Long arithmetic — recomputation
  * ≡ the incremental updates). Unlike the BOCPD posteriors there is no
  * per-event growth, so the operators run unbounded streams without a
  * point budget (quantization overflow is the only loud bound, same as
  * batch). */
object MatrixProfileStream {

  case class MpEvent(key: String, tsMicros: Long, x: Double)
  case class MpStreamState(pts: List[Long], tss: List[Long],
                           n: Long, lastTs: Long)
  case class MpReadout(key: String, ord: Long, tsMicros: Long, nnOrd: Long,
                       nnLag: Long, dist2: Long, dist: Double)
  case class MpZReadout(key: String, ord: Long, tsMicros: Long, nnOrd: Long,
                        nnLag: Long, dist: Double)

  private def run[O](events: Dataset[MpEvent], w: Int, band: Int,
                     minLag: Int, zNorm: Boolean, opName: String,
                     emit: (String, Long, Long, Long, Array[Any]) => O)
                    (implicit outEnc: org.apache.spark.sql.Encoder[O])
      : Dataset[O] = {
    val lag = if (minLag < 0) w else minLag
    require(w >= 2, s"window w=$w must be at least 2")
    require(band >= 1, "band must be at least 1")
    require(lag >= w, s"minLag=$lag must be >= w=$w - overlapping windows " +
      "trivially match themselves (the exclusion-zone contract)")
    implicit val stEnc = Encoders.product[MpStreamState]
    implicit val keyEnc = Encoders.STRING
    TwsOps.foldByKey(events, (_: MpEvent).key, OutputMode.Append()) {
      (key: String, it: Iterator[MpEvent], st: Option[MpStreamState]) =>
        val prev = st.getOrElse(MpStreamState(Nil, Nil, 0L, Long.MinValue))
        // rebuild the modular rings at their absolute positions, then
        // recompute the derived sums exactly from them
        val mp = new MatrixProfile.MpState(w, lag, band)
        mp.n = prev.n - prev.pts.length
        prev.pts.foreach { q => mp.put(mp.n, q); mp.n += 1 }
        var tsIdx = prev.n - prev.tss.length
        prev.tss.foreach { t => mp.putTs(tsIdx, t); tsIdx += 1 }
        mp.recomputeDerived()
        var lastTs = prev.lastTs
        val out = scala.collection.mutable.ArrayBuffer.empty[O]
        it.toSeq.sortBy(_.tsMicros).foreach { e =>
          ChangePointStream.checkInOrder(opName, key, e.tsMicros, lastTs)
          require(java.lang.Double.isFinite(e.x),
            s"$opName: non-finite metric ${e.x}")
          lastTs = e.tsMicros
          val res = MatrixProfile.mpStep(mp, ChangePointStream.quant4(e.x),
            java.lang.Long.valueOf(e.tsMicros), zNorm)
          if (res != null) {
            val i = res(0).asInstanceOf[Long]
            val j = res(2).asInstanceOf[Long]
            out += emit(key, i, res(1).asInstanceOf[Long], j, res)
          }
        }
        // persist the rings in index order (last cap points / w keys)
        val lo = math.max(0L, mp.n - mp.cap)
        val pts = (lo until mp.n).map(mp.pt).toList
        val tlo = math.max(0L, mp.n - w)
        val tss = (tlo until mp.n)
          .map(idx => mp.ts(idx).asInstanceOf[Long]).toList
        (Some(MpStreamState(pts, tss, mp.n, lastTs)), out.iterator)
    }
  }

  /** Raw squared-Euclidean live profile — bit-identical to
    * [[graft.operators.MatrixProfile.leftProfileBy]]. */
  def leftProfileStream(events: Dataset[MpEvent], w: Int, band: Int,
                        minLag: Int = -1): Dataset[MpReadout] = {
    implicit val outEnc = Encoders.product[MpReadout]
    run(events, w, band, minLag, zNorm = false, "leftProfileStream",
      (key, i, t, j, res) => {
        val d2 = res(3).asInstanceOf[Long]
        MpReadout(key, i, t, j, i - j, d2, Math.sqrt(d2.toDouble) / 1e4)
      })
  }

  /** Z-normalized live profile — bit-identical to
    * [[graft.operators.MatrixProfile.leftProfileZBy]]. */
  def leftProfileZStream(events: Dataset[MpEvent], w: Int, band: Int,
                         minLag: Int = -1): Dataset[MpZReadout] = {
    implicit val outEnc = Encoders.product[MpZReadout]
    run(events, w, band, minLag, zNorm = true, "leftProfileZStream",
      (key, i, t, j, res) => MpZReadout(key, i, t, j, i - j,
        res(3).asInstanceOf[Double]))
  }
}
