package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** Live trend monitor — the streaming twin of the Mann–Kendall frame
  * (VERDICT r16 #3): csp is a streaming engine and "is this metric
  * trending" is natively a live question. Per TUMBLING WINDOW, the
  * full tie-corrected MK readout (S, Var(S), continuity-corrected z)
  * over that window's rows — the psiStream shape (bounded per-window
  * state, refreshed emission per batch), with the window bound making
  * the quadratic C/D fold safe by construction.
  *
  * State per window: the (ts, value) CELL table (counts of repeated
  * observations), capped at `maxCells` with the batch family's loud
  * remediation — a tumbling window whose cell table outgrows the cap
  * needs a bucketed metric, exactly like the batch operator. Every
  * batch a window receives events, the refreshed (w_start, n, s,
  * var_s, z) row re-emits (Update semantics; latest row per window is
  * the answer).
  *
  * Parity contract (spec-pinned): the fold replays
  * [[graft.operators.RankTests.mannKendall]]'s exact machinery — C/D
  * and the tie sums as exact BigIntegers, then THE SAME IEEE chain in
  * the same operation order for var_s and z — so each window's final
  * row is bit-identical to the batch test on that window's rows, and
  * to [[graft.operators.RankTests.mannKendallBy]] with the window
  * start as the segment (the oracle-replayable batch frame). */
object TrendStream {

  case class MkEvent(tsMicros: Long, value: Double)
  case class MkCell(ts: Long, v: Double, c: Long)
  case class MkState(cells: List[MkCell])
  case class MkReadout(wStart: Long, n: Long, s: Double,
                       varS: Option[Double], z: Option[Double])

  /** The batch operator's (s, var_s, z) from a window's cell table —
    * exact integer C/D/tie terms, then [[graft.operators.RankTests
    * .mannKendall]]'s IEEE chain verbatim. Driver/executor-side Scala;
    * O(cells²) on a window-bounded table. */
  private[streaming] def mkFromCells(cells: Seq[MkCell]): (Long, Double, Option[Double], Option[Double]) = {
    val cs = cells.toArray
    var cAcc = BigInt(0); var dAcc = BigInt(0)
    var i = 0
    while (i < cs.length) {
      var j = 0
      while (j < cs.length) {
        if (cs(j).ts < cs(i).ts) {
          if (cs(j).v < cs(i).v) cAcc += BigInt(cs(i).c) * cs(j).c
          else if (cs(j).v > cs(i).v) dAcc += BigInt(cs(i).c) * cs(j).c
        }
        j += 1
      }
      i += 1
    }
    def tieSums(key: MkCell => Any): (BigInt, BigInt, BigInt) = {
      var t2 = BigInt(0); var t25 = BigInt(0); var t3 = BigInt(0)
      cs.groupBy(key).foreach { case (_, g) =>
        val t = BigInt(g.map(_.c).sum)
        t2 += t * (t - 1)
        t25 += t * (t - 1) * (2 * t + 5)
        t3 += t * (t - 1) * (t - 2)
      }
      (t2, t25, t3)
    }
    val (tx2, tx25, tx3) = tieSums(_.ts)
    val (ty2, ty25, ty3) = tieSums(_.v)
    val n = cs.map(_.c).sum
    def dbl(b: BigInt): Double = new java.math.BigDecimal(b.bigInteger).doubleValue
    val s = dbl(cAcc) - dbl(dAcc)
    val nD = n.toDouble
    // mannKendall's varS expression, operation for operation:
    // ((n(n−1)(2n+5))_d − tx25_d − ty25_d)/18 + [n≥3] tx3·ty3/(9n(n−1)(n−2))
    //   + tx2·ty2/(2n(n−1)); null (None) when n < 2
    val varS =
      if (n < 2) None
      else Some(
        (dbl(BigInt(n) * (n - 1) * (2 * n + 5)) - dbl(tx25) - dbl(ty25)) / 18.0 +
          (if (n >= 3) dbl(tx3) * dbl(ty3) / (9.0 * nD * (nD - 1) * (nD - 2)) else 0.0) +
          dbl(tx2) * dbl(ty2) / (2.0 * nD * (nD - 1)))
    val z = varS.filter(_ > 0).map { v =>
      if (s > 0) (s - 1) / math.sqrt(v)
      else if (s < 0) (s + 1) / math.sqrt(v)
      else 0.0
    }
    (n, s, varS, z)
  }

  case class PtReadout(wStart: Long, n: Long, kStat: Long, splitTs: Long,
                       uAtSplit: Long, pValue: Double)

  /** The prefix-fold monitors' order contract, BOTH halves (VERDICT
    * r18 #1): every cell count 1 catches a duplicate (ts, value)
    * EVENT, but two events at the same ts with DIFFERENT values form
    * two c==1 cells — the distinct-ts count catches those. Without
    * this, the stream's deterministic (ts, v) sort and the batch
    * arm's partition-order-dependent `orderBy(__t)` tie order could
    * silently break the spec-pinned prefix-fold bit-parity. */
  private def requireUniqueTs(op: String, cells: Seq[MkCell]): Unit = {
    require(cells.forall(_.c == 1L),
      s"$op: duplicate (ts, value) events - ts must be unique per window")
    require(cells.iterator.map(_.ts).toSet.size == cells.size,
      s"$op: two events share a ts with different values - ts must be " +
        "unique per window (the batch arm's order contract)")
  }

  /** [[graft.operators.ChangePoint.pettittBy]]'s readout from a
    * window's cell table — the same 2×rank integers, the same
    * Uₜ = Σr2 − t(n+1) identity, the same integer argmax and IEEE p
    * chain. Requires the batch operator's unique-ts contract (every
    * cell count 1). Returns null for n < 2. */
  private[graft] def pettittFromCells(cells: Seq[MkCell]): Option[PtReadout] = {
    requireUniqueTs("pettittStream", cells)
    val rows = cells.sortBy(c => (c.ts, c.v)).toArray
    val n = rows.length
    if (n < 2) return None
    // 2×average rank per distinct value: 2·cumBefore + t + 1
    val byV = rows.map(_.v).groupBy(identity).view.mapValues(_.size.toLong).toMap
    var cum = 0L
    val r2 = scala.collection.mutable.HashMap.empty[Double, Long]
    byV.keys.toSeq.sorted.foreach { v =>
      val t = byV(v)
      r2(v) = 2 * cum + t + 1
      cum += t
    }
    var s2 = 0L
    var bestK = Long.MinValue; var bestTs = Long.MaxValue; var bestU = 0L
    var i = 0
    while (i < n - 1) {
      s2 += r2(rows(i).v)
      val u = s2 - (i + 1).toLong * (n + 1)
      val k = math.abs(u)
      if (k > bestK) { bestK = k; bestTs = rows(i).ts; bestU = u }
      i += 1
    }
    val nD = n.toDouble
    // StrictMath.exp, not Math.exp: Spark's codegen'd EXP is
    // StrictMath, and the intrinsic differs by 1 ULP on some inputs —
    // the parity spec caught exactly that
    val p = math.min(1.0, 2.0 * java.lang.StrictMath.exp(
      -6.0 * bestK.toDouble * bestK.toDouble / (nD * nD * nD + nD * nD)))
    Some(PtReadout(0L, n, bestK, bestTs, bestU, p))
  }

  case class AmocReadout(wStart: Long, n: Long, splitTs: Long, nLeft: Long,
                         gain: Double, meanLeft: Double, meanRight: Double)

  /** [[graft.operators.ChangePoint.amocSplitBy]]'s readout from a
    * window's cell table — the exact SSE split: the same scale-4
    * quantized integers, the same A = S_l·n − S·n_l exact prefix-sum
    * statistic, the same A²/(n·n_l·n_r)/10⁸ IEEE gain chain and the
    * same (gain desc, ts asc) argmax. Requires the batch operator's
    * unique-ts contract (every cell count 1). None for n < 2. */
  private[graft] def amocFromCells(cells: Seq[MkCell]): Option[AmocReadout] = {
    requireUniqueTs("amocStream", cells)
    val rows = cells.sortBy(c => (c.ts, c.v)).toArray
    val n = rows.length
    if (n < 2) return None
    val xq = rows.map(r => BigInt(ChangePointStream.quant4(r.v)))
    val s = xq.sum
    def dbl(b: BigInt): Double = new java.math.BigDecimal(b.bigInteger).doubleValue
    var si = BigInt(0)
    var best: AmocReadout = null
    var i = 1
    while (i < n) {
      si += xq(i - 1)
      // amocCore's chain, operation for operation: a and denom exact,
      // then a_d·a_d/denom_d/1e8; strict > keeps the earliest ts on ties
      val aD = dbl(si * n - s * i)
      val dnD = (i.toLong * (n - i) * n).toDouble
      val gain = aD * aD / dnD / 1e8
      if (best == null || gain > best.gain)
        best = AmocReadout(0L, n, rows(i - 1).ts, i,
          gain, dbl(si) / 10000.0 / i.toDouble,
          dbl(s - si) / 10000.0 / (n - i).toDouble)
      i += 1
    }
    Option(best)
  }

  /** Per-tumbling-window exact AMOC monitor — the live consumer of
    * [[graft.operators.ChangePoint.amocSplitBy]] (VERDICT r17 #7):
    * "WHERE in this window did the level shift", per window, refreshed
    * every batch the window receives events. Rides [[foldCells]]'
    * bounded cell-table state (the window bound makes the O(n)
    * prefix scan trivially safe); the final row per window is
    * bit-identical to the batch split on that window's rows
    * (spec-pinned). State TTL: see the note on [[mannKendallStream]]. */
  def amocStream(events: Dataset[MkEvent], windowMicros: Long,
                 maxCells: Int = 10000,
                 stateTtlMs: Option[Long] = None): Dataset[AmocReadout] = {
    implicit val outEnc = Encoders.product[AmocReadout]
    monitor(events, windowMicros, maxCells, stateTtlMs, "amocStream") { (wStart, cells) =>
      amocFromCells(cells).map(_.copy(wStart = wStart))
    }
  }

  /** One tumbling-window monitor: events fold into their window's cell
    * table ([[foldCells]]) and `readout` refreshes the window's row every
    * batch the window receives events (Update semantics). These monitors
    * key state by WINDOW START, so new keys open forever: with
    * `stateTtlMs` set, a window idle for that much processing time
    * releases its cell table (ADVICE r17 — bounded total state over the
    * stream's lifetime); see the TTL note on [[mannKendallStream]]. */
  private def monitor[O: Encoder](events: Dataset[MkEvent], windowMicros: Long,
      maxCells: Int, stateTtlMs: Option[Long], op: String)(
      readout: (Long, List[MkCell]) => Option[O]): Dataset[O] = {
    require(windowMicros > 0, "windowMicros must be positive")
    implicit val stEnc = Encoders.product[MkState]
    implicit val keyEnc = Encoders.scalaLong
    TwsOps.foldByKey(events, (e: MkEvent) => Math.floorDiv(e.tsMicros, windowMicros) * windowMicros,
        OutputMode.Update(), stateTtlMs) {
      (wStart: Long, it: Iterator[MkEvent], prev: Option[MkState]) =>
        val cells = foldCells(wStart, it, prev, maxCells, op)
        (Some(MkState(cells)), readout(wStart, cells).iterator)
    }
  }

  /** Fold this batch's events into the window's cell table, capped at
    * `maxCells` distinct (ts, value) cells with a loud failure. */
  private def foldCells(wStart: Long, it: Iterator[MkEvent], prev: Option[MkState],
                        maxCells: Int, op: String): List[MkCell] = {
    val m = scala.collection.mutable.HashMap.empty[(Long, Double), Long]
    prev.foreach(_.cells.foreach(c => m((c.ts, c.v)) = c.c))
    it.foreach { e =>
      val k = (e.tsMicros, e.value)
      m(k) = m.getOrElse(k, 0L) + 1L
      require(m.size <= maxCells,
        s"$op: window $wStart exceeds maxCells=$maxCells distinct " +
          "(ts, value) cells - shorten the window, bucket the metric or " +
          "time axis, or widen maxCells")
    }
    m.iterator.map { case ((t, v), c) => MkCell(t, v, c) }.toList
  }

  /** Per-tumbling-window Pettitt change-point monitor — the live twin
    * of [[graft.operators.ChangePoint.pettittBy]] with the window
    * start as the key, riding [[mannKendallStream]]'s bounded
    * cell-table state (under the unique-ts contract each cell is one
    * row). Emits the refreshed per-window readout every batch the
    * window receives events; the final row per window is bit-identical
    * to the batch test on that window's rows (spec-pinned). State TTL:
    * see the note on [[mannKendallStream]]. */
  def pettittStream(events: Dataset[MkEvent], windowMicros: Long,
                    maxCells: Int = 10000,
                    stateTtlMs: Option[Long] = None): Dataset[PtReadout] = {
    implicit val outEnc = Encoders.product[PtReadout]
    monitor(events, windowMicros, maxCells, stateTtlMs, "pettittStream") { (wStart, cells) =>
      pettittFromCells(cells).map(_.copy(wStart = wStart))
    }
  }

  /** Per-tumbling-window Mann–Kendall over a live series. `windowMicros`
    * sets the tumbling grain on the event-time axis.
    *
    * State TTL (ADVICE r17): these monitors key state by WINDOW START,
    * so without intervention total state grows one cell table per
    * window over the stream's lifetime. Pass
    * `stateTtlMs = Some(idleMs)` in a LIVE deployment: a window idle
    * for that much processing time releases its cell table when its
    * timer fires ([[TwsOps.FoldProcessor]]; spec-pinned by a live query
    * that reopens an expired window). The default is None (no timer)
    * because a processing-time timer changes the engine's trigger
    * semantics: Spark keeps constructing micro-batches with NO new data
    * just to fire pending timers, so
    * `processAllAvailable()`-style synchronous draining (sim-mode
    * tests, bounded replays) never observes an all-processed state —
    * with a TTL, pair the query with a real trigger interval and
    * awaitTermination, not processAllAvailable. */
  def mannKendallStream(events: Dataset[MkEvent], windowMicros: Long,
                        maxCells: Int = 10000,
                        stateTtlMs: Option[Long] = None): Dataset[MkReadout] = {
    implicit val outEnc = Encoders.product[MkReadout]
    monitor(events, windowMicros, maxCells, stateTtlMs, "mannKendallStream") { (wStart, cells) =>
      val (n, s, varS, z) = mkFromCells(cells)
      Some(MkReadout(wStart, n, s, varS, z))
    }
  }
}
