package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

import graft.streaming.StatefulOps.{EmaOut, EmaState, TickRow}

/** transformWithState lowering (Spark 4 StatefulProcessor + RocksDB state
  * store) — the arbitrary-stateful-operator API the engine standardizes
  * on for realtime (SURVEY §2.9 "TWS"): typed per-key state handles
  * (value/list/map), timers for csp-alarm semantics
  * (`csp.schedule_alarm`, reference `builtin_functions.py:286-303`), and
  * idle-state timers for buffering policies. Two runtime classes carry
  * every streaming twin's state: [[FoldProcessor]] (one `ValueState` per
  * key) and its append-only sibling [[AppendProcessor]] (one
  * `ListState` per key). [[EmaProcessor]] stays beside them as the
  * benchmark's transformWithState arm.
  */
object TwsOps {

  /** Adjusted EMA as a StatefulProcessor: ValueState carries (num, den)
    * across micro-batches — same math as Sequential.ema (batch twin). */
  class EmaProcessor(alpha: Double) extends StatefulProcessor[String, TickRow, EmaOut] {
    @transient private var state: ValueState[EmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[EmaState]("ema", Encoders.product[EmaState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[TickRow],
                                 timerValues: TimerValues): Iterator[EmaOut] = {
      val d = 1.0 - alpha
      var s = if (state.exists()) state.get() else EmaState(0.0, 0.0)
      val out = rows.toSeq.sortBy(r => (r.tsMicros, r.seq)).map { r =>
        s = EmaState(r.value + d * s.num, 1.0 + d * s.den)
        EmaOut(key, r.tsMicros, r.seq, r.value, s.num / s.den)
      }
      state.update(s)
      out.iterator
    }
  }

  def emaTws(ticks: Dataset[TickRow], alpha: Double): Dataset[EmaOut] = {
    implicit val outEnc = Encoders.product[EmaOut]
    ticks.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new EmaProcessor(alpha), TimeMode.None(), OutputMode.Append())
  }

  /** The one stateful streaming runtime: a per-key fold on
    * transformWithState with its state in one typed `ValueState` in the
    * RocksDB store. `fold(key, rows, state)` sees one micro-batch's rows
    * for the key and the state the previous batch left (None before the
    * key's first batch, or after a clear), and returns the next state
    * with the rows to emit; a None state clears the key. A fold that hands
    * back the very `Option` it was given (`eq`) writes nothing, so a key
    * with no state is never cleared, and a fold pays a state write only
    * when its state changes. Every streaming twin except the
    * [[AppendProcessor]] twins, the [[EmaProcessor]] benchmark arm and
    * [[TimeoutProcessor]]'s alarms runs on it.
    *
    * `idleTtlMs` arms a processing-time timer per key, re-armed on every
    * batch the key receives rows; a key idle for that long has its state
    * cleared when the timer fires (nothing is emitted). Without it the
    * query runs in `TimeMode.None` and state lives until the fold clears
    * it. */
  class FoldProcessor[K, I, S, O](stateEnc: Encoder[S], idleTtlMs: Option[Long],
                                  fold: (K, Iterator[I], Option[S]) => (Option[S], Iterator[O]))
      extends StatefulProcessor[K, I, O] {
    @transient private var state: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("fold", stateEnc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
                                 timerValues: TimerValues): Iterator[O] = {
      val prev = if (state.exists()) Some(state.get()) else None
      val (next, out) = fold(key, rows, prev)
      if (!(next eq prev)) next match {
        case Some(s) => state.update(s)
        case None => state.clear()
      }
      idleTtlMs.foreach { ttl =>
        getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
        if (next.isDefined) getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + ttl)
      }
      out
    }

    override def handleExpiredTimer(key: K, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
      state.clear()
      Iterator.empty
    }
  }

  /** Group `ds` by `key` and run `fold` per key on [[FoldProcessor]]. */
  def foldByKey[K: Encoder, I, S: Encoder, O: Encoder](ds: Dataset[I], key: I => K,
      outputMode: OutputMode, idleTtlMs: Option[Long] = None)(
      fold: (K, Iterator[I], Option[S]) => (Option[S], Iterator[O])): Dataset[O] = {
    require(idleTtlMs.forall(_ > 0), s"idle TTL must be positive, got $idleTtlMs")
    ds.groupByKey(key).transformWithState(
      new FoldProcessor[K, I, S, O](implicitly[Encoder[S]], idleTtlMs, fold),
      if (idleTtlMs.isDefined) TimeMode.ProcessingTime() else TimeMode.None(), outputMode)
  }

  /** The append-only sibling of [[FoldProcessor]], for twins whose state
    * is a growing set of members (LSH buckets, kept representatives):
    * one typed `ListState` per key in the RocksDB store. `fold(key, rows,
    * members)` sees one micro-batch's rows for the key and every member
    * stored so far (none before the key's first batch), and returns the
    * members to append with the rows to emit; it reads the members before
    * it returns. A batch costs one append of its new members, where a
    * `ValueState` fold would rewrite the whole list; members are never
    * rewritten or removed. */
  class AppendProcessor[K, I, M, O](memberEnc: Encoder[M],
                                    fold: (K, Iterator[I], Iterator[M]) => (Iterable[M], Iterator[O]))
      extends StatefulProcessor[K, I, O] {
    @transient private var members: ListState[M] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[M]("members", memberEnc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
                                 timerValues: TimerValues): Iterator[O] = {
      val (fresh, out) = fold(key, rows, members.get())
      if (fresh.nonEmpty) members.appendList(fresh.toArray(memberEnc.clsTag))
      out
    }
  }

  /** Group `ds` by `key` and run `fold` per key on [[AppendProcessor]];
    * the output is append-mode. */
  def appendByKey[K: Encoder, I, M: Encoder, O: Encoder](ds: Dataset[I], key: I => K)(
      fold: (K, Iterator[I], Iterator[M]) => (Iterable[M], Iterator[O])): Dataset[O] =
    ds.groupByKey(key).transformWithState(
      new AppendProcessor[K, I, M, O](implicitly[Encoder[M]], fold), TimeMode.None(),
      OutputMode.Append())

  case class Heartbeat(key: String, deadlineMs: Long)
  case class TickEvt(key: String, eventTime: java.sql.Timestamp, seq: Long, value: Double)

  /** csp-alarm demo: emit a heartbeat-timeout event when a key sees no
    * tick for `timeoutMs` of EVENT time. Each tick cancels the pending
    * alarm and schedules a new one (csp.schedule_alarm / cancel_alarm,
    * reference `builtin_functions.py:286-303`); event-time timers fire as
    * the watermark passes the deadline — deterministic in replay, exactly
    * like csp alarms in simulation mode. */
  class TimeoutProcessor(timeoutMs: Long) extends StatefulProcessor[String, TickEvt, Heartbeat] {
    @transient private var lastTimer: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastTimer = getHandle.getValueState[Long]("deadline", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[TickEvt],
                                 timerValues: TimerValues): Iterator[Heartbeat] = {
      val maxTs = rows.map(_.eventTime.getTime).max
      if (lastTimer.exists()) getHandle.deleteTimer(lastTimer.get()) // cancel_alarm
      val deadline = maxTs + timeoutMs
      getHandle.registerTimer(deadline) // schedule_alarm
      lastTimer.update(deadline)
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Heartbeat] = {
      lastTimer.clear()
      Iterator.single(Heartbeat(key, expiredTimerInfo.getExpiryTimeInMs()))
    }
  }

  def heartbeatTimeout(ticks: Dataset[TickEvt], timeoutMs: Long): Dataset[Heartbeat] = {
    implicit val outEnc = Encoders.product[Heartbeat]
    implicit val inEnc = Encoders.product[TickEvt]
    ticks.withWatermark("eventTime", "0 seconds").as[TickEvt]
      .groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new TimeoutProcessor(timeoutMs), TimeMode.EventTime(),
        OutputMode.Append())
  }
}
