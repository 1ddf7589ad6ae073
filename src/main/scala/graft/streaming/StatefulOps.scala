package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ts.{Tick, TickStream}

/** Streaming lowering of the stateful operators (SURVEY §2.9): the same
  * per-key O(1)-state recurrences that [[graft.operators.Sequential]] runs
  * as a batch sorted scan, carried across micro-batches on
  * [[TwsOps.FoldProcessor]] (transformWithState, RocksDB state) — csp's
  * realtime mode with identical results to simulation mode (the
  * reference's core promise, `docs/wiki/concepts/Execution-Modes.md`).
  * [[emaStream]] alone keeps the older runtime, as the benchmark's
  * reference arm.
  *
  * Ordering contract: rows are processed in (ts, seq) order *within* each
  * micro-batch; across batches the source must deliver in order (csp's
  * realtime engine assumes the same of its push adapters — out-of-order
  * arrival there is governed by adapter-level policies like Kafka's
  * `adjust_out_of_order_time`, reference `csp/adapters/kafka.py:144`).
  */
object StatefulOps {

  case class TickRow(key: String, tsMicros: Long, seq: Long, value: Double)
  case class EmaOut(key: String, tsMicros: Long, seq: Long, value: Double, ema: Double)
  case class EmaState(num: Double, den: Double)
  case class GateState(open: Boolean, buffer: List[(Long, Long, Double)])
  case class GateOut(key: String, tsMicros: Long, seq: Long, values: Seq[Double])
  case class SampleOut(key: String, tsMicros: Long, seq: Long, value: Double)

  /** Streaming adjusted EMA (csp.stats.ema, stats.py:2910): per-key state
    * = (num, den) of the normalized recurrence — identical math to
    * Sequential.ema, so batch and streaming outputs match exactly.
    *
    * The one `flatMapGroupsWithState` operator left: the benchmark runs it
    * against [[TwsOps.emaTws]] on the same step as its reference arm. */
  def emaStream(ticks: Dataset[TickRow], alpha: Double): Dataset[EmaOut] = {
    val d = 1.0 - alpha
    implicit val outEnc = Encoders.product[EmaOut]
    implicit val stEnc = Encoders.product[EmaState]
    ticks.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[TickRow], state: GroupState[EmaState]) =>
          var s = state.getOption.getOrElse(EmaState(0.0, 0.0))
          val out = rows.toSeq.sortBy(r => (r.tsMicros, r.seq)).map { r =>
            s = EmaState(r.value + d * s.num, 1.0 + d * s.den)
            EmaOut(key, r.tsMicros, r.seq, r.value, s.num / s.den)
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming csp.gate (baselib.py:507-522): release ticks are encoded as
    * rows with seq < 0 and value = 1.0/0.0 (open/close); data rows buffer
    * while closed and flush as one list on opening. */
  def gateStream(ticks: Dataset[TickRow]): Dataset[GateOut] = {
    implicit val outEnc = Encoders.product[GateOut]
    implicit val stEnc = Encoders.product[GateState]
    TwsOps.foldByKey(ticks, (_: TickRow).key, OutputMode.Append()) {
      (key: String, rows: Iterator[TickRow], prev: Option[GateState]) =>
        var s = prev.getOrElse(GateState(open = false, Nil))
        val out = scala.collection.mutable.ArrayBuffer[GateOut]()
        rows.toSeq.sortBy(r => (r.tsMicros, math.abs(r.seq))).foreach { r =>
          if (r.seq < 0) { // release tick
            val opening = r.value > 0.5 && !s.open
            s = s.copy(open = r.value > 0.5)
            if (opening && s.buffer.nonEmpty) {
              out += GateOut(key, r.tsMicros, -r.seq, s.buffer.reverse.map(_._3))
              s = s.copy(buffer = Nil)
            }
          } else if (s.open) {
            out += GateOut(key, r.tsMicros, r.seq, Seq(r.value))
          } else {
            s = s.copy(buffer = (r.tsMicros, r.seq, r.value) :: s.buffer)
          }
        }
        (Some(s), out.iterator)
    }
  }

  /** Streaming as-of sample (csp.sample, baselib.py:290-297): reference
    * rows carry seq < 0; trigger rows emit the last valid ref value. State
    * = (last ref value, valid); refs sort before triggers on engine-time
    * ties (the scans' control-first rule — same-cycle visibility, as in
    * the batch AsOf kernel). */
  def sampleStream(ticks: Dataset[TickRow]): Dataset[SampleOut] = {
    implicit val outEnc = Encoders.product[SampleOut]
    scan(ticks, (_: TickRow).key, controlFirst, Seq(0.0, 0.0), (s: Seq[Double], r: TickRow) =>
      if (r.seq < 0) (Seq(r.value, 1.0), None)
      else (s, if (s(1) > 0.5) Some(s(0)) else None)
    )((r, v: Double) => SampleOut(r.key, r.tsMicros, r.seq, v))
  }

  case class CountOut(key: String, tsMicros: Long, seq: Long, count: Long)

  /** Streaming csp.remove_dynamic_key (builtin_functions.py:311): removal
    * rows (seq < 0, the gate/sample marker convention) tear the key's
    * sub-graph instance DOWN by clearing its state; the key's next
    * data tick starts a fresh instance — running count restarts at 1,
    * matching the batch (key, epoch) lowering in
    * [[graft.operators.Dynamic.removeKey]] exactly. Removal of an absent
    * key is a no-op (idempotent eviction). */
  def countStreamWithRemoval(ticks: Dataset[TickRow]): Dataset[CountOut] = {
    implicit val outEnc = Encoders.product[CountOut]
    implicit val stEnc = Encoders.scalaLong
    TwsOps.foldByKey(ticks, (_: TickRow).key, OutputMode.Append()) {
      (key: String, rows: Iterator[TickRow], prev: Option[Long]) =>
        // same-cycle rule as the batch lowering: a data tick at the
        // removal's timestamp still belongs to the old instance, so
        // data (seq >= 0) sorts BEFORE removal on engine-time ties
        var cnt = prev
        val out = scala.collection.mutable.ArrayBuffer[CountOut]()
        rows.toSeq.sortBy(r => (r.tsMicros, r.seq < 0, math.abs(r.seq))).foreach { r =>
          if (r.seq < 0) cnt = None
          else {
            val c = cnt.getOrElse(0L) + 1L
            cnt = Some(c)
            out += CountOut(key, r.tsMicros, r.seq, c)
          }
        }
        (cnt, out.iterator)
    }
  }

  // ---- generic per-key streaming scan + the §2.3 baselib twins -------------

  case class ScanState(s: Seq[Double])
  case class ValOut(key: String, tsMicros: Long, seq: Long, value: Double)

  /** Generic per-key streaming scan — the realtime twin of the batch
    * window / sorted-scan lowerings in [[graft.ts.TickStream]] /
    * [[graft.operators.Sequential]] / [[graft.operators.Stats]]. State is a
    * small numeric vector carried across micro-batches; `step` maps
    * (state, row) → (state', optional emission at the row's cycle), and
    * `emit` shapes an emission into the output row. Rows apply in `order`
    * within a micro-batch; across batches the source delivers in order. */
  private def scan[R, V, O: Encoder](ticks: Dataset[R], key: R => String, order: Ordering[R],
      init: Seq[Double], step: (Seq[Double], R) => (Seq[Double], Option[V]))(
      emit: (R, V) => O): Dataset[O] = {
    implicit val stEnc = Encoders.product[ScanState]
    TwsOps.foldByKey(ticks, key, OutputMode.Append()) {
      (_: String, rows: Iterator[R], prev: Option[ScanState]) =>
        var s = prev.fold(init)(_.s)
        val out = rows.toSeq.sorted(order).flatMap { r =>
          val (s2, o) = step(s, r)
          s = s2
          o.map(emit(r, _))
        }
        (Some(ScanState(s)), out.iterator)
    }
  }

  /** Tie rule of the single-input scans: control rows (seq < 0 — the
    * gate/sample/reset marker convention above) sort BEFORE data rows on
    * engine-time ties, the reset-first rule of csp's stats `reset`
    * parameter (reference `csp/stats.py:218-280`), and sample's
    * ref-first rule. Operators with a different tie rule (gate's
    * seq-ordered releases, remove-key's data-first) keep their dedicated
    * kernels above. */
  private val controlFirst: Ordering[TickRow] =
    Ordering.by((r: TickRow) => (r.tsMicros, r.seq >= 0, math.abs(r.seq)))

  /** Tie rule of the tagged-union scans (see the two-input section). */
  private val sourceFirst: Ordering[TickRow2] =
    Ordering.by((r: TickRow2) => (r.tsMicros, r.src, r.seq))

  private implicit val keyEnc: Encoder[String] = Encoders.STRING
  private implicit val valOutEnc: Encoder[ValOut] = Encoders.product[ValOut]
  private implicit val vecOutEnc: Encoder[VecOut] = Encoders.product[VecOut]

  /** One scan operator: initial state vector + step function, run by
    * [[scanStream]]. */
  final case class Step(init: Seq[Double],
                        fn: (Seq[Double], TickRow) => (Seq[Double], Option[Double]))

  /** The §2.3 baselib / §2.6 stats step library (csp references on each). */
  object Steps {
    /** csp.filter (`baselib.py:412-418`) — twin of `TickStream.where`. */
    def filter(p: Double => Boolean): Step = Step(Nil, (s, r) => (s, Some(r.value).filter(p)))

    /** csp.apply (`baselib.py:399-409`) — twin of `TickStream.mapValue`. */
    def map(f: Double => Double): Step = Step(Nil, (s, r) => (s, Some(f(r.value))))

    /** csp.drop_nans (`baselib.py:457-461`) — twin of `dropNans`. */
    val dropNans: Step = Step(Nil, (s, r) => (s, Some(r.value).filterNot(_.isNaN)))

    /** csp.times (`baselib.py:744-757`) — twin of `times` (epoch micros;
      * micros < 2^53 stay exact in the Double lane). */
    val times: Step = Step(Nil, (s, r) => (s, Some(r.tsMicros.toDouble)))

    /** csp.count (`baselib.py:317-321`) — twin of `runningCount`. */
    val count: Step = Step(Seq(0.0), (s, _) => { val c = s.head + 1; (Seq(c), Some(c)) })

    /** csp.accum (`baselib.py:615-622`) — twin of `accum`. */
    val accum: Step = Step(Seq(0.0), (s, r) => { val a = s.head + r.value; (Seq(a), Some(a)) })

    /** csp.diff (`baselib.py:355-367`) — twin of `diff`: ticks only once
      * the n-back value exists (null-lag batch rows don't tick). */
    def diff(n: Int): Step = Step(Nil, (s, r) => {
      val q = s :+ r.value
      if (q.length > n) (q.tail, Some(r.value - q.head)) else (q, None)
    })

    /** csp.delay by ticks (`baselib.py:324-352`) — twin of `delayTicks`:
      * the n-back value emitted at the current tick's time. */
    def delayTicks(n: Int): Step = Step(Nil, (s, r) => {
      val q = s :+ r.value
      if (q.length > n) (q.tail, Some(q.head)) else (q, None)
    })

    /** csp.firstN (`baselib.py:301-314`) — twin of `firstN`. */
    def firstN(n: Int): Step = Step(Seq(0.0), (s, r) => {
      val c = s.head + 1
      (Seq(c), if (c <= n) Some(r.value) else None)
    })

    /** csp.drop_dups exact (`baselib.py:424-434`) — twin of
      * `dropDups(None)`: previous-TICK comparison, NaN-aware. */
    val dropDups: Step = Step(Nil, (s, r) => {
      val dup = s.nonEmpty && (s.head == r.value || (s.head.isNaN && r.value.isNaN))
      (Seq(r.value), if (dup) None else Some(r.value))
    })

    /** csp._drop_dups_float (`baselib.py:435-442`) — twin of
      * `dropDups(eps)`: last-EMITTED comparison, re-emits at drift ≥ eps. */
    def dropDupsEps(eps: Double): Step = Step(Nil, (s, r) => {
      val emit = s.isEmpty || (r.value.isNaN != s.head.isNaN) ||
        (!r.value.isNaN && math.abs(r.value - s.head) >= eps)
      if (emit) (Seq(r.value), Some(r.value)) else (s, None)
    })

    /** Kahan-compensated running sum — twin of `Sequential.kahanCumsum`.
      * State = (sum, compensation); bit-identical to the batch scan
      * because both run the same fold in (ts, seq) order. */
    val kahan: Step = Step(Seq(0.0, 0.0), (s, r) => {
      val y = r.value - s(1)
      val tt = s(0) + y
      (Seq(tt, (tt - s(0)) - y), Some(tt))
    })

    /** csp stats `reset` over an expanding sum (`stats.py:218-280`) —
      * twin of `Stats.withReset` + expanding sum: reset markers (seq < 0)
      * clear the accumulation and win same-timestamp ties (the scan's
      * control-first sort = the batch epoch-partition's reset-first
      * ordering). */
    val resetSum: Step = Step(Seq(0.0), (s, r) => {
      if (r.seq < 0) (Seq(0.0), None)
      else { val a = s.head + r.value; (Seq(a), Some(a)) }
    })

    /** n-tick rolling mean with min_window — twin of
      * `Stats.ticks(x, n, minWindow).mean`. */
    def rollingMean(n: Int, minWindow: Int = 1): Step = Step(Nil, (s, r) => {
      val q = (s :+ r.value).takeRight(n)
      (q, if (q.length >= minWindow) Some(q.sum / q.length) else None)
    })

    /** n-tick rolling min — twin of `Stats.ticks(x, n).min`. */
    def rollingMin(n: Int): Step = Step(Nil, (s, r) => {
      val q = (s :+ r.value).takeRight(n)
      (q, Some(q.min))
    })

    /** n-tick rolling max — twin of `Stats.ticks(x, n).max`. */
    def rollingMax(n: Int): Step = Step(Nil, (s, r) => {
      val q = (s :+ r.value).takeRight(n)
      (q, Some(q.max))
    })

    /** Expanding sample variance (Welford) — twin of
      * `Stats.expanding(x).varSamp`; ticks from the second observation.
      * The update is Spark's `var_samp` chain operation for operation
      * (m2 += d·(d − d/n)), so the stream is bit-equal to the batch arm. */
    val expandingVar: Step = Step(Seq(0.0, 0.0, 0.0), (s, r) => {
      val n = s(0) + 1
      val d = r.value - s(1)
      val dn = d / n
      val m2 = s(2) + d * (d - dn)
      (Seq(n, s(1) + dn, m2), if (n >= 2) Some(m2 / (n - 1)) else None)
    })

    /** csp.value_at(x, index) tick history (`builtin_functions.py:105`) —
      * twin of `TickStream.valueAt(n)`: the value n ticks back, emitted
      * once n+1 ticks exist (the batch twin's warm-up rows are null). */
    def valueAt(n: Int): Step = Step(Nil, (s, r) => {
      val q = (s :+ r.value).takeRight(n + 1)
      (q, if (q.length > n) Some(q.head) else None)
    })

    /** csp.stats.ema_var (stats.py:3127) — twin of `Sequential.emaVar`
      * (adjust form, ignore_na=false): state = (num, num2, w, w2, valid),
      * debiased by W²/(W²−W₂) unless `bias`. */
    def emaVar(alpha: Double, bias: Boolean = false): Step = {
      val d = 1.0 - alpha
      Step(Seq(0.0, 0.0, 0.0, 0.0, 0.0), (s, r) => {
        val Seq(num, num2, w, w2, valid) = s
        val s2 =
          if (r.value.isNaN) Seq(d * num, d * num2, d * w, d * d * w2, valid)
          else Seq(r.value + d * num, r.value * r.value + d * num2,
            1.0 + d * w, 1.0 + d * d * w2, valid + 1)
        val out = if (s2(2) == 0.0) Double.NaN else {
          val mean = s2(0) / s2(2)
          val biased = s2(1) / s2(2) - mean * mean
          if (bias) biased
          else {
            val denom = s2(2) * s2(2) - s2(3)
            if (denom <= 0) Double.NaN else biased * s2(2) * s2(2) / denom
          }
        }
        (s2, Some(if (s2(4) >= 1) out else Double.NaN))
      })
    }

    /** csp.feedback (feedback.py:20-85) — twin of `Sequential.feedback`:
      * each tick reads the recurrence state derived from all PRIOR
      * outputs (next-cycle self-delivery), never its own. csp's only
      * graph-cycle construct is a one-slot state machine here too. */
    /** Running-peak drawdown v/peak − 1 — the per-tick lane of
      * [[graft.operators.Bars.maxDrawdown]] (state = the expanding max;
      * same doubles as the batch expanding-max arm, so parity is
      * bit-exact). */
    val drawdown: Step = Step(Seq(Double.NegativeInfinity), (s, r) => {
      val peak = math.max(s.head, r.value)
      (Seq(peak), Some(r.value / peak - 1.0))
    })

    def feedback(init: Double)(f: (Double, Double) => Double): Step =
      Step(Seq(init), (s, r) => {
        val out = f(s.head, r.value)
        (Seq(out), Some(out))
      })

    /** csp.stats.ema adjust form (AlphaEMA, statsimpl.h) — twin of
      * `Sequential.ema(alpha, adjust = true)` on non-NaN data:
      * num = v + (1−α)·num, w = 1 + (1−α)·w, ema = num/w. */
    def ema(alpha: Double): Step = {
      val d = 1.0 - alpha
      Step(Seq(0.0, 0.0), (s, r) => {
        val num = r.value + d * s(0)
        val w = 1.0 + d * s(1)
        (Seq(num, w), Some(num / w))
      })
    }

    /** Time-decay EMA with halflife (stats.py `_ema_halflife_adjusted`) —
      * twin of `Sequential.emaHalflife` (adjust form): weights decay by
      * exp(−ln2·Δt/halflife); state = (num, w, lastMicros, valid).
      * Micros < 2^53 stay exact in the Double state lane. */
    def emaHalflife(halflifeSec: Double): Step = {
      val lambda = math.log(2.0) / (halflifeSec * 1e6)
      Step(Seq(0.0, 0.0, Double.NaN, 0.0), (s, r) => {
        val Seq(num, w, lastT, valid) = s
        val s2 =
          if (r.value.isNaN) {
            if (lastT.isNaN) s
            else {
              val decay = math.exp(-lambda * (r.tsMicros - lastT))
              Seq(decay * num, decay * w, r.tsMicros.toDouble, valid)
            }
          } else {
            val decay = if (lastT.isNaN) 0.0 else math.exp(-lambda * (r.tsMicros - lastT))
            Seq(r.value + decay * num, 1.0 + decay * w, r.tsMicros.toDouble, valid + 1)
          }
        val out = if (s2(1) == 0.0) Double.NaN else s2(0) / s2(1)
        (s2, Some(if (s2(3) >= 1) out else Double.NaN))
      })
    }
  }

  // ---- two-input operators (tagged-union lowering) -------------------------
  // csp's cross-stream operators take TWO time series; Structured
  // Streaming's stateful operators take ONE grouped input, so the lowering
  // is a tagged union: src=0 is the REFERENCE input (the sampled x / the
  // filter flag / binop's left), src=1 the primary. The scan runner sorts
  // (tsMicros, src, seq) — reference rows first on engine-time ties, the
  // batch as-of kernel's same-cycle visibility rule (AsOf.join's
  // refs-before-trigger ordering). Duplicate-timestamp CYCLE alignment
  // (two same-ts ticks on one stream = two cycles) is the batch kernels'
  // domain; the streaming runner assumes in-order delivery with each row
  // its own cycle, as csp's realtime push adapters do.

  case class TickRow2(key: String, tsMicros: Long, seq: Long, value: Double, src: Int)

  /** One two-input scan operator: the same (init, step) shape as [[Step]]
    * over tagged rows, run by [[scanStream2]]. */
  final case class Step2(init: Seq[Double],
                         fn: (Seq[Double], TickRow2) => (Seq[Double], Option[Double]))

  /** The §2.5 cross-stream step library (csp references on each). */
  object Steps2 {
    /** csp.sample(trigger, x) (`baselib.py:290-297`) — twin of
      * `AsOf.sample`: src=0 carries x, src=1 the trigger; triggers before
      * x first ticks produce nothing. */
    val sample: Step2 = Step2(Seq(Double.NaN, 0.0), (s, r) =>
      if (r.src == 0) (Seq(r.value, 1.0), None)
      else if (s(1) > 0.5) (s, Some(s(0)))
      else (s, None))

    /** csp.filter(flag, x) cross-stream (`baselib.py:412-418`) — twin of
      * `AsOf.filterBy`: src=0 is the flag lane (1.0/0.0), src=1 the data;
      * data passes while the last flag is true, drops before any flag. */
    val filterBy: Step2 = Step2(Seq(0.0, 0.0), (s, r) =>
      if (r.src == 0) (Seq(r.value, 1.0), None)
      else if (s(1) > 0.5 && s(0) > 0.5) (s, Some(r.value))
      else (s, None))

    /** csp.merge (`baselib.py:370-376`) — twin of `TickStream.merge`:
      * left (src=0) wins PER ENGINE CYCLE, not per timestamp — same-ts
      * ticks on one input are separate cycles (within-ts ordinals), so a
      * right tick is dropped only when a left tick occupies the SAME
      * cycle ordinal at that timestamp. State = (lastTsMicros, leftCount,
      * rightCount) at the current timestamp; the runner's (ts, src, seq)
      * sort delivers a cycle's left rows before its right rows, so
      * rightOrdinal ≥ leftCount ⇔ the cycle has no left claimant.
      * (Micros < 2^53 stay exact in the Double state lane.) */
    val merge: Step2 = Step2(Seq(Double.NaN, 0.0, 0.0), (s, r) => {
      val t = r.tsMicros.toDouble
      val sameTs = !s(0).isNaN && s(0) == t
      val (lc, rc) = if (sameTs) (s(1), s(2)) else (0.0, 0.0)
      if (r.src == 0) (Seq(t, lc + 1, rc), Some(r.value))
      else (Seq(t, lc, rc + 1), if (rc >= lc) Some(r.value) else None)
    })

    /** Cross-stream binop (`csp/math.py:252-300`) — twin of `AsOf.binop`:
      * fire on any tick of either input once both are valid, applying `f`
      * to the last values. */
    def binop(f: (Double, Double) => Double): Step2 =
      Step2(Seq(Double.NaN, 0.0, Double.NaN, 0.0), (s, r) => {
        val s2 = if (r.src == 0) Seq(r.value, 1.0, s(2), s(3))
                 else Seq(s(0), s(1), r.value, 1.0)
        (s2, if (s2(1) > 0.5 && s2(3) > 0.5) Some(f(s2(0), s2(2))) else None)
      })

    /** Compose csp.sample with ANY single-input [[Step]]: the csp graph
      * `f(csp.sample(trigger, x))` as one stateful node. src=0 (x)
      * updates the snapshot silently; a trigger tick (src=1) feeds the
      * snapshot value through `inner` at the trigger's cycle — nothing
      * fires before x first ticks, exactly like `sample`. State =
      * (lastX, valid) ++ inner's state (variable length is fine — the
      * runtime persists the whole vector). This is how a multi-operator
      * csp pipeline (e.g. the flagship sample → rolling mean → ema) runs
      * on the streaming runtime without materializing the intermediate
      * stream: composition in the state machine, not the query graph. */
    def sampleThen(inner: Step): Step2 =
      Step2(Seq(Double.NaN, 0.0) ++ inner.init, (s, r) =>
        if (r.src == 0) (Seq(r.value, 1.0) ++ s.drop(2), None)
        else if (s(1) > 0.5) {
          val (st2, out) = inner.fn(s.drop(2), TickRow(r.key, r.tsMicros, r.seq, s(0)))
          (s.take(2) ++ st2, out)
        } else (s, None))
  }

  /** Tag + union two tick streams for the two-input scan runners. */
  def tagUnion(ref: Dataset[TickRow], primary: Dataset[TickRow]): Dataset[TickRow2] = {
    implicit val enc = Encoders.product[TickRow2]
    ref.withColumn("src", lit(0)).as[TickRow2]
      .unionByName(primary.withColumn("src", lit(1)).as[TickRow2])
  }

  case class VecOut(key: String, tsMicros: Long, seq: Long, values: Seq[Double])

  /** csp.struct_fromts (`baselib.py:684-701`) as an N-input scan — twin of
    * `AsOf.structFromTs`: srcs 0..n−1 are the snapshot inputs, src = n the
    * trigger; a trigger tick emits the last value of every input (NaN for
    * an input that has not ticked yet — the batch twin's null lanes),
    * run by [[structStream]]. */
  def structFromTsStep(n: Int): (Seq[Double], TickRow2) => (Seq[Double], Option[Seq[Double]]) =
    (s, r) =>
      if (r.src < n) (s.updated(r.src, r.value), None)
      else (s, Some(s))

  /** Run [[structFromTsStep]] over `nInputs` snapshot inputs. */
  def structStream(ticks: Dataset[TickRow2], nInputs: Int): Dataset[VecOut] =
    scan(ticks, (_: TickRow2).key, sourceFirst, Seq.fill(nInputs)(Double.NaN),
      structFromTsStep(nInputs))((r, v: Seq[Double]) => VecOut(r.key, r.tsMicros, r.seq, v))

  /** One vector-output scan operator — the [[Step]] shape with a list
    * emission, for the §2.9 tick-history surfaces (values_at / times_at)
    * whose result at each tick is the ring buffer itself, run by
    * [[scanVecStream]]. */
  final case class StepV(init: Seq[Double],
                         fn: (Seq[Double], TickRow) => (Seq[Double], Option[Seq[Double]]))

  /** Tick-history step library (reference `builtin_functions.py:105-269`;
    * ring buffer `TimeSeries.h`). */
  object StepsV {
    /** csp.values_at(x) — twin of `TickStream.valuesAt(n)`: the last ≤n
      * values, oldest→newest, emitted at every tick (shorter while the
      * buffer warms, exactly the batch ROWS-frame collect). */
    def valuesAt(n: Int): StepV = StepV(Nil, (s, r) => {
      val q = (s :+ r.value).takeRight(n)
      (q, Some(q))
    })

    /** csp.times_at(x) — twin of `timesAt(n)`: the buffer's tick times
      * (epoch µs; micros < 2^53 stay exact in the Double lane). */
    def timesAt(n: Int): StepV = StepV(Nil, (s, r) => {
      val q = (s :+ r.tsMicros.toDouble).takeRight(n)
      (q, Some(q))
    })
  }

  /** Run a [[StepV]] (control rows first on engine-time ties). */
  def scanVecStream(ticks: Dataset[TickRow], step: StepV): Dataset[VecOut] =
    scan(ticks, (_: TickRow).key, controlFirst, step.init, step.fn)(
      (r, v: Seq[Double]) => VecOut(r.key, r.tsMicros, r.seq, v))

  /** Run a [[Step2]] (reference rows first on engine-time ties). */
  def scanStream2(ticks: Dataset[TickRow2], step: Step2): Dataset[ValOut] =
    scan(ticks, (_: TickRow2).key, sourceFirst, step.init, step.fn)(
      (r, v: Double) => ValOut(r.key, r.tsMicros, r.seq, v))

  // ---- bivariate operators (two value lanes on one stream) -----------------

  case class PairRow(key: String, tsMicros: Long, seq: Long, x: Double, y: Double)

  /** One bivariate scan operator — the [[Step]] shape over (x, y) rows,
    * run by [[scanPairStream]]. */
  final case class StepP(init: Seq[Double],
                         fn: (Seq[Double], PairRow) => (Seq[Double], Option[Double]))

  object StepsP {
    /** csp.stats.ema_cov (stats.py:3127 bivariate surface) — twin of
      * `Sequential.emaCov` (adjust form, ignore_na=false): a pair is
      * valid only when BOTH lanes are; state = (nxy, nx, ny, w, w2,
      * valid), debiased by W²/(W²−W₂) unless `bias`. */
    def emaCov(alpha: Double, bias: Boolean = false): StepP = {
      val d = 1.0 - alpha
      StepP(Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0), (s, r) => {
        val Seq(nxy, nx, ny, w, w2, valid) = s
        val s2 =
          if (r.x.isNaN || r.y.isNaN)
            Seq(d * nxy, d * nx, d * ny, d * w, d * d * w2, valid)
          else Seq(r.x * r.y + d * nxy, r.x + d * nx, r.y + d * ny,
            1.0 + d * w, 1.0 + d * d * w2, valid + 1)
        val out = if (s2(3) == 0.0) Double.NaN else {
          val biasCov = s2(0) / s2(3) - (s2(1) / s2(3)) * (s2(2) / s2(3))
          if (bias) biasCov
          else {
            val denom = s2(3) * s2(3) - s2(4)
            if (denom <= 0) Double.NaN else biasCov * s2(3) * s2(3) / denom
          }
        }
        (s2, Some(if (s2(5) >= 1) out else Double.NaN))
      })
    }
  }

  /** Run a [[StepP]] in (ts, seq) order. */
  def scanPairStream(ticks: Dataset[PairRow], step: StepP): Dataset[ValOut] =
    scan(ticks, (_: PairRow).key, Ordering.by((r: PairRow) => (r.tsMicros, r.seq)),
      step.init, step.fn)((r, v: Double) => ValOut(r.key, r.tsMicros, r.seq, v))

  /** Run a [[Step]] (control rows first on engine-time ties). */
  def scanStream(ticks: Dataset[TickRow], step: Step): Dataset[ValOut] =
    scan(ticks, (_: TickRow).key, controlFirst, step.init, step.fn)(
      (r, v: Double) => ValOut(r.key, r.tsMicros, r.seq, v))

  /** Batch TickStream → typed rows for the streaming API (test bridge). */
  def toTickRows(x: TickStream): Dataset[TickRow] = {
    implicit val enc = Encoders.product[TickRow]
    x.df.select(col(Tick.KEY).as("key"), unix_micros(col(Tick.TS)).as("tsMicros"),
      col(Tick.SEQ).as("seq"), col(Tick.VALUE).cast("double").as("value")).as[TickRow]
  }
}
