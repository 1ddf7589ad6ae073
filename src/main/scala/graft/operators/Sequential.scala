package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ts.{Tick, TickStream}

/** Sequential per-key recurrences (the EMA family, Kahan running sums):
  * stats whose value depends on every prior tick through an O(1) state
  * update (reference C++ accumulators EMA:1473..HalflifeDebiasEMA:1804 in
  * `cpp/csp/cppnodes/statsimpl.h`). A window-function lowering would be
  * O(n·window); the right Spark shape is ONE repartition by key + in-
  * partition sort + a streaming scan: `repartition(key) →
  * sortWithinPartitions(key, ts, seq) → mapPartitions` with per-key state
  * reset on key change. Linear work, spill-safe (Spark's sort is
  * external), scales to any number of keys — this is exactly the batch
  * twin of the streaming lowering, one per-key fold on
  * `transformWithState` (`streaming.TwsOps.FoldProcessor`, SURVEY §2.9).
  */
object Sequential {
  import Tick._

  /** Run a per-key ordered scan appending `outFields`. `step` returns the
    * appended values for each row; `init` produces fresh state per key. */
  def perKeyScan[S](x: TickStream, outFields: Seq[StructField])(
      init: () => S)(step: (S, Row) => Seq[Any]): TickStream = {
    val df = x.df
    val outSchema = StructType(df.schema.fields ++ outFields)
    val keyIdx = df.schema.fieldIndex(KEY)
    val sorted = df.repartition(col(KEY)).sortWithinPartitions(col(KEY), col(TS), col(SEQ))
    val out = sorted.mapPartitions { it =>
      var curKey: String = null
      var state: S = null.asInstanceOf[S]
      it.map { row =>
        val k = row.getString(keyIdx)
        if (k != curKey) { curKey = k; state = init() }
        Row.fromSeq(row.toSeq ++ step(state, row))
      }
    }(Encoders.row(outSchema))
    TickStream(out)
  }

  private def valueIdx(x: TickStream) = x.df.schema.fieldIndex(VALUE)
  private def tsIdx(x: TickStream) = x.df.schema.fieldIndex(TS)

  /** STATEFUL exprtk (reference `baselib.py:625-673` `state_vars`;
    * `test_baselib.py:354` `csp.exprtk("FOO := FOO + x", {"x": x},
    * {"FOO": 100})`): expressions with per-key state variables updated on
    * every tick. The stateless surface is `TickStream.evalExpr` (Catalyst
    * compiles the string); state turns each tick into an O(1) recurrence,
    * so the lowering is the [[perKeyScan]] bridge — but the expression
    * compiler is STILL Catalyst: each statement is resolved once through
    * the real analyzer (full function registry) and bound to the row
    * schema, then interpreted per row with the state vars appended as
    * extra columns. No hand-rolled parser, full SQL function surface.
    *
    * `expressionStr` is `;`-separated statements: `VAR := <sql-expr>`
    * assigns a declared state variable (visible to later statements and
    * the next tick); a bare expression (or the last assignment) is the
    * tick's output. Statement syntax is Spark SQL, the library's
    * documented exprtk dialect (SURVEY §2.10). State variables are
    * doubles, per key, initialized from `stateVars` at key start. */
  def evalExprStateful(x: TickStream, expressionStr: String,
                       stateVars: Seq[(String, Double)],
                       as: String = "expr"): TickStream = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, GenericInternalRow}

    val Assign = "^([A-Za-z_][A-Za-z0-9_]*)\\s*:=\\s*(.+)$".r
    val stmts: Seq[(Option[String], String)] = expressionStr.split(";").toSeq
      .map(_.trim).filter(_.nonEmpty).map {
        case Assign(name, rhs) => (Some(name), rhs)
        case s => (None, s)
      }
    require(stmts.nonEmpty, "exprtk expression is empty")

    val spark = x.df.sparkSession
    val stateNames = stateVars.map(_._1)
    val baseSchema = x.df.schema
    val evalSchema = StructType(baseSchema.fields ++
      stateNames.map(n => StructField(n, DoubleType)))
    val emptyDF = spark.createDataFrame(
      new java.util.ArrayList[Row](), evalSchema)
    val attrs = emptyDF.queryExecution.analyzed.output
    val bound: Seq[(Int, Expression)] = stmts.map { case (target, rhs) =>
      val analyzed = emptyDF.select(expr(rhs).cast(DoubleType))
        .queryExecution.analyzed.expressions.head
      val stripped = analyzed match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case e => e
      }
      val idx = target.map { n =>
        val i = stateNames.indexOf(n)
        require(i >= 0, s"assignment to undeclared state variable '$n' " +
          s"(declare it in stateVars, csp: the state_vars dict)")
        i
      }.getOrElse(-1)
      (idx, BindReferences.bindReference(stripped, attrs, allowFailures = false))
    }

    val nBase = baseSchema.length
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(baseSchema)
    perKeyScan(x, Seq(StructField(as, DoubleType)))(
      () => stateVars.map(_._2).toArray) { (st, row) =>
      val ir = toCatalyst(row).asInstanceOf[InternalRow]
      val full = new GenericInternalRow(nBase + st.length)
      var i = 0
      while (i < nBase) { full.update(i, ir.get(i, baseSchema(i).dataType)); i += 1 }
      var j = 0
      while (j < st.length) { full.update(nBase + j, st(j)); j += 1 }
      var out: Any = null
      bound.foreach { case (idx, e) =>
        out = e.eval(full)
        if (idx >= 0) {
          // null (e.g. a null input column) poisons the var to NaN — a
          // csp state var is always a double, never absent
          val d = if (out == null) Double.NaN else out.asInstanceOf[Double]
          st(idx) = d
          full.update(nBase + idx, d)
        }
      }
      Seq(out)
    }
  }

  final private class EmaState {
    var num = 0.0; var num2 = 0.0; var w = 0.0; var w2 = 0.0
    var lastMicros = Long.MinValue
    var unadjusted = Double.NaN
    var valid = 0L; var nanGap = 0
    def gate(minDataPoints: Int, out: Double): Seq[Any] =
      Seq(if (valid >= math.max(1, minDataPoints)) out else Double.NaN)
  }

  /** csp.stats.ema (stats.py:2910; C++ EMA:1473 / AdjustedEMA:1542).
    * adjust=true: y = Σ(1−α)^(t−i)·x_i / Σ(1−α)^(t−i) (pandas-equivalent);
    * adjust=false: y_t = (1−α)·y_{t−1} + α·x_t.
    *
    * NaN handling (the common csp `_setup` surface, stats.py:218-280):
    * ignoreNa=false (default, = pandas ignore_na=False) ages weights by
    * ABSOLUTE position — a NaN tick contributes no value but still decays
    * what came before; ignoreNa=true skips NaN ticks entirely (relative
    * positions). Either way the output at a NaN tick is the carried
    * state, never NaN-poisoned. minDataPoints: NaN until that many
    * non-NaN observations arrived. */
  def ema(x: TickStream, alpha: Double, adjust: Boolean = true,
          as: String = "ema", ignoreNa: Boolean = false,
          minDataPoints: Int = 0): TickStream = {
    val vi = valueIdx(x)
    val d = 1.0 - alpha
    perKeyScan(x, Seq(StructField(as, DoubleType)))(() => new EmaState) { (s, row) =>
      val v = row.getDouble(vi)
      if (v.isNaN) {
        if (!ignoreNa) { s.num = d * s.num; s.w = d * s.w; s.nanGap += 1 }
      } else if (adjust) {
        s.num = v + d * s.num; s.w = 1.0 + d * s.w
        s.valid += 1; s.nanGap = 0
      } else {
        // unadjusted with an aged gap: y = (d^(k+1)·y + α·x)/(d^(k+1) + α)
        // — the k = 0 path keeps the exact historical arithmetic
        s.unadjusted =
          if (s.unadjusted.isNaN) v
          else if (s.nanGap == 0) d * s.unadjusted + alpha * v
          else {
            val dk = math.pow(d, s.nanGap + 1.0)
            (dk * s.unadjusted + alpha * v) / (dk + alpha)
          }
        s.valid += 1; s.nanGap = 0
      }
      if (adjust) s.gate(minDataPoints, if (s.w == 0.0) Double.NaN else s.num / s.w)
      else s.gate(minDataPoints, s.unadjusted)
    }
  }

  /** csp ema parameterizations (`_validate_ema` stats.py:324-355):
    * span/com are alpha reparameterizations. */
  def emaSpan(x: TickStream, span: Double, adjust: Boolean = true,
              as: String = "ema"): TickStream =
    ema(x, 2.0 / (span + 1.0), adjust, as)
  def emaCom(x: TickStream, com: Double, adjust: Boolean = true,
             as: String = "ema"): TickStream =
    ema(x, 1.0 / (1.0 + com), adjust, as)

  /** Time-decay EMA with halflife (HalflifeEMA:1723 /
    * `_ema_halflife_adjusted` stats.py): weight of a tick decays by
    * exp(−ln2·Δt/halflife). adjust=true normalizes by the decayed weight
    * sum; adjust=false is the plain recursive form
    * y_t = decay·y_{t−1} + (1−decay)·x_t (`_ema_halflife`). */
  def emaHalflife(x: TickStream, halflifeSec: Double, adjust: Boolean = true,
                  as: String = "ema", ignoreNa: Boolean = false,
                  minDataPoints: Int = 0): TickStream = {
    val vi = valueIdx(x); val ti = tsIdx(x)
    val lambda = math.log(2.0) / (halflifeSec * 1e6) // per microsecond
    perKeyScan(x, Seq(StructField(as, DoubleType)))(() => new EmaState) { (s, row) =>
      val v = row.getDouble(vi)
      val t = row.getTimestamp(ti).getTime * 1000L +
        (row.getTimestamp(ti).getNanos / 1000) % 1000
      if (v.isNaN) {
        // time decay is absolute by nature: with ignoreNa=false the NaN
        // tick advances the clock (ages history); with ignoreNa=true it is
        // invisible — the NEXT valid tick decays over the full gap anyway
        if (!ignoreNa && s.lastMicros != Long.MinValue) {
          val decay = math.exp(-lambda * (t - s.lastMicros))
          s.num = decay * s.num; s.w = decay * s.w
          s.lastMicros = t
        }
      } else {
        val decay = if (s.lastMicros == Long.MinValue) 0.0 else math.exp(-lambda * (t - s.lastMicros))
        s.lastMicros = t
        if (adjust) { s.num = v + decay * s.num; s.w = 1.0 + decay * s.w }
        else s.unadjusted = if (s.unadjusted.isNaN) v else decay * s.unadjusted + (1.0 - decay) * v
        s.valid += 1
      }
      if (adjust) s.gate(minDataPoints, if (s.w == 0.0) Double.NaN else s.num / s.w)
      else s.gate(minDataPoints, s.unadjusted)
    }
  }

  /** EWM variance (AlphaDebiasEMA:1620 / ema_var stats.py:3127): weighted
    * E[x], E[x²] accumulation; bias=false (the reference default) applies
    * the debias factor W²/(W²−W₂), bias=true returns the biased moment —
    * the full bias matrix from the reference's test_stats.py. */
  def emaVar(x: TickStream, alpha: Double, bias: Boolean = false,
             as: String = "ema_var", ignoreNa: Boolean = false,
             minDataPoints: Int = 0): TickStream = {
    val vi = valueIdx(x)
    val d = 1.0 - alpha
    perKeyScan(x, Seq(StructField(as, DoubleType)))(() => new EmaState) { (s, row) =>
      val v = row.getDouble(vi)
      if (v.isNaN) {
        if (!ignoreNa) {
          s.num = d * s.num; s.num2 = d * s.num2
          s.w = d * s.w; s.w2 = d * d * s.w2
        }
      } else {
        s.num = v + d * s.num; s.num2 = v * v + d * s.num2
        s.w = 1.0 + d * s.w; s.w2 = 1.0 + d * d * s.w2
        s.valid += 1
      }
      val out = if (s.w == 0.0) Double.NaN else {
        val mean = s.num / s.w
        val biased = s.num2 / s.w - mean * mean
        if (bias) biased
        else {
          val denom = s.w * s.w - s.w2
          if (denom <= 0) Double.NaN else biased * s.w * s.w / denom
        }
      }
      s.gate(minDataPoints, out)
    }
  }

  def emaStd(x: TickStream, alpha: Double, bias: Boolean = false,
             as: String = "ema_std"): TickStream = {
    val withVar = emaVar(x, alpha, bias, "__ev")
    TickStream(withVar.df.withColumn(as, sqrt(col("__ev"))).drop("__ev"))
  }

  /** csp ema `horizon` parameter (stats.py:2910, `_validate_ema`:324-355):
    * ticks older than `horizon` drop out entirely — the EMA becomes a
    * finite-window computation (and must be the ADJUSTED form, for weight
    * normalization; the reference raises on adjust=false, stats.py:328).
    * Being a window stat, it lowers to a window FRAME + in-frame weighted
    * fold, not a scan — weights (1−α)^age over the last `horizon` ticks.
    *
    * ignore_na matches the reference/pandas: false (default) ages a value
    * by ABSOLUTE position (a NaN still ages its neighbors), true by
    * relative position among non-NaN values only.
    */
  def emaHorizon(x: TickStream, alpha: Double, horizon: Int,
                 ignoreNa: Boolean = false, as: String = "ema"): TickStream = {
    require(horizon >= 1, "horizon must be >= 1")
    val d = 1.0 - alpha
    val frame = x.w.rowsBetween(-(horizon - 1), 0)
    val lst = collect_list(col(VALUE)).over(frame)
    val n = size(lst)
    // (value, absolute index) pairs for the non-NaN elements
    val pairs = filter(
      zip_with(lst, sequence(lit(0), n - 1), (v, i) => struct(v.as("v"), i.as("i"))),
      p => !isnan(p("v")))
    val weighted =
      if (ignoreNa) // relative age among the non-NaN survivors
        transform(pairs, (p, j) => struct(p("v").as("v"),
          pow(lit(d), (size(pairs) - 1 - j).cast("double")).as("w")))
      else // absolute age: NaNs still age their neighbors
        transform(pairs, p => struct(p("v").as("v"),
          pow(lit(d), (n - 1 - p("i")).cast("double")).as("w")))
    val num = aggregate(weighted, lit(0.0), (acc, p) => acc + p("v") * p("w"))
    val den = aggregate(weighted, lit(0.0), (acc, p) => acc + p("w"))
    TickStream(x.df.withColumn(as, when(den > 0, num / den).otherwise(lit(Double.NaN))))
  }

  /** Time-decay EWM variance (HalflifeDebiasEMA:1804): moments decay by
    * exp(−ln2·Δt/halflife) — the weight-square sum by decay² — with the
    * same W²/(W²−W₂) debias as the alpha form. Equal spacing degenerates
    * to emaVar with α = 1 − decay (law in the spec). */
  def emaVarHalflife(x: TickStream, halflifeSec: Double, bias: Boolean = false,
                     as: String = "ema_var"): TickStream = {
    val vi = valueIdx(x); val ti = tsIdx(x)
    val lambda = math.log(2.0) / (halflifeSec * 1e6)
    perKeyScan(x, Seq(StructField(as, DoubleType)))(() => new EmaState) { (s, row) =>
      val v = row.getDouble(vi)
      val t = row.getTimestamp(ti).getTime * 1000L +
        (row.getTimestamp(ti).getNanos / 1000) % 1000
      val decay = if (s.lastMicros == Long.MinValue) 0.0 else math.exp(-lambda * (t - s.lastMicros))
      s.lastMicros = t
      s.num = v + decay * s.num; s.num2 = v * v + decay * s.num2
      s.w = 1.0 + decay * s.w; s.w2 = 1.0 + decay * decay * s.w2
      val mean = s.num / s.w
      val biased = s.num2 / s.w - mean * mean
      if (bias) Seq(biased)
      else {
        val denom = s.w * s.w - s.w2
        Seq(if (denom <= 0) Double.NaN else biased * s.w * s.w / denom)
      }
    }
  }

  final private class EmaCovState {
    var nxy = 0.0; var nx = 0.0; var ny = 0.0; var w = 0.0; var w2 = 0.0
    var valid = 0L
  }

  /** csp.stats.ema_cov (stats.py:3009): exponential moving covariance of x
    * (the value column) and a second column y, composed exactly as the
    * reference composes it — ema(x·y) − ema(x)·ema(y), all adjusted EMAs —
    * with the AlphaDebiasEMA:1620 factor W²/(W² − W₂) unless bias=true. */
  def emaCov(x: TickStream, yCol: String, alpha: Double, bias: Boolean = false,
             as: String = "ema_cov", ignoreNa: Boolean = false,
             minDataPoints: Int = 0): TickStream = {
    val vi = valueIdx(x)
    val yi = x.df.schema.fieldIndex(yCol)
    val d = 1.0 - alpha
    perKeyScan(x, Seq(StructField(as, DoubleType)))(() => new EmaCovState) { (s, row) =>
      val xv = row.getDouble(vi)
      val yv = row.getDouble(yi)
      if (xv.isNaN || yv.isNaN) { // a pair is valid only when BOTH are
        if (!ignoreNa) {
          s.nxy = d * s.nxy; s.nx = d * s.nx; s.ny = d * s.ny
          s.w = d * s.w; s.w2 = d * d * s.w2
        }
      } else {
        s.nxy = xv * yv + d * s.nxy; s.nx = xv + d * s.nx; s.ny = yv + d * s.ny
        s.w = 1.0 + d * s.w; s.w2 = 1.0 + d * d * s.w2
        s.valid += 1
      }
      val out = if (s.w == 0.0) Double.NaN else {
        val biasCov = s.nxy / s.w - (s.nx / s.w) * (s.ny / s.w)
        if (bias) biasCov
        else {
          val denom = s.w * s.w - s.w2
          if (denom <= 0) Double.NaN else biasCov * s.w * s.w / denom
        }
      }
      Seq(if (s.valid >= math.max(1, minDataPoints)) out else Double.NaN)
    }
  }

  /** csp.feedback (reference `csp/impl/wiring/feedback.py:20-85`): the
    * bound value is delivered on the NEXT engine cycle at the same or a
    * later timestamp — i.e. each tick may read state derived from all
    * prior ticks' outputs, never its own. In batch that is precisely a
    * per-key ordered scan whose state is the previous cycle's output:
    * `prev` is passed to `step`, and `step`'s result becomes the next
    * `prev`. (Streaming twin: `StatefulOps.Steps.feedback`, its state
    * carried by the per-key fold.) This closes csp's only graph-cycle construct with no
    * DAG cycle in Spark (SURVEY §7.5 hard-part 1).
    */
  def feedback(x: TickStream, as: String = "fb", init: Double = Double.NaN)(
      step: (Double, Row) => Double): TickStream = {
    final class FbState { var prev: Double = init }
    perKeyScan(x, Seq(StructField(as, DoubleType)))(() => new FbState) { (s, row) =>
      val out = step(s.prev, row)
      s.prev = out
      Seq(out)
    }
  }

  final private class KahanState { var sum = 0.0; var c = 0.0 }

  /** Kahan-compensated running sum (KahanSum:94): fp-stable cumulative sum
    * for long streams where naive summation drifts. */
  def kahanCumsum(x: TickStream, as: String = "ksum"): TickStream = {
    val vi = valueIdx(x)
    perKeyScan(x, Seq(StructField(as, DoubleType)))(() => new KahanState) { (s, row) =>
      val y = row.getDouble(vi) - s.c
      val t = s.sum + y
      s.c = (t - s.sum) - y
      s.sum = t
      Seq(s.sum)
    }
  }
}
