package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A csp time-series edge re-expressed as a Spark DataFrame of ticks.
  *
  * All operators are declarative DataFrame transforms so Catalyst plans
  * them (pushdown, pruning, whole-stage codegen) and every per-stream
  * operator partitions by `key` — no global sorts, no driver loops; the
  * same plan that passes on 60k rows runs on 1000 executors.
  *
  * Operator semantics follow the reference baselib
  * (`/root/reference/csp/baselib.py`); citations inline.
  */
final case class TickStream(df: DataFrame) {
  import Tick._

  /** Canonical per-key order: engine time then cycle (SURVEY §1.4.1). */
  def w: WindowSpec = Window.partitionBy(KEY).orderBy(TS, SEQ)
  def wRows(n: Int): WindowSpec = w.rowsBetween(-(n - 1), 0)
  def wAll: WindowSpec = w.rowsBetween(Window.unboundedPreceding, 0)

  def payloadCols: Seq[String] = df.columns.filterNot(meta.contains).toSeq

  // ---- projections / filters (baselib §2.3) -------------------------------

  /** csp.filter(flag, x) same-stream case (`baselib.py:412-418`). */
  def where(p: Column): TickStream = TickStream(df.filter(p))

  /** csp.apply (`baselib.py:399-409`): per-tick scalar transform. Prefer
    * Column expressions — codegen'd, no UDF. */
  def mapValue(f: Column => Column): TickStream =
    TickStream(df.withColumn(VALUE, f(col(VALUE))))

  /** csp.cast_int_to_float (`baselib.py:392-396`). */
  def castDouble: TickStream = mapValue(_.cast(DoubleType))

  /** csp.count (`baselib.py:317-321`): running tick count. */
  def runningCount(as: String = "count"): TickStream =
    TickStream(df.withColumn(as, count(lit(1)).over(wAll)))

  /** csp.accum (`baselib.py:615-622`): running sum. */
  def accum(as: String = "accum"): TickStream =
    TickStream(df.withColumn(as, sum(col(VALUE)).over(wAll)))

  /** csp.diff(x, lag) (`baselib.py:355-367`): x − x n-ticks ago. */
  def diff(n: Int = 1, as: String = "diff"): TickStream =
    TickStream(df.withColumn(as, col(VALUE) - lag(VALUE, n).over(w)))

  /** csp.delay by tick count (`baselib.py:324-352`): value of n ticks ago
    * emitted at the current tick's time; first n ticks drop. */
  def delayTicks(n: Int): TickStream = {
    val lagged = lag(VALUE, n).over(w)
    TickStream(df.withColumn(VALUE, lagged).filter(col(VALUE).isNotNull))
  }

  /** csp.delay by time (`baselib.py:324-352`): shift tick times by d. */
  def delayTime(seconds: Long): TickStream =
    TickStream(df.withColumn(TS, col(TS) + expr(s"interval $seconds seconds")))

  /** csp.drop_dups (`baselib.py:424-454`): drop consecutive duplicate
    * values; NaN-aware (consecutive NaNs are dups), optional float eps.
    * Exact equality compares against the previous TICK (identical to the
    * reference's last-emitted state for equality chains) — a pure window
    * lag. The eps form is NOT: `_drop_dups_float` (baselib.py:435-442)
    * compares against the last EMITTED value and emits at `>= eps`, so a
    * slow drift re-emits once the cumulative move reaches eps — that
    * state crosses dropped ticks and needs the per-key scan. */
  def dropDups(eps: Option[Double] = None): TickStream = eps match {
    case Some(e) => dropDupsEps(e)
    case None =>
      val prev = lag(VALUE, 1).over(w)
      val cur = col(VALUE)
      val same =
        if (df.schema(VALUE).dataType == DoubleType || df.schema(VALUE).dataType == FloatType)
          (cur === prev) || (isnan(cur) && isnan(prev))
        else cur === prev
      TickStream(df.withColumn("__dup", coalesce(same, lit(false)))
        .filter(!col("__dup")).drop("__dup"))
  }

  private def dropDupsEps(eps: Double): TickStream = {
    val vi = df.schema.fieldIndex(VALUE)
    val ki = df.schema.fieldIndex(KEY)
    val sorted = df.repartition(col(KEY)).sortWithinPartitions(col(KEY), col(TS), col(SEQ))
    val out = sorted.mapPartitions { it =>
      var curKey: String = null
      var prev = Double.NaN
      var has = false
      it.filter { row =>
        val k = row.getString(ki)
        if (k != curKey) { curKey = k; has = false }
        val v = row.getDouble(vi)
        // baselib.py:440: emit on first tick, NaN-ness change, or
        // |x - last_emitted| >= eps
        val emit = !has || (v.isNaN != prev.isNaN) ||
          (!v.isNaN && math.abs(v - prev) >= eps)
        if (emit) { prev = v; has = true }
        emit
      }
    }(org.apache.spark.sql.Encoders.row(df.schema))
    TickStream(out)
  }

  /** csp.drop_nans (`baselib.py:457-461`). */
  def dropNans: TickStream = TickStream(df.filter(!isnan(col(VALUE))))

  /** csp.firstN (`baselib.py:301-314`). */
  def firstN(n: Int): TickStream =
    TickStream(df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn"))

  /** csp.times / times_ns (`baselib.py:744-757`): tick timestamps as the
    * value (epoch micros; nanos if a tsNanos column is present). */
  def times(as: String = "time_us"): TickStream =
    TickStream(df.withColumn(as, unix_micros(col(TS))))

  // ---- multi-stream (§2.3/§2.4) -------------------------------------------

  /** csp.merge (`baselib.py:370-376`): union two streams; left-wins is
    * resolved PER ENGINE CYCLE, not per timestamp (reference C++
    * baselibimpl.cpp:167-186 + Execution-Modes.md duplicate timestamps):
    * same-ts ticks on one edge are separate cycles, so if the right stream
    * ticks twice at one ts and the left once, the left wins only its own
    * cycle — the right's second cycle still emits. Cycle = within-(key, ts)
    * ordinal of each input stream. */
  def merge(other: TickStream): TickStream = {
    // per-stream cycle ordinal computed AFTER the union behind one
    // repartition(key) (see AsOf.cycleOrdPostUnion): branch-side cycle
    // windows would shuffle each input separately before the tie window
    // shuffled the union again — this plans ONE Exchange total
    val l = df.withColumn("__pri", lit(0))
    val r = other.df.withColumn("__pri", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
      .repartition(col(KEY))
      .withColumn("__c",
        row_number().over(Window.partitionBy(col(KEY), col(TS), col("__pri")).orderBy(SEQ)) - 1)
    val wTie = Window.partitionBy(col(KEY), col(TS), col("__c"))
    TickStream(u.withColumn("__minPri", min(col("__pri")).over(wTie))
      .filter(col("__pri") === col("__minPri"))
      .drop("__pri", "__minPri", "__c"))
  }

  /** csp.split (`baselib.py:379-389`): route to (true, false) streams. */
  def split(flag: Column): (TickStream, TickStream) =
    (TickStream(df.filter(flag)), TickStream(df.filter(!flag || flag.isNull)))

  /** csp.unroll (`baselib.py:464-484`): burst a list value into one tick
    * per element on consecutive engine cycles (same ts, increasing seq).
    * seq is re-derived per key to keep (ts, seq) a total order. */
  def unroll: TickStream = {
    val exploded = df
      .select(col(KEY), col(TS), col(SEQ).as("__oseq"), posexplode(col(VALUE)).as(Seq("__pos", VALUE)))
    val reseq = row_number().over(
      Window.partitionBy(KEY).orderBy(col(TS), col("__oseq"), col("__pos"))).cast(LongType) - 1
    TickStream(exploded.withColumn(SEQ, reseq).drop("__oseq", "__pos"))
  }

  /** csp.collect (`baselib.py:487-491`): all values ticking at one engine
    * time (across keys) → a single list tick. Grouping axis = ts. */
  def collectTicks: TickStream =
    TickStream(df.groupBy(col(TS))
      .agg(array_sort(collect_list(struct(col(KEY), col(SEQ), col(VALUE)))).as("__items"))
      .select(lit("collect").as(KEY), col(TS), lit(0L).as(SEQ),
        transform(col("__items"), x => x(VALUE)).as(VALUE)))

  /** csp.demultiplex with static/dynamic keys (`baselib.py:583-604`):
    * routing by key is Spark's native partitioning — a filter. */
  def demultiplex(key: String): TickStream = TickStream(df.filter(col(KEY) === key))

  /** csp.default (`baselib.py:525-532`): inject `v` at `at` unless the
    * stream already ticks at (or before) that time. The injected literal is
    * cast to the STREAM's value type (a Double default on an Int stream
    * must not silently widen the whole stream). */
  def defaultValue(v: Any, at: String): TickStream = {
    val start = java.sql.Timestamp.valueOf(at.replace("T", " "))
    val vType = df.schema(VALUE).dataType
    val keys = df.select(KEY).distinct()
    val injected = keys.select(col(KEY), lit(start).as(TS), lit(-1L).as(SEQ),
      lit(v).cast(vType).as(VALUE))
    val u = df.select(col(KEY), col(TS), col(SEQ), col(VALUE))
      .unionByName(injected)
    // drop the injected row for keys whose first real tick is at <= start
    val first = Window.partitionBy(KEY)
    TickStream(u
      .withColumn("__minTs", min(when(col(SEQ) =!= -1L, col(TS))).over(first))
      .filter(col(SEQ) =!= -1L || col("__minTs").isNull || col("__minTs") > lit(start))
      .drop("__minTs"))
  }

  // SEQ carries stream-level metadata (the declared buffering policy);
  // any op that REBUILDS the SEQ column must re-attach it or downstream
  // history requests would silently bypass the declared retention.
  private def seqMeta: org.apache.spark.sql.types.Metadata = df.schema(SEQ).metadata

  /** Assign a fresh dense per-key seq in (ts, seq) order. */
  def resequence: TickStream =
    TickStream(df.withColumn(SEQ,
      (row_number().over(w).cast(LongType) - 1).as(SEQ, seqMeta)))

  /** [[resequence]] over an explicit partition key — for streams whose KEY
    * was just set to a literal (e.g. flatten): a foldable key would be
    * stripped by Spark 4's EliminateWindowPartitions, leaving an
    * UNDECLARED single-partition window. Callers pass a non-foldable
    * constant (e.g. `pmod(col(SEQ), lit(1L))`) to DECLARE the
    * single-partition semantic instead. */
  def resequenceBy(partition: Column): TickStream =
    TickStream(df.withColumn(SEQ, (row_number()
      .over(Window.partitionBy(partition).orderBy(col(TS), col(SEQ)))
      .cast(LongType) - 1).as(SEQ, seqMeta)))

  // ---- history access (reference builtin_functions.py:105-269, buffers
  // TimeSeries.h:63) — csp's value_at/values_at over the per-edge history
  // buffer map to lag / bounded collect_list: the "buffer" is the window
  // frame, sized by the request instead of a global ring buffer. ----

  private val PolicyKey = "graft.bufferPolicy.tickCount"

  /** csp.set_buffering_policy(ts, tick_count)
    * (`impl/builtin_functions.py:271-283`): declare how much history this
    * edge retains. The batch engine retains FULL history by construction
    * (the window frame is the buffer), so the policy's runtime effect
    * here is the csp-compatibility contract: a declared policy makes
    * deeper history requests FAIL — exactly the error a csp node hits
    * when its buffer was sized too small — instead of silently working in
    * batch and then failing on the realtime engine. Streaming twin: the
    * per-key state vectors of the StatefulOps steps are bounded by the
    * same request sizes. Carried as column metadata, so it survives the
    * operator chain. */
  def withBufferPolicy(tickCount: Int): TickStream = {
    require(tickCount >= 1, "tick_count must be >= 1")
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(df.schema(SEQ).metadata).putLong(PolicyKey, tickCount.toLong).build()
    TickStream(df.withColumn(SEQ, col(SEQ).as(SEQ, md)))
  }

  /** Declared retention, if a buffering policy was set upstream. */
  def bufferPolicy: Option[Long] = {
    val m = df.schema(SEQ).metadata
    if (m.contains(PolicyKey)) Some(m.getLong(PolicyKey)) else None
  }

  private def requireWithinPolicy(needed: Int): Unit =
    bufferPolicy.foreach(p => require(needed <= p,
      s"history request needs $needed ticks but the declared buffering " +
        s"policy retains only $p (csp: raise set_buffering_policy tick_count)"))

  /** csp.value_at(x, index): value `n` ticks ago (0 = current).
    * `default` fills when fewer than n+1 ticks exist (csp raises without
    * one; the batch twin yields null — a whole run cannot abort on the
    * warm-up rows every stream has). */
  def valueAt(n: Int, as: String = "value_at",
              default: Option[Column] = None): TickStream = {
    requireWithinPolicy(n + 1)
    val v = lag(VALUE, n).over(w)
    TickStream(df.withColumn(as, default.fold(v)(d => coalesce(v, d))))
  }

  // ---- time-offset history access (builtin_functions.py:105-269;
  // TimeSeries.h getValueIndex/getValueIndexRange:315-400). The reference
  // resolves `value_at(x, timedelta)` with a binary search over the ring
  // buffer; here the "search" is a RANGE window frame ending at
  // ts + delta — the matched tick is the frame's max (ts, seq) struct,
  // one window pass, no self-join. Duplicate-timestamp rules follow the
  // C++ engine (TimeSeries.h:118-127), which overrides the python
  // docstring where they disagree:
  //   LAST_VALUE  -> chronologically-last tick with ts <= target;
  //   FIRST_VALUE -> the FIRST tick at the matched timestamp when it
  //                  equals the target EXACTLY, else same as LAST (the
  //                  documented "slightly counter intuitive" case). ----

  /** Matched-tick struct (t: epoch µs, v: value-under-policy) at
    * ts + deltaMicros, null when no tick is old enough. */
  private def matchedAtTime(deltaMicros: Long, duplicatePolicy: String): (DataFrame, Column) = {
    require(deltaMicros <= 0, s"time offset must be non-positive, got $deltaMicros µs")
    require(Seq("last", "first").contains(duplicatePolicy),
      s"unknown duplicate_policy '$duplicatePolicy' (last|first)")
    val t = unix_micros(col(TS))
    // deltaMicros < 0: a RANGE frame ending at ts + delta — peers at the
    // CURRENT timestamp can never reach a strictly-past target, so range
    // peer-inclusion is harmless. deltaMicros == 0: the target IS the
    // current timestamp, where csp's buffer holds only ticks up to the
    // current engine cycle — the ROWS frame is the cycle-accurate one.
    val frame =
      if (deltaMicros == 0) w.rowsBetween(Window.unboundedPreceding, 0)
      else Window.partitionBy(KEY).orderBy(t)
        .rangeBetween(Window.unboundedPreceding, deltaMicros)
    if (duplicatePolicy == "last") {
      // (t, seq) is unique per key, so max(struct) IS the latest tick
      val m = max(struct(t.as("t"), col(SEQ).as("s"), col(VALUE).as("v"))).over(frame)
      (df, when(m.isNotNull, struct(m.getField("t").as("t"), m.getField("v").as("v"))))
    } else {
      // carry each tick's first-value-at-its-timestamp so the frame max
      // can answer the exact-match case without a second frame pass
      val firstAtTs = min(struct(col(SEQ).as("s"), col(VALUE).as("v")))
        .over(Window.partitionBy(KEY, TS)).getField("v")
      val df2 = df.withColumn("__fts", firstAtTs)
      val m = max(struct(t.as("t"), col(SEQ).as("s"), col(VALUE).as("v"),
        col("__fts").as("f"))).over(frame)
      val v = when(m.getField("t") === t + lit(deltaMicros), m.getField("f"))
        .otherwise(m.getField("v"))
      (df2, when(m.isNotNull, struct(m.getField("t").as("t"), v.as("v"))))
    }
  }

  /** csp.value_at(x, timedelta, duplicate_policy=, default=): the value in
    * effect `-delta` ago (delta ≤ 0, µs). Null when the stream is younger
    * than the offset, unless `default` fills it. */
  def valueAtTime(deltaMicros: Long, as: String = "value_at",
                  duplicatePolicy: String = "last",
                  default: Option[Column] = None): TickStream = {
    val (d, m) = matchedAtTime(deltaMicros, duplicatePolicy)
    val v = m.getField("v")
    TickStream(d.withColumn(as, default.fold(v)(dv => coalesce(v, dv))).drop("__fts"))
  }

  /** csp.time_at(x, timedelta): the matched tick's time (epoch µs). */
  def timeAtTime(deltaMicros: Long, as: String = "time_at",
                 duplicatePolicy: String = "last",
                 default: Option[Column] = None): TickStream = {
    val (d, m) = matchedAtTime(deltaMicros, duplicatePolicy)
    val t = m.getField("t")
    TickStream(d.withColumn(as, default.fold(t)(dv => coalesce(t, dv))).drop("__fts"))
  }

  /** csp.item_at(x, timedelta): (t, v) struct — one frame pass, same
    * "the same but faster" contract as items_at. */
  def itemAtTime(deltaMicros: Long, as: String = "item_at",
                 duplicatePolicy: String = "last"): TickStream = {
    val (d, m) = matchedAtTime(deltaMicros, duplicatePolicy)
    TickStream(d.withColumn(as, m).drop("__fts"))
  }

  /** csp.value_at(x, datetime): the value in effect at a FIXED time,
    * evaluated at each tick as min(fixed, now) — before `fixed`, the
    * answer tracks the running last value; after it, it freezes. */
  def valueAtDatetime(atMicros: Long, as: String = "value_at",
                      default: Option[Column] = None): TickStream = {
    val t = unix_micros(col(TS))
    // conditional aggregate over the full history frame: ticks with
    // ts <= fixed, among ticks <= now (the ROWS frame)
    val m = max(when(t <= lit(atMicros), struct(t.as("t"), col(SEQ).as("s"),
      col(VALUE).as("v")))).over(w.rowsBetween(Window.unboundedPreceding, 0))
    val v = m.getField("v")
    TickStream(df.withColumn(as, default.fold(v)(dv => coalesce(v, dv))))
  }

  /** csp.time_at(x, index): time (epoch µs) `n` ticks ago. */
  def timeAt(n: Int, as: String = "time_at",
             default: Option[Column] = None): TickStream = {
    requireWithinPolicy(n + 1)
    val t = lag(unix_micros(col(TS)), n).over(w)
    TickStream(df.withColumn(as, default.fold(t)(d => coalesce(t, d))))
  }

  /** csp.item_at(x, index): (t, v) of the tick `n` back — one lag of a
    * struct, the "same but faster" contract. */
  def itemAt(n: Int, as: String = "item_at"): TickStream = {
    requireWithinPolicy(n + 1)
    TickStream(df.withColumn(as,
      lag(struct(unix_micros(col(TS)).as("t"), col(VALUE).as("v")), n).over(w)))
  }

  /** csp.values_at(x): last `n` values (oldest→newest) as a list. */
  def valuesAt(n: Int, as: String = "values_at"): TickStream = {
    requireWithinPolicy(n)
    TickStream(df.withColumn(as, collect_list(col(VALUE)).over(wRows(n))))
  }

  /** csp.times_at over the same frame: matching tick times (epoch µs). */
  def timesAt(n: Int, as: String = "times_at"): TickStream = {
    requireWithinPolicy(n)
    TickStream(df.withColumn(as, collect_list(unix_micros(col(TS))).over(wRows(n))))
  }

  /** csp.items_at (`impl/builtin_functions.py:243-268`): times AND values
    * of the last `n` ticks together — ONE window collect of (t, v)
    * structs instead of the two passes `times_at` + `values_at` would
    * cost (the reference offers it as "the same but faster" for exactly
    * this reason). */
  def itemsAt(n: Int, as: String = "items_at"): TickStream = {
    requireWithinPolicy(n)
    TickStream(df.withColumn(as, collect_list(
      struct(unix_micros(col(TS)).as("t"), col(VALUE).as("v"))).over(wRows(n))))
  }

  // ---- range history access (builtin_functions.py:196-269;
  // PyInputProxy.cpp computeStartIndex/computeEndIndex:175-235,
  // NumpyConversions.h adjustStartAndEndTime:173-192). values_at/
  // times_at/items_at with a [now+start, now+end] TIME window and
  // TimeIndexPolicy per boundary:
  //   INCLUSIVE    — ticks at the boundary time are in;
  //   EXCLUSIVE    — strictly inside the boundary;
  //   EXTRAPOLATE  — start: the LAST tick at-or-before the boundary is
  //                  prepended (LAST_VALUE dup rule) with its reported
  //                  time clamped UP to the boundary; end: when no tick
  //                  sits exactly at the boundary, the value in effect
  //                  there is appended, stamped at the boundary (the
  //                  reference's csp.const window test yields [5, 5]
  //                  with times [start, end] exactly this way). ----

  private val RangeMemoPrefix = "__g_ritems_"

  private def rangeMemoName(sd: Option[Long], e: Long): String =
    s"$RangeMemoPrefix${sd.fold("u")(_.toString)}_$e"

  private def parseRangeMemo(name: String): Option[(String, Option[Long], Long)] =
    name.stripPrefix(RangeMemoPrefix).split('_') match {
      case Array(sdTok, eTok) =>
        val sd = if (sdTok == "u") None else Some(sdTok.toLong)
        Some((name, sd, eTok.toLong))
      case _ => None
    }

  /** The raw sorted (t, s, v) list over the [now+sd, now+e] range frame —
    * MEMOIZED as a hidden `__g_ritems_*` column (same discipline as
    * Stats.Rolling's `__g_*` sums: WindowExec keeps one list buffer per
    * named collect, so four stacked range-history calls would maintain
    * four per-row lists over the same sorted partition). A later call
    * whose frame is COVERED by an existing memo derives its list with a
    * codegen'd array filter instead of a new window collect; call the
    * widest frame first and a whole policy matrix shares ONE collect. */
  private def rawRangeList(sd: Option[Long], e: Long): (DataFrame, Column) = {
    val t = unix_micros(col(TS))
    val covering = df.columns.filter(_.startsWith(RangeMemoPrefix))
      .flatMap(parseRangeMemo)
      .filter { case (_, mSd, mE) =>
        (mSd.isEmpty || (sd.isDefined && mSd.get <= sd.get)) && mE >= e }
    if (covering.nonEmpty) {
      // narrowest cover wins (least filtering; exact match scores 0)
      val (name, mSd, mE) = covering.minBy { case (_, mSd, mE) =>
        (mE - e).toDouble + (mSd match {
          case None => if (sd.isEmpty) 0.0 else 1e18
          case Some(ms) => (sd.get - ms).toDouble
        })
      }
      val needStart = sd.isDefined && mSd.forall(_ < sd.get)
      val needEnd = mE > e
      val narrowed =
        if (!needStart && !needEnd) col(name)
        else filter(col(name), x => {
          val s = if (needStart) x("t") >= t + lit(sd.get) else lit(true)
          val en = if (needEnd) x("t") <= t + lit(e) else lit(true)
          s && en
        })
      (df, narrowed)
    } else {
      val tickStruct = struct(t.as("t"), col(SEQ).as("s"), col(VALUE).as("v"))
      val frame = Window.partitionBy(KEY).orderBy(t)
        .rangeBetween(sd.getOrElse(Window.unboundedPreceding), e)
      // array_sort orders dup-timestamp ticks by cycle (t, then seq) —
      // collect_list's intra-frame order is not guaranteed for ties.
      // coalesce: an EMPTY frame yields null from the window aggregate —
      // the API contract is an empty list, like the reference's ndarray
      val emptyTyped = filter(array(tickStruct), _ => lit(false))
      val raw = coalesce(array_sort(collect_list(tickStruct).over(frame)), emptyTyped)
      val name = rangeMemoName(sd, e)
      (df.withColumn(name, raw), col(name))
    }
  }

  /** The (t: epoch µs, s, v) structs of the requested range, ascending.
    * One (memoized) window collect + higher-order filters — the policy
    * algebra runs per row inside codegen'd array expressions, not extra
    * frames. Returns the df too: the memo column may have been added. */
  private def rangeItems(startDeltaMicros: Option[Long], endDeltaMicros: Option[Long],
                         startPolicy: String, endPolicy: String): (DataFrame, Column) = {
    val pols = Seq("inclusive", "exclusive", "extrapolate")
    require(pols.contains(startPolicy) && pols.contains(endPolicy),
      s"unknown TimeIndexPolicy ($startPolicy/$endPolicy); one of $pols")
    val e = endDeltaMicros.getOrElse(0L)
    require(e <= 0, s"end offset must be non-positive, got $e")
    startDeltaMicros.foreach(sd => require(sd <= e,
      s"start offset $sd must come before end offset $e"))
    val t = unix_micros(col(TS))
    // The collect frame is BOUNDED below at the window start (None =
    // from the beginning, the semantic ask): an unbounded frame would
    // carry the whole per-key history in every row's list — O(n²) per
    // key, measured 43 s vs ~1 s at sf0.1. The EXTRAPOLATE prefix (one
    // tick from before the window) comes from a SEPARATE O(1)
    // max-struct aggregate, never a list.
    val tickStruct = struct(t.as("t"), col(SEQ).as("s"), col(VALUE).as("v"))
    val emptyTyped = filter(array(tickStruct), _ => lit(false))
    val (d, lst0) = rawRangeList(startDeltaMicros, e)
    // e == 0: the window end is the CURRENT cycle — range frames include
    // ALL peers at the current timestamp, so later same-ts cycles must
    // be filtered out by (t, seq) for engine parity
    val lst =
      if (e == 0) filter(lst0, x => x("t") < t || (x("t") === t && x("s") <= col(SEQ)))
      else lst0
    val endT = t + lit(e)
    val endKept = endPolicy match {
      case "exclusive" => filter(lst, x => x("t") < endT)
      case _ => lst // the frame itself ends at-or-before endT
    }
    val withStart = startDeltaMicros match {
      case None => endKept // "from the start"
      case Some(sd) =>
        val startT = t + lit(sd)
        startPolicy match {
          case "inclusive" => endKept // the frame starts at startT
          case "exclusive" => filter(endKept, x => x("t") > startT)
          case "extrapolate" =>
            // the value in effect AT the window start: last tick with
            // ts <= startT (LAST_VALUE dup rule), time clamped up —
            // a constant-size aggregate over (unbounded, startT]
            val beforeFrame = Window.partitionBy(KEY).orderBy(t)
              .rangeBetween(Window.unboundedPreceding, sd)
            val bm0 = max(tickStruct).over(beforeFrame)
            // sd == 0: the boundary IS the current cycle — restrict the
            // candidates to this cycle via the already-filtered list
            val bm = if (sd == 0) element_at(filter(lst, x => x("t") <= startT), -1) else bm0
            val prefixOk =
              if (endPolicy == "exclusive") bm.isNotNull && greatest(bm("t"), startT) < endT
              else bm.isNotNull
            val prefix = when(prefixOk,
              array(struct(greatest(bm("t"), startT).as("t"),
                bm("s").as("s"), bm("v").as("v"))))
              .otherwise(emptyTyped)
            concat(prefix, filter(endKept, x => x("t") > startT))
        }
    }
    val items =
      if (endPolicy == "extrapolate") {
        val lastE = element_at(withStart, -1)
        when(size(withStart) > 0 && lastE("t") < endT,
          concat(withStart, array(struct(endT.as("t"), lastE("s").as("s"), lastE("v").as("v")))))
          .otherwise(withStart)
      } else withStart
    // memoize the POLICY-APPLIED list as well: values_at + times_at over
    // the same (frame, policies) — the reference's items_at "same but
    // faster" pattern — must not evaluate the policy algebra twice
    // (ProjectExec does not reliably share these big array expressions
    // across output columns; measured ~0.45 s per extra EXTRAPOLATE
    // evaluation at sf0.1)
    val pName = s"$RangeMemoPrefix${startDeltaMicros.fold("u")(_.toString)}_${e}_" +
      s"${startPolicy.take(3)}_${endPolicy.take(3)}" // exc / ext / inc
    if (d.columns.contains(pName)) (d, col(pName))
    else (d.withColumn(pName, items), col(pName))
  }

  /** Drop the hidden range-history memo columns ([[rawRangeList]]) —
    * queries that `select` explicit output columns never see them; call
    * this when handing the raw df on. */
  def dropRangeMemo: TickStream = TickStream(
    df.drop(df.columns.filter(_.startsWith(RangeMemoPrefix)).toSeq: _*))

  /** csp.values_at(x, start, end, start_policy, end_policy) over a TIME
    * range (offsets in µs ≤ 0; None start = from the beginning, None
    * end = through the current cycle). Stacked calls share one window
    * collect when the widest frame is requested first ([[rawRangeList]]). */
  def valuesAtRange(startDeltaMicros: Option[Long], endDeltaMicros: Option[Long],
                    startPolicy: String = "inclusive", endPolicy: String = "inclusive",
                    as: String = "values_at"): TickStream = {
    val (d, items) = rangeItems(startDeltaMicros, endDeltaMicros, startPolicy, endPolicy)
    TickStream(d.withColumn(as, transform(items, _("v"))))
  }

  /** csp.times_at over the same range — epoch µs, boundary-clamped under
    * EXTRAPOLATE exactly as the reference reports them. */
  def timesAtRange(startDeltaMicros: Option[Long], endDeltaMicros: Option[Long],
                   startPolicy: String = "inclusive", endPolicy: String = "inclusive",
                   as: String = "times_at"): TickStream = {
    val (d, items) = rangeItems(startDeltaMicros, endDeltaMicros, startPolicy, endPolicy)
    TickStream(d.withColumn(as, transform(items, _("t"))))
  }

  /** csp.items_at over the same range — (t, v) structs, one pass. */
  def itemsAtRange(startDeltaMicros: Option[Long], endDeltaMicros: Option[Long],
                   startPolicy: String = "inclusive", endPolicy: String = "inclusive",
                   as: String = "items_at"): TickStream = {
    val (d, items) = rangeItems(startDeltaMicros, endDeltaMicros, startPolicy, endPolicy)
    TickStream(d.withColumn(as, transform(items,
      x => struct(x("t").as("t"), x("v").as("v")))))
  }

  /** csp.values_at(x, startIdx, endIdx) by TICK index (both ≤ 0; e.g.
    * (-3, -1) = third-last through last-but-one), ascending. */
  def valuesAtIndexRange(startIdx: Int, endIdx: Int, as: String = "values_at"): TickStream = {
    require(startIdx <= endIdx && endIdx <= 0, s"bad index range [$startIdx, $endIdx]")
    requireWithinPolicy(-startIdx + 1)
    TickStream(df.withColumn(as,
      collect_list(col(VALUE)).over(w.rowsBetween(startIdx, endIdx))))
  }

  // ---- struct ops (§2.3) ----

  /** csp.struct_field (`baselib.py:676-681`): project a struct field,
    * ticking only when it is set. */
  def structField(field: String, as: String = VALUE): TickStream =
    TickStream(df.withColumn(as, col(s"$VALUE.$field"))
      .filter(col(as).isNotNull))

  /** csp.exprtk (`baselib.py:625-673`): string math expressions over the
    * tick — Catalyst IS the expression compiler (SURVEY §2.10). */
  def evalExpr(sqlExpr: String, as: String): TickStream =
    TickStream(df.withColumn(as, expr(sqlExpr)))

  /** Struct.to_json (reference `PyStructToJson.cpp` / struct.py to_yaml):
    * serialize a struct-valued stream — Spark's native to_json. */
  def toJson(as: String = VALUE): TickStream =
    TickStream(df.withColumn(as, to_json(col(VALUE))))

  /** Struct.to_yaml (reference `csp/impl/struct.py:312-315`): block-style
    * YAML of the struct-valued stream, schema-driven at plan time —
    * nested structs indent, arrays emit `- item` lines, strings are
    * double-quoted (valid YAML for any loader; the reference's ruamel
    * dump differs only in quoting style). All codegen'd string
    * expressions, no UDF. */
  def toYaml(as: String = VALUE): TickStream = {
    val dt = df.schema(VALUE).dataType
    TickStream(df.withColumn(as,
      concat(TickStream.yamlOf(col(VALUE), dt, 0), lit("\n"))))
  }

  // ---- PushMode shims (reference common_definitions.py:274-289;
  // Execution-Modes.md duplicate-timestamp table). Applied at a source to
  // choose how same-timestamp ticks on one edge are delivered. ----

  /** PushMode.LAST_VALUE: collapse same-(key, ts) ticks to the last. */
  def pushModeLastValue: TickStream = {
    val wTie = Window.partitionBy(KEY, TS)
    TickStream(df.withColumn("__mx", max(col(SEQ)).over(wTie))
      .filter(col(SEQ) === col("__mx")).drop("__mx"))
  }

  /** PushMode.NON_COLLAPSING: one engine cycle per tick (dense per-key
    * seq = cycle number — the default canonical form). */
  def pushModeNonCollapsing: TickStream = resequence

  /** Batch lowering of csp.schedule_alarm with DATA-DEPENDENT times
    * (reference `impl/builtin_functions.py:295-303`): every tick of this
    * stream schedules an alarm at `ts + delaySec` carrying `value` — both
    * Column expressions of the scheduling tick, so delay and payload can
    * depend on the data (csp's in-node `schedule_alarm(alarm, when(x),
    * f(x))`). Returns the alarm stream; merge it back into a timeline
    * with [[graft.ts.TickStream.merge]]/union (alarms at a timestamp
    * shared with a source tick deliver on a later engine cycle — their
    * seq carries the scheduling tick's seq, and resequencing puts them
    * after that cycle, matching the engine's "alarms fire after input
    * events already scheduled at that time").
    *
    * `endTime` drops alarms scheduled past the run's end, as the engine
    * does at shutdown. Streaming twin: the event-time timers of
    * `TwsOps.TimeoutProcessor` — this is the sim-replay lowering of the
    * same construct. */
  def scheduleAlarm(delaySec: Column, value: Column,
                    endTime: Option[java.sql.Timestamp] = None,
                    handleAs: Option[String] = None): TickStream = {
    val at = timestamp_micros(unix_micros(col(TS)) + (delaySec * lit(1e6)).cast(LongType))
    val alarms = df.select(col(KEY), at.as(TS), col(SEQ), value.as(VALUE))
    val withEnd = endTime.fold(alarms)(t => alarms.filter(col(TS) <= lit(t)))
    // handle = (scheduling cycle, fire time): unique per schedule_alarm
    // call even when one tick schedules several alarms at different
    // delays — the batch twin of the engine's AlarmHandle
    TickStream(handleAs.fold(withEnd)(h =>
      withEnd.withColumn(h, struct(col(SEQ).as("s"), unix_micros(col(TS)).as("t")))))
  }

  /** Batch lowering of csp.cancel_alarm (`builtin_functions.py:356-361`;
    * engine test `test_engine.py:123-215`): drop every scheduled alarm in
    * THIS stream whose handle appears in `cancels` at-or-before the
    * alarm's fire time. "At-or-before" matches the engine: an alarm
    * scheduled for NOW can still be cancelled by a node that runs in an
    * earlier cycle of the same engine time (test_engine.py:205-207
    * cancels a same-timestamp alarm). A cancel AFTER the fire time is a
    * no-op — the alarm already delivered, exactly as the engine's handle
    * becomes stale.
    *
    * `this` = alarm stream (e.g. from [[scheduleAlarm]] with `handleAs`);
    * `cancels` = ticks whose VALUE (or `handleCol`) holds the handle to
    * cancel. One anti-join on (key, handle) — broadcastable when the
    * cancel set is small, keyed-shuffle otherwise. Streaming twin:
    * `getHandle.deleteTimer` in TwsOps.TimeoutProcessor. */
  def cancelAlarms(cancels: TickStream, handleCol: String,
                   cancelHandleCol: String = VALUE): TickStream = {
    val c = cancels.df.select(col(KEY).as("__ck"),
      unix_micros(col(TS)).as("__cts"), col(cancelHandleCol).as("__ch"))
    TickStream(df.join(c,
      col(KEY) === col("__ck") && col(handleCol) === col("__ch") &&
        col("__cts") <= unix_micros(col(TS)), "left_anti"))
  }

  /** PushMode.BURST: all same-(key, ts) ticks delivered as one list. */
  def pushModeBurst: TickStream =
    TickStream(df.groupBy(col(KEY), col(TS))
      .agg(min(col(SEQ)).as(SEQ),
        transform(array_sort(collect_list(struct(col(SEQ).as("s"), col(VALUE).as("v")))),
          x => x("v")).as(VALUE)))

  /** csp.stop_engine(x) (`baselib.py:535-541`): in simulation the engine
    * halts at the first tick of x — batch twin: truncate every stream at
    * that engine time. Here: keep this stream's ticks strictly before the
    * stopper's first tick (per key; global stop = stopper keyed "*"). */
  def until(stopper: TickStream): TickStream = {
    val stopAt = stopper.df.groupBy(col(KEY))
      .agg(min(struct(col(TS), col(SEQ))).as("__stop"))
    TickStream(df.join(broadcast(stopAt), Seq(KEY), "left")
      .filter(col("__stop").isNull ||
        struct(col(TS), col(SEQ)) < col("__stop"))
      .drop("__stop"))
  }

  // ---- Edge DSL (reference `csp/impl/wiring/edge.py:33-259`, math ops
  // `csp/math.py:101-135`): arithmetic/comparison between streams goes
  // through the as-of kernel (fire on either tick once both valid);
  // scalar variants are per-tick column ops. ----

  def +(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ + _)
  def -(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ - _)
  def *(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ * _)
  def /(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ / _)
  def <(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ < _)
  def >(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ > _)
  def <=(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ <= _)
  def >=(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ >= _)
  /** csp.eq / csp.ne (`math.py:COMP_OPS`). */
  def ===(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ === _)
  def =!=(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ =!= _)
  /** csp.pow between streams (`math.py:pow`). */
  def powOf(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, pow)
  /** csp.floordiv (`math.py:floordiv`, python // semantics: floor of the
    * quotient, also for negatives). */
  def floorDiv(o: TickStream): TickStream =
    graft.operators.AsOf.binop(this, o,
      (a, b) => floor(a / b).cast(DoubleType)) // Spark floor → BIGINT; python float // float → float
  /** csp.mod (`math.py:mod`, python % semantics: result carries the
    * DIVISOR's sign — not the JVM's truncation %, and not pmod either,
    * which keeps the truncated remainder when the divisor is negative). */
  def modOf(o: TickStream): TickStream =
    graft.operators.AsOf.binop(this, o, TickStream.pythonMod)
  /** csp.min / csp.max between streams (`math.py:min,max`). */
  def minWith(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, least(_, _))
  def maxWith(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, greatest(_, _))
  /** csp.and_ / or_ / not_ (`math.py:82-95`) over boolean streams. */
  def and(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ && _)
  def or(o: TickStream): TickStream = graft.operators.AsOf.binop(this, o, _ || _)
  def not: TickStream = mapValue(!_)

  def +(c: Double): TickStream = mapValue(_ + c)
  def -(c: Double): TickStream = mapValue(_ - c)
  def *(c: Double): TickStream = mapValue(_ * c)
  def /(c: Double): TickStream = mapValue(_ / c)
  def <(c: Double): TickStream = mapValue(_ < c)
  def >(c: Double): TickStream = mapValue(_ > c)
  def <=(c: Double): TickStream = mapValue(_ <= c)
  def >=(c: Double): TickStream = mapValue(_ >= c)
  def unary_- : TickStream = mapValue(v => -v)
  def absTicks: TickStream = mapValue(abs)
  def ln: TickStream = mapValue(log(_))
  def expTicks: TickStream = mapValue(exp)
  def sqrtTicks: TickStream = mapValue(sqrt)
  def powTicks(p: Double): TickStream = mapValue(pow(_, p))
  def floorDiv(c: Double): TickStream = mapValue(v => floor(v / c).cast(DoubleType))
  def modOf(c: Double): TickStream = mapValue(TickStream.pythonMod(_, lit(c)))
  /** Unary tail of `math.py:MATH_OPS` — all map to codegen'd built-ins. */
  def log2Ticks: TickStream = mapValue(log2)
  def log10Ticks: TickStream = mapValue(log10)
  def exp2Ticks: TickStream = mapValue(pow(lit(2.0), _))
  def sinTicks: TickStream = mapValue(sin)
  def cosTicks: TickStream = mapValue(cos)
  def tanTicks: TickStream = mapValue(tan)
  def asinTicks: TickStream = mapValue(asin)
  def acosTicks: TickStream = mapValue(acos)
  def atanTicks: TickStream = mapValue(atan)
  def sinhTicks: TickStream = mapValue(sinh)
  def coshTicks: TickStream = mapValue(cosh)
  def tanhTicks: TickStream = mapValue(tanh)
  def asinhTicks: TickStream = mapValue(asinh)
  def acoshTicks: TickStream = mapValue(acosh)
  def atanhTicks: TickStream = mapValue(atanh)
  /** csp.bitwise_not (`math.py:62`) over integer streams. */
  def bitNot: TickStream = mapValue(bitwise_not)
  /** csp.erf (`math.py:erf`): Abramowitz–Stegun 7.1.26 rational
    * approximation in pure Column arithmetic (|err| ≤ 1.5e-7) — stays
    * inside whole-stage codegen; the JVM has no native erf. */
  def erfTicks: TickStream = mapValue { x =>
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * abs(x))
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t + lit(1.421413741)) * t
      - lit(0.284496736)) * t + lit(0.254829592)) * t
    signum(x) * (lit(1.0) - poly * exp(-x * x))
  }

  /** Collect to the golden-test shape `Seq[(Instant-like ts, value)]` the
    * reference's csp.run returns (`csp/impl/wiring/runtime.py:160-221`). */
  def run(): Seq[(java.sql.Timestamp, Any)] = {
    val out = df.orderBy(TS, SEQ).select(TS, VALUE).collect()
      .map(r => (r.getTimestamp(0), r.get(1))).toSeq
    graft.util.Caching.release() // drop any operator persist-barriers
    out
  }
}

object TickStream {
  /** Python `%`: remainder with the divisor's sign (math.py mod). */
  private[ts] def pythonMod(a: Column, b: Column): Column = {
    val r = a % b
    when(r =!= 0 && signum(r) =!= signum(b), r + b).otherwise(r)
  }

  /** YAML scalar: strings double-quoted with escapes, null → `null`,
    * timestamps ISO, everything else via string cast. */
  private def yamlScalar(c: Column, dt: DataType): Column = {
    val s = dt match {
      case StringType => concat(lit("\""),
        regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\""), lit("\""))
      case TimestampType => concat(lit("\""),
        date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit("\""))
      case _ => c.cast(StringType)
    }
    coalesce(s, lit("null"))
  }

  /** Schema-driven block-style YAML (see [[TickStream.toYaml]]). */
  private[ts] def yamlOf(c: Column, dt: DataType, indent: Int): Column = dt match {
    case st: StructType =>
      val pad = "  " * indent
      val fieldLines = st.fields.map { f =>
        val fc = c.getField(f.name)
        f.dataType match {
          case s2: StructType =>
            when(fc.isNull, lit(s"$pad${f.name}: null"))
              .otherwise(concat(lit(s"$pad${f.name}:\n"), yamlOf(fc, s2, indent + 1)))
          case ArrayType(et, _) =>
            when(fc.isNull, lit(s"$pad${f.name}: null"))
              .when(size(fc) === 0, lit(s"$pad${f.name}: []"))
              .otherwise(concat(lit(s"$pad${f.name}:\n"), array_join(
                transform(fc, x => concat(lit(s"$pad- "), yamlScalar(x, et))), "\n")))
          case other =>
            concat(lit(s"$pad${f.name}: "), yamlScalar(fc, other))
        }
      }
      concat_ws("\n", fieldLines.toSeq: _*)
    case other => yamlScalar(c, other)
  }
}
